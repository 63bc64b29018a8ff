"""Query registry: every SURVEY.md §2 operator as a (Spark query, DuckDB
oracle SQL) pair for the driver's correctness harness.

Contracts this file enforces everywhere:

- every computed column is aliased identically in the Spark plan and the
  oracle SQL (the harness sorts columns by name before value-hashing);
- double aggregates are rounded (ROUND(x, 2..6)) on BOTH sides so summation
  order can never flip a hash;
- anything pseudo-random is md5-derived from data (operators/sampling.py),
  so the oracle reproduces it exactly;
- oracle SQL for hash-heavy operators (minhash, simhash, LSH, mock-LLM
  pipeline) is *generated from the same Python constants* as the Spark
  expressions — parity by construction, not by hand-sync.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from instructionspipe_spark.catalog import load_tables
from instructionspipe_spark import operators as ops
from instructionspipe_spark import functions as fns
from instructionspipe_spark.operators.dedup import _perm_constants, _MOD

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

# Persist tracking lives in session.py (import-cycle-free) so operators can
# use it too; re-exported here because harnesses import it from the registry.
from instructionspipe_spark.session import managed_persist, release_persisted  # noqa: F401,E402


def query(name: str, oracle: str | None = None):
    import functools

    def deco(fn: QueryFn) -> QueryFn:
        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # Any prior query's action has completed by the time the next
            # query is built, so its tracked caches are safe to drop.
            release_persisted()
            return fn(spark, sf_dir)

        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return wrapped

    return deco


def _t(spark: SparkSession, sf_dir: str, *names: str):
    tables = load_tables(spark, sf_dir, names or None)
    return [tables[n] for n in names]


# ---------------------------------------------------------------------------
# §2.4 Aggregations — TPC-H-shaped (the SQL surface the judge harness needs)
# ---------------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(25,6))), 2) AS DOUBLE)      AS sum_qty,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(25,6))), 2) AS DOUBLE) AS sum_base_price,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))), 2) AS DOUBLE) AS sum_disc_price,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(25,6))), 2) AS DOUBLE) AS sum_charge,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) / COUNT(1), 4)      AS avg_qty,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) / COUNT(1), 4) AS avg_price,
           ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(25,6))) AS DOUBLE) / COUNT(1), 4)      AS avg_disc,
           COUNT(*)                                                     AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-side filter (pushed to parquet), map-side partial
    agg, single shuffle on the 4-group key."""
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # Decimal sums: double summation is shuffle-fetch-order dependent
            # run to run; exact decimal accumulation is not. Source values
            # are <=2-decimal, so DECIMAL(25,6) casts are exact and identical
            # in Spark and DuckDB.
            F.round(F.sum(F.col("l_quantity").cast("decimal(25,6)")), 2).cast("double").alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(25,6)")), 2).cast("double").alias("sum_base_price"),
            F.round(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(25,6)")), 2
            ).cast("double").alias("sum_disc_price"),
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))).cast("decimal(25,6)")
                ),
                2,
            ).cast("double").alias("sum_charge"),
            F.round(F.sum(F.col("l_quantity").cast("decimal(25,6)")).cast("double") / F.count(F.lit(1)), 4).alias("avg_qty"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(25,6)")).cast("double") / F.count(F.lit(1)), 4).alias("avg_price"),
            F.round(F.sum(F.col("l_discount").cast("decimal(25,6)")).cast("double") / F.count(F.lit(1)), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q3_top_orders",
    oracle="""
    SELECT l.l_orderkey AS orderkey,
           CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(25,6))), 2) AS DOUBLE) AS revenue,
           o.o_orderdate AS orderdate
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, orderkey ASC
    LIMIT 10
    """,
)
def q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter -> two joins -> agg -> top-k.
    The filtered customer⋈orders side is the SMALL side: broadcast it and
    stream lineitem (left unhinted, Catalyst happily broadcasts the whole
    fact table when it fits the threshold at test scale — exactly backwards
    at 100 TB, and ~40% slower even at sf0.1). Top-k executes as
    TakeOrdered, no full sort."""
    from instructionspipe_spark.session import broadcast_if_small

    customer, orders, lineitem = _t(spark, sf_dir, "customer", "orders", "lineitem")
    building = customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    small = orders.join(
        broadcast_if_small(building), F.col("c_custkey") == F.col("o_custkey")
    ).select("o_orderkey", "o_orderdate")
    return (
        lineitem.join(broadcast_if_small(small), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("l_orderkey").alias("orderkey"), F.col("o_orderdate").alias("orderdate"))
        .agg(
            F.round(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(25,6)")), 2
            ).cast("double").alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("orderkey"))
        .limit(10)
        .select("orderkey", "revenue", "orderdate")
    )


@query(
    "q5_nation_revenue",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(25,6))), 2) AS DOUBLE) AS revenue
    FROM region r
    JOIN nation n   ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
)
def q5_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: star join. The orders fact streams against the
    broadcast ASIA-customer dim set, then the lineitem fact streams against
    the reduced (o_orderkey, n_name) side — both via the stats-aware
    ``broadcast_if_small`` hint, which silently degrades to the plain plan
    over the scale-up and lets AQE decide. Unhinted at test scale, Catalyst
    builds hash relations from the RAW orders and lineitem scans instead —
    backwards at 100 TB, where no fact table fits a broadcast."""
    from instructionspipe_spark.session import broadcast_if_small

    region, nation, customer, orders, lineitem = _t(
        spark, sf_dir, "region", "nation", "customer", "orders", "lineitem"
    )
    dims = (
        F.broadcast(region.filter(F.col("r_name") == "ASIA"))
        .join(nation, F.col("n_regionkey") == F.col("r_regionkey"))
        .join(customer, F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", "n_name")
    )
    small = orders.join(
        broadcast_if_small(dims), F.col("o_custkey") == F.col("c_custkey")
    ).select("o_orderkey", "n_name")
    return (
        lineitem.join(broadcast_if_small(small), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(25,6)")), 2
            ).cast("double").alias("revenue")
        )
    )


@query(
    "agg_rollup",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(25,6))), 2) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup (SURVEY.md §2.4 'required by harness' group)."""
    (orders,) = _t(spark, sf_dir, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(25,6)")), 2).cast("double").alias("total_price"),
    )


@query(
    "agg_distinct",
    oracle="""
    SELECT o_orderstatus,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(DISTINCT o_orderpriority) AS n_priorities,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct("o_orderpriority").alias("n_priorities"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# §2.5 Joins
# ---------------------------------------------------------------------------


@query(
    "join_dims_broadcast",
    oracle="""
    SELECT r.r_name AS region, n.n_name AS nation, COUNT(*) AS n_customers,
           CAST(ROUND(SUM(CAST(c.c_acctbal AS DECIMAL(25,6))), 2) AS DOUBLE)
               AS total_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
)
def join_dims_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-dim star join (J2 analog: lookup by key against a small
    config/dim table)."""
    customer, nation, region = _t(spark, sf_dir, "customer", "nation", "region")
    return (
        customer.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(25,6)")), 2)
            .cast("double")
            .alias("total_acctbal"),
        )
    )


@query(
    "join_semi_anti",
    oracle="""
    WITH with_orders AS (
        SELECT COUNT(*) AS n FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    ),
    without_orders AS (
        SELECT COUNT(*) AS n FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    )
    SELECT (SELECT n FROM with_orders) AS n_with_orders,
           (SELECT n FROM without_orders) AS n_without_orders
    """,
)
def join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi + left-anti joins (the cache-protocol join primitives, J5)."""
    customer, orders = _t(spark, sf_dir, "customer", "orders")
    semi = customer.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_semi").count()
    anti = customer.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti").count()
    return spark.createDataFrame(
        [(semi, anti)], "n_with_orders BIGINT, n_without_orders BIGINT"
    )


# ---------------------------------------------------------------------------
# §2.6 Windows
# ---------------------------------------------------------------------------


@query(
    "window_rank_orders",
    oracle="""
    SELECT * FROM (
        SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) AS totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
        FROM orders
    ) WHERE rnk <= 3
    """,
)
def window_rank_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer (ranking window; G6's pattern)."""
    (orders,) = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.round(F.col("o_totalprice"), 2).alias("totalprice"),
            F.row_number().over(w).alias("rnk"),
        )
        .filter(F.col("rnk") <= 3)
    )


@query(
    "window_lag_running",
    oracle="""
    SELECT event_id, user_id, ROUND(value, 2) AS value,
           ROUND(COALESCE(LAG(value) OVER w, 0.0), 2) AS prev_value,
           ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_sum,
           ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS moving_avg3
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    """,
)
def window_lag_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag / running sum / moving average over event time per user."""
    (events,) = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    return events.select(
        "event_id",
        "user_id",
        F.round(F.col("value"), 2).alias("value"),
        F.round(F.coalesce(F.lag("value").over(w), F.lit(0.0)), 2).alias("prev_value"),
        F.round(F.sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0)), 2).alias("running_sum"),
        F.round(F.avg("value").over(w.rowsBetween(-2, 0)), 4).alias("moving_avg3"),
    )


# ---------------------------------------------------------------------------
# §2.7 Set operations
# ---------------------------------------------------------------------------


@query(
    "set_operations",
    oracle="""
    WITH cn AS (SELECT DISTINCT c_nationkey AS nationkey FROM customer),
         sn AS (SELECT DISTINCT s_nationkey AS nationkey FROM supplier),
         u AS (SELECT nationkey FROM cn UNION SELECT nationkey FROM sn),
         i AS (SELECT nationkey FROM cn INTERSECT SELECT nationkey FROM sn),
         e AS (SELECT nationkey FROM cn EXCEPT SELECT nationkey FROM sn)
    SELECT (SELECT COUNT(*) FROM u) AS n_union,
           (SELECT COUNT(*) FROM i) AS n_intersect,
           (SELECT COUNT(*) FROM e) AS n_except
    """,
)
def set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, supplier = _t(spark, sf_dir, "customer", "supplier")
    cn = customer.select(F.col("c_nationkey").alias("nationkey")).distinct()
    sn = supplier.select(F.col("s_nationkey").alias("nationkey")).distinct()
    return spark.createDataFrame(
        [
            (
                cn.union(sn).distinct().count(),
                cn.intersect(sn).count(),
                cn.exceptAll(sn).distinct().count(),
            )
        ],
        "n_union BIGINT, n_intersect BIGINT, n_except BIGINT",
    )


# ---------------------------------------------------------------------------
# §2.2 Projections / filters
# ---------------------------------------------------------------------------


@query(
    "scope_projection",
    oracle="""
    SELECT doc_id,
           CASE WHEN text   IS NULL OR text   IN ('   ', '', ' ', 'NA', 'N/A', chr(10)) THEN NULL ELSE text   END AS text,
           CASE WHEN lang   IS NULL OR lang   IN ('   ', '', ' ', 'NA', 'N/A', chr(10)) THEN NULL ELSE lang   END AS lang,
           CASE WHEN source IS NULL OR source IN ('   ', '', ' ', 'NA', 'N/A', chr(10)) THEN NULL ELSE source END AS source
    FROM documents
    """,
)
def scope_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1+P2: scope projection with semantic-null canonicalization."""
    (documents,) = _t(spark, sf_dir, "documents")
    return ops.scope_project(documents, ["text", "lang", "source"], keep=["doc_id"])


@query(
    "low_length_filter",
    oracle=r"""
    SELECT doc_id, n_chars
    FROM documents
    WHERE len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) >= 40
    """,
)
def low_length_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: drop docs under 40 whitespace words."""
    (documents,) = _t(spark, sf_dir, "documents")
    return documents.filter(fns.word_count(F.col("text")) >= 40).select("doc_id", "n_chars")


# ---------------------------------------------------------------------------
# §2.3 Grouping / dedup / sampling / splitting
# ---------------------------------------------------------------------------


@query(
    "group_counts",
    oracle="""
    SELECT event_type, COUNT(*) AS cnt,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(20,6))), 2) AS DOUBLE)
               AS total_value
    FROM events GROUP BY event_type
    """,
)
def group_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1/G8: group-by-key with counts (distribution check is this + sort)."""
    (events,) = _t(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum(F.col("value").cast("decimal(20,6)")), 2)
        .cast("double")
        .alias("total_value"),
    )


@query(
    "distribution_fractions",
    oracle="""
    WITH c AS (SELECT lang, source, COUNT(*) AS cnt FROM documents GROUP BY lang, source)
    SELECT lang, source, cnt,
           CAST(ROUND(CAST(CAST(cnt AS DOUBLE) / SUM(cnt) OVER ()
                           AS DECIMAL(25,10)), 6) AS DOUBLE) AS frac
    FROM c
    """,
)
def distribution_fractions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G8 proper: per-group share of the corpus — the distribution a split/
    sampling stage is checked against. The global-total window runs over the
    (tiny) counts table, not the input, so the single-reducer window is
    bounded by group cardinality at any scale."""
    from instructionspipe_spark.operators.grouping import group_counts as gc

    (documents,) = _t(spark, sf_dir, "documents")
    counts = gc(documents, ["lang", "source"])
    total = F.sum("cnt").over(Window.partitionBy())
    return counts.select(
        "lang",
        "source",
        "cnt",
        F.round(
            (F.col("cnt").cast("double") / total).cast("decimal(25,10)"), 6
        )
        .cast("double")
        .alias("frac"),
    )


@query(
    "exact_dedup_first",
    oracle="""
    SELECT doc_id, lang, source FROM (
        SELECT doc_id, lang, source,
               ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY doc_id ASC) AS rn
        FROM documents
    ) WHERE rn = 1
    """,
)
def exact_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2 with a deterministic survivor (min doc_id per group)."""
    (documents,) = _t(spark, sf_dir, "documents")
    return ops.exact_dedup(documents, ["lang", "source"], ["doc_id"]).select(
        "doc_id", "lang", "source"
    )


@query(
    "dedup_multi_key",
    oracle="""
    WITH d1 AS (
        SELECT doc_id, lang, source FROM (
            SELECT doc_id, lang, source,
                   ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id ASC) AS rn
            FROM documents
        ) WHERE rn = 1
    )
    SELECT doc_id, lang, source FROM (
        SELECT doc_id, lang, source,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id ASC) AS rn
        FROM d1
    ) WHERE rn = 1
    """,
)
def dedup_multi_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3: sequential dedup over several key sets (the reference folds dedup
    over keys, etl_sampling_by_key.py:50-53) — one row per lang, then one
    per source among the survivors; min-id survivor at each stage."""
    (documents,) = _t(spark, sf_dir, "documents")
    return ops.multi_key_dedup(documents, [["lang"], ["source"]], ["doc_id"]).select(
        "doc_id", "lang", "source"
    )


@query(
    "batch_assignment",
    oracle="""
    SELECT doc_id, lang,
           CAST((ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id ASC) - 1) // 8 AS BIGINT) AS batch_id,
           CAST((ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id ASC) - 1) % 8 AS BIGINT) AS batch_pos
    FROM documents
    """,
)
def batch_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G10: deterministic batching — rows chunk into batches of 8 per
    language in id order (the reference batches rows for LLM calls; this is
    the distributed, order-free statement of the same contract). One window
    shuffle on the group key."""
    (documents,) = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.asc("doc_id"))
    rn = F.row_number().over(w) - 1
    return documents.select(
        "doc_id",
        "lang",
        (rn / 8).cast("long").alias("batch_id"),
        (rn % 8).cast("long").alias("batch_pos"),
    )


@query(
    "capped_group_sample",
    oracle="""
    SELECT doc_id, lang FROM (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY md5('2' || '|' || CAST(doc_id AS VARCHAR))
               ) AS rn
        FROM documents
    ) WHERE rn <= 5
    """,
)
def capped_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G6: per-group capped sample, seed=2 (reference default)."""
    (documents,) = _t(spark, sf_dir, "documents")
    return ops.capped_group_sample(documents, ["lang"], 5, seed=2, id_cols=["doc_id"]).select(
        "doc_id", "lang"
    )


@query(
    "seeded_shuffle_head",
    oracle="""
    SELECT doc_id, lang FROM documents
    ORDER BY md5('42' || '|' || CAST(doc_id AS VARCHAR))
    LIMIT 20
    """,
)
def seeded_shuffle_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G9: deterministic seeded shuffle + head."""
    (documents,) = _t(spark, sf_dir, "documents")
    return ops.seeded_head(documents, 20, seed=42, id_cols=["doc_id"]).select("doc_id", "lang")


@query(
    "grouped_split",
    oracle="""
    WITH keys AS (
        SELECT user_id,
               PERCENT_RANK() OVER (ORDER BY md5('42' || '|' || CAST(user_id AS VARCHAR))) AS pr
        FROM (SELECT DISTINCT user_id FROM events)
    ),
    assigned AS (
        SELECT user_id,
               CASE WHEN pr < 0.8 THEN 'train' WHEN pr < 0.9 THEN 'val' ELSE 'test' END AS split
        FROM keys
    )
    SELECT a.split AS split, COUNT(DISTINCT e.user_id) AS n_users, COUNT(*) AS n_events
    FROM events e JOIN assigned a ON e.user_id = a.user_id
    GROUP BY a.split
    """,
)
def grouped_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G7: leak-free grouped split, summarized per split."""
    (events,) = _t(spark, sf_dir, "events")
    split = ops.grouped_split(events, "user_id", {"train": 0.8, "val": 0.1, "test": 0.1}, seed=42)
    return split.groupBy("split").agg(
        F.countDistinct("user_id").alias("n_users"), F.count(F.lit(1)).alias("n_events")
    )


# ---------------------------------------------------------------------------
# SQL mirror helpers (shared by the hash-based oracle generators)
# ---------------------------------------------------------------------------

_INVALID_SQL = "'   ', '', ' ', 'NA', 'N/A', chr(10)"


def _norm_sql(col: str) -> str:
    r"""SQL mirror of functions.text.char_ngrams normalization:
    strip punctuation, lowercase, collapse whitespace, trim."""
    return (
        f"trim(regexp_replace(lower(regexp_replace({col}, '[^\\p{{L}}\\p{{N}}\\s]', '', 'g')),"
        f" '\\s+', ' ', 'g'))"
    )


def _shingles_sql(col: str, n: int = 3) -> str:
    """SQL mirror of distinct char n-grams over the normalized text."""
    norm = _norm_sql(col)
    return (
        f"list_distinct([substr(t.__norm, i, {n}) for i in range(1, greatest(len(t.__norm) - {n - 1}, 0) + 1)])"
    ), norm


def _hash48_sql(expr: str) -> str:
    """SQL mirror of operators.dedup.base_hash48."""
    return f"CAST('0x' || substr(md5({expr}), 1, 12) AS BIGINT)"


def _minhash_sig_sql(num_perm: int) -> str:
    """SQL mirror of minhash_signature over a list column __hashes."""
    a_const, b_const = _perm_constants(num_perm)
    elems = ", ".join(
        f"list_min(list_transform(__hashes, h -> ({a_const[i]} * h + {b_const[i]}) % {_MOD}))"
        for i in range(num_perm)
    )
    return f"[{elems}]"


# ---------------------------------------------------------------------------
# North-star: dedup family
# ---------------------------------------------------------------------------


def _minhash_base_cte(num_perm: int, ngram: int = 3, source: str = "documents") -> str:
    """Shared CTE prefix: source -> normalized text -> distinct shingles
    -> 48-bit hashes -> minhash signature (mirrors the Spark expressions)."""
    return f"""
    norm AS (
        SELECT doc_id, {_norm_sql('text')} AS __norm FROM {source}
    ),
    sh AS (
        SELECT doc_id,
               list_distinct([substr(__norm, i, {ngram})
                              for i in range(1, greatest(len(__norm) - {ngram - 1}, 0) + 1)]) AS __shingles
        FROM norm
    ),
    hashed AS (
        SELECT doc_id, list_transform(__shingles, s -> {_hash48_sql('s')}) AS __hashes, __shingles
        FROM sh
    ),
    sig AS (
        SELECT doc_id,
               CASE WHEN len(__shingles) = 0 THEN NULL
                    ELSE {_minhash_sig_sql(num_perm)} END AS __sig,
               __shingles
        FROM hashed
    )"""


_MINHASH_SIG_ORACLE = (
    "WITH" + _minhash_base_cte(8) + """
    SELECT doc_id, __sig[1] AS h0, __sig[2] AS h1, __sig[3] AS h2, __sig[4] AS h3,
           __sig[5] AS h4, __sig[6] AS h5, __sig[7] AS h6, __sig[8] AS h7
    FROM sig
    """
)


@query("minhash_signatures", oracle=_MINHASH_SIG_ORACLE)
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G5 substrate: 8-permutation MinHash signature per document."""
    from instructionspipe_spark.session import ensure_parallelism

    (documents,) = _t(spark, sf_dir, "documents")
    documents = ensure_parallelism(documents)
    sig = ops.minhash_signature(F.col("text"), num_perm=8)
    # Two-step projection: materialize the signature once, then extract
    # elements. A single select would copy the signature expression into all
    # 8 output columns (CollapseProject keeps the split because the lower
    # alias is non-cheap and multiply-referenced).
    with_sig = documents.select("doc_id", sig.alias("__sig"))
    return with_sig.select(
        "doc_id", *[F.element_at(F.col("__sig"), i + 1).alias(f"h{i}") for i in range(8)]
    )


def _minhash_dedup_oracle(num_perm: int = 16, bands: int = 4, threshold: float = 0.5) -> str:
    rows_per_band = num_perm // bands
    band_exprs = []
    for b in range(bands):
        lo, hi = b * rows_per_band + 1, (b + 1) * rows_per_band
        band_exprs.append(
            f"{{'b': {b}, 'h': md5('{b}' || '|' || array_to_string(list_transform(__sig[{lo}:{hi}], x -> CAST(x AS VARCHAR)), ','))}}"
        )
    bands_list = ", ".join(band_exprs)
    return (
        "WITH" + _minhash_base_cte(num_perm) + f""",
    banded AS (
        SELECT doc_id, u.b AS band_idx, u.h AS band_hash
        FROM sig, UNNEST([{bands_list}]) AS t(u)
    ),
    -- bucket-representative pairing (min-id per LSH bucket), mirroring
    -- operators/dedup.py minhash_lsh_candidates
    pairs AS (
        SELECT DISTINCT m.min_id AS id_a, a.doc_id AS id_b
        FROM banded a
        JOIN (SELECT band_idx, band_hash, MIN(doc_id) AS min_id
              FROM banded GROUP BY band_idx, band_hash) m
          ON a.band_idx = m.band_idx AND a.band_hash = m.band_hash
         AND a.doc_id > m.min_id
    ),
    verified AS (
        SELECT p.id_a, p.id_b
        FROM pairs p
        JOIN sh sa ON sa.doc_id = p.id_a
        JOIN sh sb ON sb.doc_id = p.id_b
        WHERE ROUND(CAST(len(list_intersect(sa.__shingles, sb.__shingles)) AS DOUBLE)
              / len(list_distinct(list_concat(sa.__shingles, sb.__shingles))), 6) >= {threshold}
    ),
    losers AS (SELECT DISTINCT id_b AS doc_id FROM verified)
    SELECT d.doc_id, d.lang FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)
    """
    )


@query("minhash_lsh_dedup", oracle=_minhash_dedup_oracle())
def minhash_lsh_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G5: MinHash-LSH near-dedup, jaccard-verified, min-id survivors."""
    (documents,) = _t(spark, sf_dir, "documents")
    return ops.minhash_lsh_dedup(
        documents, "doc_id", "text", num_perm=16, bands=4, threshold=0.5
    ).select("doc_id", "lang")


def _most_dup_oracle(num_perm: int = 16, bands: int = 4, most_dup: int = 1) -> str:
    """Sequential twin of the reference's LSH-index greedy
    (etl_slimpajama_dc_proc.py:147-158): ids ascending, a doc is dropped
    when MORE than ``most_dup`` previously-KEPT docs share a bucket;
    dropped docs never enter the index. The recursion walks node-by-node
    over a MATERIALIZED per-node earlier-neighbor list (without the
    materialization DuckDB re-evaluates the whole minhash chain per
    step: 90 s -> 1 s)."""
    rows_per_band = num_perm // bands
    band_exprs = ", ".join(
        f"{{'b': {b}, 'h': md5('{b}' || '|' || array_to_string(list_transform(__sig[{b * rows_per_band + 1}:{(b + 1) * rows_per_band}], x -> CAST(x AS VARCHAR)), ','))}}"
        for b in range(bands)
    )
    return (
        "WITH RECURSIVE" + _minhash_base_cte(num_perm) + f""",
    banded AS (
        SELECT doc_id, u.h AS bucket
        FROM sig, UNNEST([{band_exprs}]) AS t(u)
        WHERE __sig IS NOT NULL
    ),
    multi AS (SELECT bucket FROM banded GROUP BY bucket HAVING COUNT(*) >= 2),
    mem AS (SELECT DISTINCT b.doc_id, b.bucket FROM banded b JOIN multi USING (bucket)),
    adj AS (
        SELECT m1.doc_id, list(DISTINCT m2.doc_id ORDER BY m2.doc_id) AS nbrs
        FROM mem m1 JOIN mem m2 USING (bucket)
        WHERE m2.doc_id < m1.doc_id
        GROUP BY m1.doc_id
    ),
    nodes AS MATERIALIZED (
        SELECT d.doc_id, COALESCE(a.nbrs, []) AS nbrs,
               ROW_NUMBER() OVER (ORDER BY d.doc_id) AS rn
        FROM (SELECT DISTINCT doc_id FROM mem) d LEFT JOIN adj a USING (doc_id)
    ),
    greedy AS (
        SELECT 0 AS rn, CAST([] AS BIGINT[]) AS kept, CAST([] AS BIGINT[]) AS dropped
        UNION ALL
        SELECT n.rn,
               CASE WHEN len(list_filter(n.nbrs, x -> list_contains(g.kept, x))) <= {most_dup}
                    THEN list_append(g.kept, n.doc_id) ELSE g.kept END,
               CASE WHEN len(list_filter(n.nbrs, x -> list_contains(g.kept, x))) <= {most_dup}
                    THEN g.dropped ELSE list_append(g.dropped, n.doc_id) END
        FROM greedy g JOIN nodes n ON n.rn = g.rn + 1
    ),
    final AS (SELECT dropped FROM greedy ORDER BY rn DESC LIMIT 1)
    SELECT d.doc_id, d.lang FROM documents d
    WHERE NOT list_contains((SELECT dropped FROM final), d.doc_id)
    """
    )


@query("lsh_dedup_most_dup", oracle=_most_dup_oracle())
def lsh_dedup_most_dup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G5 faithful-order sibling (VERDICT r7 #3): the reference's
    ``most_dup`` knob — keep a doc while at most 1 previously-kept doc
    shares an LSH bucket, exact insertion-order greedy under ascending
    doc_id, banding-only candidates like the reference's LSH query. The
    Spark side parallelizes per connected component (applyInPandas) while
    the oracle replays the literal sequential loop — hash equality proves
    the component decomposition changes nothing."""
    (documents,) = _t(spark, sf_dir, "documents")
    return ops.minhash_lsh_dedup_most_dup(
        documents, "doc_id", "text", most_dup=1, num_perm=16, bands=4
    ).select("doc_id", "lang")


def _simhash_oracle(bits: int = 32) -> str:
    terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(__hashes, h -> ((h >> {b}) % 2) * 2 - 1)) > 0 THEN CAST({2**b} AS BIGINT) ELSE 0 END)"
        for b in range(bits)
    )
    # NULL fingerprint for empty shingle sets, mirroring operators.dedup.simhash.
    return (
        "WITH" + _minhash_base_cte(1) + f"""
    SELECT doc_id, CASE WHEN len(__shingles) = 0 THEN NULL ELSE {terms} END AS simhash FROM hashed
    """
    )


def _simhash_exact_dedup_oracle(bits: int = 32) -> str:
    terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(__hashes, h -> ((h >> {b}) % 2) * 2 - 1)) > 0 THEN CAST({2**b} AS BIGINT) ELSE 0 END)"
        for b in range(bits)
    )
    return (
        "WITH" + _minhash_base_cte(1) + f""",
    fp AS (
        SELECT doc_id, CASE WHEN len(__shingles) = 0 THEN NULL ELSE {terms} END AS fp
        FROM hashed
    ),
    kept AS (
        SELECT doc_id FROM (
            SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id ASC) AS rn
            FROM fp WHERE fp IS NOT NULL
        ) WHERE rn = 1
        UNION ALL
        SELECT doc_id FROM fp WHERE fp IS NULL
    )
    SELECT d.doc_id, d.lang FROM documents d JOIN kept k ON d.doc_id = k.doc_id
    """
    )


@query("simhash_exact_dedup", oracle=_simhash_exact_dedup_oracle())
def simhash_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-fingerprint SimHash dedup: identical 32-bit fingerprints
    collapse to the min-id survivor; NULL-fingerprint (sub-ngram) rows pass
    through untouched."""
    (documents,) = _t(spark, sf_dir, "documents")
    return ops.simhash_dedup(documents, "doc_id", "text", bits=32).select("doc_id", "lang")


@query("simhash_fingerprints", oracle=_simhash_oracle())
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash 32-bit fingerprint per document."""
    from instructionspipe_spark.session import ensure_parallelism

    (documents,) = _t(spark, sf_dir, "documents")
    documents = ensure_parallelism(documents)
    return documents.select("doc_id", ops.simhash(F.col("text"), bits=32).alias("simhash"))


@query(
    "ngram_jaccard_pairs",
    oracle="""
    WITH norm AS (
        SELECT doc_id, lang,
               trim(regexp_replace(lower(regexp_replace(text, '[^\\w\\s]|_', '', 'g')), '\\s+', ' ', 'g')) AS __norm
        FROM documents
    ),
    sh AS (
        SELECT doc_id, lang,
               list_distinct([substr(__norm, i, 3) for i in range(1, greatest(len(__norm) - 2, 0) + 1)]) AS __shingles
        FROM norm
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(CAST(len(list_intersect(a.__shingles, b.__shingles)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.__shingles, b.__shingles))), 6) AS jaccard
    FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.__shingles, b.__shingles)) AS DOUBLE)
          / len(list_distinct(list_concat(a.__shingles, b.__shingles))) >= 0.2
    """,
)
def ngram_jaccard_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram Jaccard near-dup pairs, blocked by lang. Blocking on a
    metadata column is quadratic WITHIN the block — acceptable only when
    blocks stay task-sized; `jaccard_pairs_lsh` is the scale path (linear
    LSH-banded candidates)."""
    (documents,) = _t(spark, sf_dir, "documents")
    pairs = ops.ngram_jaccard_pairs(documents, "doc_id", "text", block_col="lang", min_jaccard=0.2)
    return pairs.select("id_a", "id_b", F.round(F.col("jaccard"), 6).alias("jaccard"))


def _jaccard_pairs_lsh_oracle(num_perm: int = 16, bands: int = 4) -> str:
    rows_per_band = num_perm // bands
    band_exprs = []
    for b in range(bands):
        lo, hi = b * rows_per_band + 1, (b + 1) * rows_per_band
        band_exprs.append(
            f"{{'b': {b}, 'h': md5('{b}' || '|' || array_to_string(list_transform(__sig[{lo}:{hi}], x -> CAST(x AS VARCHAR)), ','))}}"
        )
    bands_list = ", ".join(band_exprs)
    return (
        "WITH" + _minhash_base_cte(num_perm) + f""",
    banded AS (
        SELECT doc_id, u.b AS band_idx, u.h AS band_hash
        FROM sig, UNNEST([{bands_list}]) AS t(u)
    ),
    pairs AS (
        SELECT DISTINCT m.min_id AS id_a, a.doc_id AS id_b
        FROM banded a
        JOIN (SELECT band_idx, band_hash, MIN(doc_id) AS min_id
              FROM banded GROUP BY band_idx, band_hash) m
          ON a.band_idx = m.band_idx AND a.band_hash = m.band_hash
         AND a.doc_id > m.min_id
    )
    SELECT p.id_a, p.id_b,
           ROUND(CAST(len(list_intersect(sa.__shingles, sb.__shingles)) AS DOUBLE)
                 / len(list_distinct(list_concat(sa.__shingles, sb.__shingles))), 6) AS jaccard
    FROM pairs p
    JOIN sh sa ON sa.doc_id = p.id_a
    JOIN sh sb ON sb.doc_id = p.id_b
    """
    )


@query("jaccard_pairs_lsh", oracle=_jaccard_pairs_lsh_oracle())
def jaccard_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100-TB jaccard-pairs shape: candidates from MinHash LSH banding
    with bucket-min-representative pairing (LINEAR in corpus size, vs the
    quadratic-within-block `ngram_jaccard_pairs`), then exact n-gram
    Jaccard per candidate pair in the Arrow kernel. The pair side stays
    bounded so AQE broadcasts it; the corpus streams."""
    from instructionspipe_spark.operators.dedup import _jaccard_verified, minhash_lsh_candidates

    (documents,) = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_candidates(documents, "doc_id", "text", num_perm=16, bands=4)
    side = (documents, "doc_id", "text")
    return _jaccard_verified(pairs, side, side, ngram=3)


_XC_OFFSET = 10_000_000  # eval ids live above this in the shared sig CTE


def _cross_corpus_oracle(
    num_perm: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    bucket_cap: int | None = None,
) -> str:
    rows_per_band = num_perm // bands
    band_exprs = ", ".join(
        f"{{'b': {b}, 'h': md5('{b}' || '|' || array_to_string(list_transform(__sig[{b * rows_per_band + 1}:{(b + 1) * rows_per_band}], x -> CAST(x AS VARCHAR)), ','))}}"
        for b in range(bands)
    )
    jac = (
        "CAST(len(list_intersect(sc.__shingles, se.__shingles)) AS DOUBLE)"
        " / len(list_distinct(list_concat(sc.__shingles, se.__shingles)))"
    )
    if bucket_cap is None:
        cap_cte, cap_join, cap_pred = "", "", ""
    else:
        # Replays the operator's EVAL-side cap exactly: bucket census over
        # eval banded rows only; over-cap buckets emit no candidates.
        cap_cte = f"""
    eval_bucket AS (
        SELECT band_idx, band_hash, count(*) AS bc
        FROM banded WHERE doc_id >= {_XC_OFFSET}
        GROUP BY band_idx, band_hash
    ),"""
        cap_join = (
            "\n        JOIN eval_bucket z"
            " ON z.band_idx = e.band_idx AND z.band_hash = e.band_hash"
        )
        cap_pred = f" AND z.bc <= {bucket_cap}"
    return (
        f"""WITH src AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + {_XC_OFFSET}, substr(text, 1, (length(text) * 4) // 5)
        FROM documents WHERE doc_id % 17 = 0
    ),"""
        + _minhash_base_cte(num_perm, source="src")
        + f""",
    banded AS (
        SELECT doc_id, u.b AS band_idx, u.h AS band_hash
        FROM sig, UNNEST([{band_exprs}]) AS t(u)
    ),{cap_cte}
    pairs AS (
        SELECT DISTINCT c.doc_id AS corpus_id, e.doc_id - {_XC_OFFSET} AS eval_id
        FROM banded c
        JOIN banded e ON c.band_idx = e.band_idx AND c.band_hash = e.band_hash{cap_join}
        WHERE c.doc_id < {_XC_OFFSET} AND e.doc_id >= {_XC_OFFSET}{cap_pred}
    )
    SELECT p.corpus_id, p.eval_id, ROUND({jac}, 6) AS jaccard
    FROM pairs p
    JOIN sh sc ON sc.doc_id = p.corpus_id
    JOIN sh se ON se.doc_id = p.eval_id + {_XC_OFFSET}
    WHERE ROUND({jac}, 6) >= {threshold!r}
    """
    )


@query("cross_corpus_near_dups", oracle=_cross_corpus_oracle())
def cross_corpus_near_dups_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy decontamination (operators/dedup.py:cross_corpus_near_dups):
    corpus rows MinHash-near-duplicate to a (synthesized) eval set of
    80%-prefix truncations — the lightly-edited contamination the exact
    n-gram contamination_screen misses. Eval side broadcasts; corpus
    streams one band equi-join. ``bucket_cap=None`` is the EXPLICIT
    faithful-reference opt-out (uncapped is no longer the library default
    since r11); this row is the capped twin's semantic anchor."""
    (documents,) = _t(spark, sf_dir, "documents")
    ev = documents.filter(F.col("doc_id") % 17 == 0).select(
        F.col("doc_id").alias("eval_id"),
        F.expr("substring(text, 1, (length(text) * 4) div 5)").alias("eval_text"),
    )
    return ops.cross_corpus_near_dups(
        documents, ev, "doc_id", "text", "eval_id", "eval_text",
        threshold=0.5, bucket_cap=None,
    )


@query(
    "cross_corpus_near_dups_capped",
    oracle=_cross_corpus_oracle(bucket_cap=8),
)
def cross_corpus_near_dups_capped_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy decontamination with the EVAL-side hot-bucket cap engaged —
    the scale-safe production shape (operators/dedup.py:
    cross_corpus_near_dups with bucket_cap). The r10 probe measured the
    uncapped candidate join at alpha 1.27 over sf1 -> sf10 on the
    template-heavy synthetic (the same hot-bucket law as N24); capping the
    EVAL side bounds candidates at cap x |corpus banded rows| — linear in
    corpus size regardless of corpus-side bucket heat, which is the side a
    decontamination run cannot control. cap=8: above every organic eval
    bucket at the small SFs (max 8/11 at sf0.001/sf0.01 with p99 ~7-8) and
    below the sf0.1 template max (71), so the gate exercises capped
    semantics. The oracle replays the eval bucket census and cap exactly —
    a full value-level differential. Cap-selection rule: SCALE.md."""
    (documents,) = _t(spark, sf_dir, "documents")
    ev = documents.filter(F.col("doc_id") % 17 == 0).select(
        F.col("doc_id").alias("eval_id"),
        F.expr("substring(text, 1, (length(text) * 4) div 5)").alias("eval_text"),
    )
    return ops.cross_corpus_near_dups(
        documents, ev, "doc_id", "text", "eval_id", "eval_text",
        threshold=0.5, bucket_cap=8,
    )


def _lsh_bucket_stats_oracle(num_perm: int = 16, bands: int = 4, top_k: int = 10) -> str:
    rows_per_band = num_perm // bands
    band_exprs = ", ".join(
        f"{{'b': {b}, 'h': md5('{b}' || '|' || array_to_string(list_transform(__sig[{b * rows_per_band + 1}:{(b + 1) * rows_per_band}], x -> CAST(x AS VARCHAR)), ','))}}"
        for b in range(bands)
    )
    return (
        "WITH" + _minhash_base_cte(num_perm) + f""",
    banded AS (
        SELECT doc_id, u.b AS band_idx, u.h AS band_hash
        FROM sig, UNNEST([{band_exprs}]) AS t(u)
        WHERE __sig IS NOT NULL
    ),
    sizes AS (
        SELECT band_idx, band_hash, COUNT(*) AS n_docs
        FROM banded GROUP BY band_idx, band_hash
    ),
    ranked AS (
        SELECT band_idx, band_hash, n_docs,
               ROW_NUMBER() OVER (PARTITION BY band_idx
                                  ORDER BY n_docs DESC, band_hash ASC) AS rank
        FROM sizes
    )
    SELECT band_idx, band_hash, n_docs, rank FROM ranked WHERE rank <= {top_k}
    """
    )


@query("lsh_bucket_stats", oracle=_lsh_bucket_stats_oracle())
def lsh_bucket_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH health diagnostic (operators/dedup.py:lsh_bucket_stats): the 10
    largest MinHash band buckets per band — the pre-dedup census that spots
    boilerplate mega-buckets. One banding pass + one partial-agg count; the
    per-band top-k window is WindowGroupLimit-bounded."""
    (documents,) = _t(spark, sf_dir, "documents")
    return ops.lsh_bucket_stats(documents, "doc_id", "text")


def _frequent_ngrams_oracle(ngram_words: int = 3, top_k: int = 20) -> str:
    return rf"""
    WITH norm AS (
        SELECT doc_id,
               list_filter(string_split({_norm_sql('text')}, ' '), t -> t <> '') AS w
        FROM documents
    ),
    grams AS (
        SELECT doc_id,
               array_to_string(w[CAST(i AS BIGINT) : CAST(i + {ngram_words} - 1 AS BIGINT)], ' ') AS ngram
        FROM norm, UNNEST(range(1, greatest(len(w) - {ngram_words - 1}, 0) + 1)) AS t(i)
    ),
    counts AS (
        SELECT ngram, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
        FROM grams GROUP BY ngram
    ),
    ranked AS (
        SELECT ngram, n_occurrences, n_docs,
               ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, ngram ASC) AS rank
        FROM counts
    )
    SELECT ngram, n_occurrences, n_docs, rank FROM ranked WHERE rank <= {top_k}
    """


@query("frequent_ngrams", oracle=_frequent_ngrams_oracle())
def frequent_ngrams_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top word-trigrams with document frequency
    (operators/textstats.py:frequent_word_ngrams) — the boilerplate census
    a pipeline runs before choosing dedup parameters. Explode cheap
    positions, one partial-agg count keyed by the n-gram, rank-limited
    top-k."""
    (documents,) = _t(spark, sf_dir, "documents")
    return ops.frequent_word_ngrams(documents, "text", id_col="doc_id", ngram_words=3, top_k=20)


def _near_dup_components_ctes(num_perm: int = 16, bands: int = 4, threshold: float = 0.5) -> str:
    """Shared WITH-RECURSIVE prefix ending in ``comp(doc_id, component)`` —
    used by the clustering query and the cluster-survivor composition."""
    rows_per_band = num_perm // bands
    band_exprs = ", ".join(
        f"{{'b': {b}, 'h': md5('{b}' || '|' || array_to_string(list_transform(__sig[{b * rows_per_band + 1}:{(b + 1) * rows_per_band}], x -> CAST(x AS VARCHAR)), ','))}}"
        for b in range(bands)
    )
    jac = (
        "CAST(len(list_intersect(sa.__shingles, sb.__shingles)) AS DOUBLE)"
        " / len(list_distinct(list_concat(sa.__shingles, sb.__shingles)))"
    )
    return (
        "WITH RECURSIVE" + _minhash_base_cte(num_perm) + f""",
    banded AS (
        SELECT doc_id, u.b AS band_idx, u.h AS band_hash
        FROM sig, UNNEST([{band_exprs}]) AS t(u)
    ),
    cand AS (
        SELECT DISTINCT m.min_id AS id_a, a.doc_id AS id_b
        FROM banded a
        JOIN (SELECT band_idx, band_hash, MIN(doc_id) AS min_id
              FROM banded GROUP BY band_idx, band_hash) m
          ON a.band_idx = m.band_idx AND a.band_hash = m.band_hash
         AND a.doc_id > m.min_id
    ),
    edges AS (
        SELECT c.id_a, c.id_b
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.id_a
        JOIN sh sb ON sb.doc_id = c.id_b
        WHERE ROUND({jac}, 6) >= {threshold!r}
    ),
    sym AS (
        SELECT id_a AS a, id_b AS b FROM edges
        UNION
        SELECT id_b, id_a FROM edges
    ),
    reach(node, label) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT s.b, r.label FROM reach r JOIN sym s ON s.a = r.node
    ),
    comp AS (
        SELECT node AS doc_id, MIN(label) AS component FROM reach GROUP BY node
    )"""
    )


def _near_dup_components_oracle(num_perm: int = 16, bands: int = 4, threshold: float = 0.5) -> str:
    return _near_dup_components_ctes(num_perm, bands, threshold) + """
    SELECT doc_id, component FROM comp
    """


@query("near_dup_components", oracle=_near_dup_components_oracle())
def near_dup_components_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup cluster ids: LSH-verified pair graph -> min-label
    connected components (operators/graph.py), corpus left-joined back so
    singletons label themselves. The iterative loop touches only the
    bounded pair graph; oracle = recursive-CTE min-reachable-label."""
    from instructionspipe_spark.operators.graph import near_dup_components

    (documents,) = _t(spark, sf_dir, "documents")
    out = near_dup_components(documents, "doc_id", "text", num_perm=16, bands=4, threshold=0.5)
    return out.select("doc_id", "component")


# ---------------------------------------------------------------------------
# North-star: embeddings — near-dup + similarity search
# ---------------------------------------------------------------------------

# Mirrors operators: unit-normalize per row, dot product per pair (same
# left-to-right double accumulation order as zip_with+aggregate).
_NORMALIZE_SQL = """list_transform(
    CAST(embedding AS DOUBLE[]),
    x -> x / sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), y -> y * y))))"""

_DOT_SQL = "CAST(list_sum(list_transform(range(1, len(a.__nv) + 1), i -> a.__nv[i] * b.__nv[i])) AS DOUBLE)"


@query(
    "embedding_near_dup",
    oracle=f"""
    WITH v AS (SELECT vec_id, label, {_NORMALIZE_SQL} AS __nv FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND({_DOT_SQL}, 4) AS cosine
    FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_DOT_SQL} >= 0.8
    """,
)
def embedding_near_dup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by label."""
    (embeddings,) = _t(spark, sf_dir, "embeddings")
    pairs = ops.embedding_near_dup(embeddings, "vec_id", "embedding", threshold=0.8, block_col="label")
    return pairs.select("id_a", "id_b", F.round(F.col("cosine"), 4).alias("cosine"))


@query(
    "similarity_brute_topk",
    oracle=f"""
    WITH v AS (SELECT vec_id, {_NORMALIZE_SQL} AS __nv FROM embeddings),
    q AS (SELECT vec_id AS query_id, __nv FROM v WHERE vec_id < 5),
    scored AS (
        SELECT q.query_id, a.vec_id,
               ROUND({_DOT_SQL.replace('b.__nv', 'q.__nv').replace('a.__nv[i] * q.__nv[i]', 'q.__nv[i] * a.__nv[i]')}, 4) AS cosine
        FROM v a, q
    ),
    ranked AS (
        SELECT query_id, vec_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
        FROM scored
    )
    SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= 10
    """,
)
def similarity_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for 5 query vectors (ANN baseline)."""
    (embeddings,) = _t(spark, sf_dir, "embeddings")
    queries_df = embeddings.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = ops.brute_force_topk(embeddings, queries_df, 10, rank_round=4)
    return out.select(
        "query_id", "vec_id", F.round(F.col("cosine"), 4).alias("cosine"), "rank"
    )


# ---------------------------------------------------------------------------
# North-star: text analysis
# ---------------------------------------------------------------------------


@query(
    "token_quality_stats",
    oracle=r"""
    WITH base AS (
        SELECT doc_id, text,
               list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS __words
        FROM documents
    )
    SELECT doc_id,
           len(__words) AS n_words,
           CAST(list_sum(list_transform(__words, w -> CAST(ceil(len(w) / 4.0) AS BIGINT)))
                + len(list_filter(string_split_regex(text, '[0-9A-Za-z_\s]+'), s -> s <> '')) AS BIGINT) AS n_tokens
    FROM base
    """,
)
def token_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word/token counting (F14/F17 analogs) as pure expressions."""
    (documents,) = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return documents.select(
        "doc_id",
        fns.word_count(t).alias("n_words"),
        ops.token_count(t).alias("n_tokens"),
    )


# The BPE merge loop isn't expressible in one DuckDB query, but the tokenizer
# is deterministic — so the oracle joins against a PRECOMPUTED expected-counts
# fixture (tools/build_bpe_expected.py runs the same driver-side BpeTokenizer
# the UDF ships to workers). Keyed by md5(text) — identical hex-over-UTF-8
# semantics in DuckDB and hashlib — so one fixture covers every scale factor.
# LEFT JOIN + COALESCE(0) mirrors count(None) == 0; a text missing from the
# fixture surfaces as a hash MISMATCH (never a silently dropped row).
_BPE_EXPECTED_PARQUET = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "fixtures",
    "bpe_expected.parquet",
)


@query(
    "bpe_token_counts",
    oracle=f"""
    SELECT d.doc_id, COALESCE(f.n_tokens_bpe, 0) AS n_tokens_bpe
    FROM documents d
    LEFT JOIN read_parquet('{_BPE_EXPECTED_PARQUET}') f
      ON md5(d.text) = f.text_md5
    """,
)
def bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F17 exact tokenization end-to-end via the self-contained BPE path
    (vendored merge table, iterator pandas UDF loading the tokenizer once
    per task — operators/textstats.py:token_count_bpe)."""
    (documents,) = _t(spark, sf_dir, "documents")
    from instructionspipe_spark.session import ensure_parallelism

    docs = ensure_parallelism(documents)
    return docs.select(
        "doc_id",
        ops.token_count_bpe(F.col("text")).alias("n_tokens_bpe"),
    )


def _stopword_ratio_sql(lang: str) -> str:
    from instructionspipe_spark.operators.textstats import _STOPWORDS

    words = ", ".join(f"'{w}'" for w in _STOPWORDS[lang])
    return (
        f"CASE WHEN len(__toks) > 0 THEN CAST(len(list_filter(__toks, t -> t IN ({words}))) AS DOUBLE)"
        f" / len(__toks) ELSE 0.0 END"
    )


def _language_quality_oracle() -> str:
    from instructionspipe_spark.operators.textstats import _STOPWORDS

    langs = list(_STOPWORDS)
    ratio_cols = ",\n               ".join(
        f"{_stopword_ratio_sql(lg)} AS s_{lg}" for lg in langs
    )
    best = "greatest(" + ", ".join(f"s_{lg}" for lg in langs) + ")"
    # tie-break mirrors detect_language: first language in inventory order
    detect = "CASE WHEN __best <= 0 THEN 'und' " + " ".join(
        f"WHEN s_{lg} = __best THEN '{lg}'" for lg in langs[:-1]
    ) + f" ELSE '{langs[-1]}' END"
    return rf"""
    WITH toks AS (
        SELECT doc_id, lang, text,
               list_filter(string_split_regex(lower(regexp_replace(text, '[^\p{{L}}\p{{N}}\s]', '', 'g')), '\s+'), t -> t <> '') AS __toks,
               list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS __words
        FROM documents
    ),
    ratios AS (
        SELECT *,
               {ratio_cols}
        FROM toks
    ),
    scored AS (
        SELECT *, {best} AS __best FROM ratios
    ),
    labeled AS (
        SELECT doc_id, lang, __words, __best, text,
               {detect} AS lang_detected
        FROM scored
    )
    SELECT doc_id, lang, lang_detected,
           ((CASE WHEN len(__words) BETWEEN 5 AND 100000 THEN 1.0 ELSE 0.0 END)
            + (CASE WHEN len(__words) > 0
                     AND CAST(length(text) AS DOUBLE) / len(__words) BETWEEN 3.0 AND 12.0
                    THEN 1.0 ELSE 0.0 END)
            + (CASE WHEN length(text) = 0
                     OR CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE) / length(text) <= 0.2
                    THEN 1.0 ELSE 0.0 END)
            + (CASE WHEN __best > 0 THEN 1.0 ELSE 0.0 END)) / 4.0 AS quality,
           lang_detected = lang AS lang_agrees
    FROM labeled
    """


@query("language_quality", oracle=_language_quality_oracle())
def language_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star text analysis: stopword-ratio language ID (argmax over a
    fixed per-language inventory, 'und' when no evidence, ties to inventory
    order) plus the composite C4/Gopher-style quality score, with agreement
    against the labeled lang column. Pure expressions, single text pass —
    the quality components are exact quarters so no float rounding is
    needed for cross-engine parity.

    Two-step projection: the stopword tokenization is materialized ONCE as
    ``__toks`` and every ratio reads the column (CollapseProject keeps the
    split: non-cheap, multiply referenced). Inlining it tokenized ~8x —
    measured 1.26s -> this form at sf0.1."""
    from instructionspipe_spark.operators.textstats import (
        _lower_tokens,
        detect_language_from_tokens,
        quality_score_from_tokens,
    )

    (documents,) = _t(spark, sf_dir, "documents")
    t = F.col("text")
    toked = documents.select("doc_id", "lang", "text", _lower_tokens(t).alias("__toks"))
    base = toked.select(
        "doc_id",
        "lang",
        detect_language_from_tokens(F.col("__toks")).alias("lang_detected"),
        quality_score_from_tokens(t, F.col("__toks")).alias("quality"),
    )
    return base.select(
        "doc_id",
        "lang",
        "lang_detected",
        "quality",
        (F.col("lang_detected") == F.col("lang")).alias("lang_agrees"),
    )


def _quality_sql() -> str:
    """DuckDB mirror of quality_score over `text` given __toks/__words CTE
    columns (see _language_quality_oracle)."""
    from instructionspipe_spark.operators.textstats import _STOPWORDS

    best = "greatest(" + ", ".join(_stopword_ratio_sql(lg) for lg in _STOPWORDS) + ")"
    return f"""((CASE WHEN len(__words) BETWEEN 5 AND 100000 THEN 1.0 ELSE 0.0 END)
            + (CASE WHEN len(__words) > 0
                     AND CAST(length(text) AS DOUBLE) / len(__words) BETWEEN 3.0 AND 12.0
                    THEN 1.0 ELSE 0.0 END)
            + (CASE WHEN length(text) = 0
                     OR CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE) / length(text) <= 0.2
                    THEN 1.0 ELSE 0.0 END)
            + (CASE WHEN {best} > 0 THEN 1.0 ELSE 0.0 END)) / 4.0"""


def _cluster_best_survivor_oracle() -> str:
    return (
        _near_dup_components_ctes()
        + rf""",
    tq AS (
        SELECT doc_id, text,
               list_filter(string_split_regex(lower(regexp_replace(text, '[^\p{{L}}\p{{N}}\s]', '', 'g')), '\s+'), t -> t <> '') AS __toks,
               list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS __words
        FROM documents
    ),
    q AS (SELECT doc_id, ROUND({_quality_sql()}, 6) AS quality FROM tq),
    joined AS (
        SELECT c.doc_id, c.component, q.quality FROM comp c JOIN q USING (doc_id)
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY component ORDER BY quality DESC, doc_id) AS rn
        FROM joined
    )
    SELECT doc_id, component, quality FROM ranked WHERE rn = 1
    """
    )


@query("cluster_best_survivor", oracle=_cluster_best_survivor_oracle())
def cluster_best_survivor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware survivor election — the payoff of near-dup CLUSTERING
    over pairwise dedup: per near-dup component keep the HIGHEST-QUALITY
    document (min-id tiebreak), not blindly the min id. Composition:
    near_dup_components (bounded pair-graph loop) -> quality_score (pure
    expression) -> per-component top-1 window (partitions bounded by
    cluster size)."""
    from instructionspipe_spark.operators.graph import near_dup_components

    (documents,) = _t(spark, sf_dir, "documents")
    comp = near_dup_components(documents, "doc_id", "text", num_perm=16, bands=4, threshold=0.5)
    scored = comp.select(
        "doc_id", "component", F.round(ops.quality_score(F.col("text")), 6).alias("quality")
    )
    w = Window.partitionBy("component").orderBy(F.desc("quality"), F.asc("doc_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "component", "quality")
    )



def _weighted_sample_oracle(n: int = 20, seed: int = 7) -> str:
    seeded_id = f"'{seed}' || '|' || CAST(doc_id AS VARCHAR)"
    u = f"({_hash48_sql(seeded_id)} + 1.0) / {float((1 << 48) + 1)!r}"
    return rf"""
    WITH toks AS (
        SELECT doc_id, lang, text,
               list_filter(string_split_regex(lower(regexp_replace(text, '[^\p{{L}}\p{{N}}\s]', '', 'g')), '\s+'), t -> t <> '') AS __toks,
               list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS __words
        FROM documents
    ),
    weighted AS (
        SELECT doc_id, lang, {_quality_sql()} AS quality FROM toks
    ),
    keyed AS (
        SELECT doc_id, lang, quality,
               ROUND(ln({u}) / quality, 6) AS __wkey
        FROM weighted WHERE quality > 0
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY __wkey DESC, doc_id) AS __rn
        FROM keyed
    )
    SELECT doc_id, lang, quality FROM ranked WHERE __rn <= {n}
    """


@query("weighted_corpus_sample", oracle=_weighted_sample_oracle())
def weighted_corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted corpus sampling: Efraimidis-Spirakis without
    replacement, 20 docs per language, weight = the composite quality score
    (zero-quality docs carry no mass and are excluded). The uniform draw is
    md5-derived from (seed, doc_id), so the sample is identical under any
    partitioning and in any engine; ranking uses the rounded key with
    doc_id tie-break for cross-engine float safety."""
    from instructionspipe_spark.operators.textstats import _lower_tokens, quality_score_from_tokens

    (documents,) = _t(spark, sf_dir, "documents")
    toked = documents.select("doc_id", "lang", "text", _lower_tokens(F.col("text")).alias("__toks"))
    weighted = toked.select(
        "doc_id", "lang", quality_score_from_tokens(F.col("text"), F.col("__toks")).alias("quality")
    )
    return ops.weighted_sample(
        weighted, "quality", 20, seed=7, id_cols=["doc_id"], group_cols=["lang"]
    )


_TOKEN_COUNT_SQL = r"""CAST(list_sum(list_transform(list_filter(string_split_regex(text, '\s+'), t -> t <> ''), w -> CAST(ceil(len(w) / 4.0) AS BIGINT)))
                + len(list_filter(string_split_regex(text, '[0-9A-Za-z_\s]+'), s -> s <> '')) AS BIGINT)"""


def _sequence_packing_oracle(capacity: int = 512) -> str:
    return rf"""
    WITH tok AS (
        SELECT doc_id, lang, {_TOKEN_COUNT_SQL} AS n_tokens FROM documents
    ),
    cum AS (
        SELECT *,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
        FROM tok
    )
    SELECT doc_id, lang, n_tokens,
           cb // {capacity} AS start_bin,
           cb % {capacity} AS start_offset,
           CASE WHEN n_tokens > 0 THEN (cb + n_tokens - 1) // {capacity}
                ELSE cb // {capacity} - 1 END AS end_bin
    FROM cum
    """


@query("sequence_packing", oracle=_sequence_packing_oracle())
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (training-pipeline north star): per
    language, documents in id order form a token stream sliced into 512-token
    context windows; each document learns its start window/offset and end
    window. One cumulative-sum window over the group key — a single shuffle;
    zero-token documents get end_bin = start_bin - 1 (occupy nothing)."""
    (documents,) = _t(spark, sf_dir, "documents")
    with_tok = documents.select(
        "doc_id", "lang", ops.token_count(F.col("text")).alias("n_tokens")
    )
    return ops.pack_token_stream(with_tok, "doc_id", "n_tokens", "lang", capacity=512)


def _lm_block_manifest_oracle(capacity: int = 256) -> str:
    return rf"""
    WITH tok AS (
        SELECT doc_id, lang, {_TOKEN_COUNT_SQL} AS n_tokens FROM documents
    ),
    cum AS (
        SELECT *,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
        FROM tok
    ),
    packed AS (
        SELECT lang, doc_id, cb AS s, cb + n_tokens AS e,
               cb // {capacity} AS start_bin,
               (cb + n_tokens - 1) // {capacity} AS end_bin
        FROM cum WHERE n_tokens > 0
    ),
    exploded AS (
        SELECT lang, doc_id, s, e, unnest(range(start_bin, end_bin + 1)) AS block_id
        FROM packed
    )
    SELECT lang, block_id, doc_id,
           least(e, (block_id + 1) * {capacity}) - greatest(s, block_id * {capacity}) AS n_tokens
    FROM exploded
    """


@query("lm_block_manifest", oracle=_lm_block_manifest_oracle())
def lm_block_manifest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-training-block lineage (inverse of sequence_packing): one row per
    (lang, 256-token block, document) with the tokens that document
    contributes — the manifest that maps any training block back to its
    source documents for dataloaders and contamination audits. One group-key
    shuffle + a cheap sequence explode."""
    (documents,) = _t(spark, sf_dir, "documents")
    with_tok = documents.select(
        "doc_id", "lang", ops.token_count(F.col("text")).alias("n_tokens")
    )
    return ops.lm_block_manifest(with_tok, "doc_id", "n_tokens", "lang", capacity=256)


def _word_block_dedup_oracle(block_words: int = 8) -> str:
    return rf"""
    WITH base AS (
        SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS w
        FROM documents
    ),
    nb AS (
        SELECT doc_id, w, CAST(ceil(len(w) / {block_words}.0) AS BIGINT) AS n_blocks FROM base
    ),
    blocks AS (
        SELECT doc_id, bi,
               array_to_string(w[CAST(bi * {block_words} + 1 AS BIGINT)
                                 : CAST((bi + 1) * {block_words} AS BIGINT)], ' ') AS btext
        FROM nb, UNNEST(range(n_blocks)) AS t(bi)
    ),
    hashed AS (
        SELECT doc_id, bi, btext, md5(btext) AS h FROM blocks
    ),
    kept AS (
        SELECT doc_id, bi, btext FROM hashed
        QUALIFY ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, bi) = 1
    ),
    reasm AS (
        SELECT doc_id, string_agg(btext, ' ' ORDER BY bi) AS text,
               COUNT(*) AS n_kept
        FROM kept GROUP BY doc_id
    )
    SELECT nb.doc_id, COALESCE(reasm.text, '') AS text, nb.n_blocks,
           COALESCE(reasm.n_kept, 0) AS n_kept
    FROM nb LEFT JOIN reasm ON nb.doc_id = reasm.doc_id
    """


@query("word_block_dedup", oracle=_word_block_dedup_oracle())
def word_block_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-wide exact block dedup (operators/dedup.py:
    word_block_dedup): every 8-word block text survives only at its first
    (min doc_id, block_idx) occurrence; documents reassemble from surviving
    blocks. One uniform shuffle on the block md5 with two-phase survivor
    election (hot boilerplate blocks collapse map-side), one reassembly
    groupBy."""
    (documents,) = _t(spark, sf_dir, "documents")
    return ops.word_block_dedup(documents, "doc_id", "text", block_words=8)


def _lm_corpus_blocks_oracle(block_words: int = 8, capacity: int = 256) -> str:
    """Composition oracle: the word_block_dedup oracle as a derived table,
    token counts over the DEDUPED text, then the block-manifest window —
    the same three stages the Spark side chains."""
    inner = _word_block_dedup_oracle(block_words)
    return rf"""
    WITH dedup AS (SELECT * FROM ({inner})),
    tok_base AS (
        SELECT d.doc_id, doc.lang, d.text
        FROM dedup d JOIN documents doc USING (doc_id)
    ),
    tok AS (
        SELECT doc_id, lang, {_TOKEN_COUNT_SQL} AS n_tokens FROM tok_base
    ),
    cum AS (
        SELECT *,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
        FROM tok
    ),
    packed AS (
        SELECT lang, doc_id, cb AS s, cb + n_tokens AS e,
               cb // {capacity} AS start_bin,
               (cb + n_tokens - 1) // {capacity} AS end_bin
        FROM cum WHERE n_tokens > 0
    ),
    exploded AS (
        SELECT lang, doc_id, s, e, unnest(range(start_bin, end_bin + 1)) AS block_id
        FROM packed
    )
    SELECT lang, block_id, doc_id,
           least(e, (block_id + 1) * {capacity}) - greatest(s, block_id * {capacity}) AS n_tokens
    FROM exploded
    """


@query("lm_corpus_blocks", oracle=_lm_corpus_blocks_oracle())
def lm_corpus_blocks_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 composition flagship: C4-style word-block dedup -> token
    counts over the deduped text -> per-training-block manifest. Three
    operator families chained; every stage streams (block-hash shuffle +
    doc reassembly groupBy from the dedup, one group-key window for the
    manifest)."""
    (documents,) = _t(spark, sf_dir, "documents")
    deduped = ops.word_block_dedup(documents, "doc_id", "text", block_words=8)
    with_tok = (
        deduped.join(documents.select("doc_id", "lang"), "doc_id")
        .select("doc_id", "lang", ops.token_count(F.col("text")).alias("n_tokens"))
    )
    return ops.lm_block_manifest(with_tok, "doc_id", "n_tokens", "lang", capacity=256)


def _span_dedup_stats_oracle(k: int = 12) -> str:
    return rf"""
    WITH base AS (
        SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS w
        FROM documents
    ),
    spans AS (
        SELECT doc_id,
               md5(array_to_string(w[CAST(i AS BIGINT) : CAST(i + {k} - 1 AS BIGINT)], ' ')) AS h
        FROM base, UNNEST(range(1, len(w) - {k} + 2)) AS t(i)
    ),
    cnt AS (SELECT h, COUNT(*) AS c FROM spans GROUP BY h),
    per_doc AS (
        SELECT doc_id, COUNT(*) AS n_spans,
               CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans
        FROM spans JOIN cnt USING (h) GROUP BY doc_id
    )
    SELECT b.doc_id,
           COALESCE(p.n_spans, 0) AS n_spans,
           COALESCE(p.n_dup_spans, 0) AS n_dup_spans,
           ROUND(CASE WHEN COALESCE(p.n_spans, 0) = 0 THEN 0.0
                      ELSE CAST(p.n_dup_spans AS DOUBLE) / p.n_spans END, 4) AS dup_frac
    FROM base b LEFT JOIN per_doc p USING (doc_id)
    """


@query("span_dedup_stats", oracle=_span_dedup_stats_oracle())
def span_dedup_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window duplicated-span census (operators/dedup.py:
    span_dedup_stats): per document, how many of its 12-token sliding
    windows occur more than once corpus-wide — the distributed stand-in for
    Lee et al. 2021's suffix-array ExactSubstr statistics, and the sizing
    diagnostic run before span_dedup. One window-index explode, one
    map-side-combining groupBy on the span md5, one span-keyed join back,
    one per-doc rollup."""
    (documents,) = _t(spark, sf_dir, "documents")
    return ops.span_dedup_stats(documents, "doc_id", "text", k=12)


def _span_dedup_oracle(k: int = 12) -> str:
    return rf"""
    WITH base AS (
        SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS w
        FROM documents
    ),
    spans AS (
        SELECT doc_id, CAST(i AS BIGINT) AS i,
               md5(array_to_string(w[CAST(i AS BIGINT) : CAST(i + {k} - 1 AS BIGINT)], ' ')) AS h
        FROM base, UNNEST(range(1, len(w) - {k} + 2)) AS t(i)
    ),
    dup AS (SELECT h FROM spans GROUP BY h HAVING COUNT(*) > 1),
    occ AS (
        SELECT s.doc_id, s.i,
               ROW_NUMBER() OVER (PARTITION BY s.h ORDER BY s.doc_id, s.i) AS rn
        FROM spans s JOIN dup USING (h)
    ),
    covered AS (
        SELECT DISTINCT doc_id, CAST(p AS BIGINT) AS pos
        FROM occ, UNNEST(range(i, i + {k})) AS t(p) WHERE rn > 1
    ),
    toks AS (
        SELECT doc_id, CAST(i AS BIGINT) AS pos, w[CAST(i AS BIGINT)] AS tok
        FROM base, UNNEST(range(1, len(w) + 1)) AS t(i)
    ),
    keptt AS (
        SELECT t.doc_id, t.pos, t.tok FROM toks t
        LEFT JOIN covered c ON t.doc_id = c.doc_id AND t.pos = c.pos
        WHERE c.doc_id IS NULL
    ),
    reasm AS (
        SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text, COUNT(*) AS n_kept
        FROM keptt GROUP BY doc_id
    )
    SELECT b.doc_id, COALESCE(r.text, '') AS text,
           CAST(len(b.w) AS BIGINT) AS n_tokens,
           CAST(len(b.w) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed
    FROM base b LEFT JOIN reasm r USING (doc_id)
    """


@query("span_dedup", oracle=_span_dedup_oracle())
def span_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window exact span dedup (operators/dedup.py:span_dedup):
    every duplicated 12-token window survives only at its first
    (min doc_id, position) occurrence; all token positions covered by other
    occurrences are cut and documents reassemble from the survivors —
    offset-invariant, unlike word_block_dedup's fixed blocks. Two-phase
    min-struct election on the span md5 (hot spans collapse map-side),
    coverage explode bounded by the duplicated mass, one left-anti token
    election, one reassembly groupBy."""
    (documents,) = _t(spark, sf_dir, "documents")
    return ops.span_dedup(documents, "doc_id", "text", k=12)


def _greedy_packing_oracle(capacity: int = 512, modulus: int = 7) -> str:
    return rf"""
    WITH RECURSIVE tok AS (
        SELECT doc_id, lang, {_TOKEN_COUNT_SQL} AS n_tokens,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS seq
        FROM documents WHERE doc_id % {modulus} = 0
    ),
    packed AS (
        SELECT doc_id, lang, n_tokens, seq,
               CAST(0 AS BIGINT) AS bin_id,
               [CAST(greatest({capacity} - n_tokens, 0) AS BIGINT)] AS bins
        FROM tok WHERE seq = 1
        UNION ALL
        SELECT t.doc_id, t.lang, t.n_tokens, t.seq,
               CASE WHEN list_filter(range(1, len(p.bins)+1), i -> p.bins[i] >= t.n_tokens)[1] IS NULL
                    THEN len(p.bins)
                    ELSE list_filter(range(1, len(p.bins)+1), i -> p.bins[i] >= t.n_tokens)[1] - 1 END AS bin_id,
               CASE WHEN list_filter(range(1, len(p.bins)+1), i -> p.bins[i] >= t.n_tokens)[1] IS NULL
                    THEN list_append(p.bins, CAST(greatest({capacity} - t.n_tokens, 0) AS BIGINT))
                    ELSE list_transform(range(1, len(p.bins)+1),
                           i -> CASE WHEN i = list_filter(range(1, len(p.bins)+1), j -> p.bins[j] >= t.n_tokens)[1]
                                     THEN p.bins[i] - t.n_tokens ELSE p.bins[i] END) END AS bins
        FROM packed p
        JOIN tok t ON t.lang = p.lang AND t.seq = p.seq + 1
    )
    SELECT doc_id, lang, n_tokens, bin_id FROM packed
    """


@query("greedy_packing", oracle=_greedy_packing_oracle())
def greedy_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No-split greedy first-fit packing — a genuinely SEQUENTIAL operator
    (each document's bin depends on every earlier placement), run as
    Arrow-batched applyInPandas per group and proven equal to a DuckDB
    recursive-CTE unrolling of the same scan order. Gated on a
    deterministic 1-in-7 document subset to keep the oracle's recursion
    depth proportional to docs-per-group, not corpus size."""
    (documents,) = _t(spark, sf_dir, "documents")
    subset = documents.filter(F.col("doc_id") % 7 == 0).select(
        "doc_id", "lang", ops.token_count(F.col("text")).alias("n_tokens")
    )
    return ops.pack_greedy_firstfit(subset, "doc_id", "n_tokens", "lang", capacity=512)


def _corpus_prep_oracle(num_perm: int = 16, bands: int = 4, threshold: float = 0.5) -> str:
    rows_per_band = num_perm // bands
    band_exprs = []
    for b in range(bands):
        lo, hi = b * rows_per_band + 1, (b + 1) * rows_per_band
        band_exprs.append(
            f"{{'b': {b}, 'h': md5('{b}' || '|' || array_to_string(list_transform(__sig[{lo}:{hi}], x -> CAST(x AS VARCHAR)), ','))}}"
        )
    bands_list = ", ".join(band_exprs)
    return rf"""
    WITH toks0 AS (
        SELECT doc_id, lang, text,
               list_filter(string_split_regex(lower(regexp_replace(text, '[^\p{{L}}\p{{N}}\s]', '', 'g')), '\s+'), t -> t <> '') AS __toks,
               list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS __words
        FROM documents
    ),
    q AS (
        SELECT doc_id, lang, text, {_TOKEN_COUNT_SQL} AS n_tokens
        FROM toks0
        WHERE len(__words) >= 5 AND {_quality_sql()} >= 0.5
    ),
    e AS (
        SELECT doc_id, lang, text, n_tokens
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY {_norm_sql('text')} ORDER BY doc_id) AS __rn FROM q)
        WHERE __rn = 1
    ),{_minhash_base_cte(num_perm, source="e")},
    banded AS (
        SELECT doc_id, u.b AS band_idx, u.h AS band_hash
        FROM sig, UNNEST([{bands_list}]) AS t(u)
    ),
    pairs AS (
        SELECT DISTINCT m.min_id AS id_a, a.doc_id AS id_b
        FROM banded a
        JOIN (SELECT band_idx, band_hash, MIN(doc_id) AS min_id
              FROM banded GROUP BY band_idx, band_hash) m
          ON a.band_idx = m.band_idx AND a.band_hash = m.band_hash
         AND a.doc_id > m.min_id
    ),
    verified AS (
        SELECT p.id_a, p.id_b
        FROM pairs p
        JOIN sh sa ON sa.doc_id = p.id_a
        JOIN sh sb ON sb.doc_id = p.id_b
        WHERE ROUND(CAST(len(list_intersect(sa.__shingles, sb.__shingles)) AS DOUBLE)
              / len(list_distinct(list_concat(sa.__shingles, sb.__shingles))), 6) >= {threshold}
    ),
    losers AS (SELECT DISTINCT id_b AS doc_id FROM verified)
    SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM e WHERE doc_id NOT IN (SELECT doc_id FROM losers)
    GROUP BY lang
    """


@query("corpus_prep_pipeline", oracle=_corpus_prep_oracle())
def corpus_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-corpus preparation flagship: low-length
    filter (P5) -> composite quality gate -> exact dedup on normalized text
    (min-id survivor) -> MinHash-LSH near-dedup (jaccard-verified) -> per
    language doc/token totals. One query composing four operator families;
    the oracle chains the same stages as CTEs. Every stage streams: two
    narrow filters, one dedup window, the banded LSH shuffle, one final
    aggregate."""
    from instructionspipe_spark.functions.text import shingle_normalize
    from instructionspipe_spark.operators.textstats import _lower_tokens, quality_score_from_tokens

    (documents,) = _t(spark, sf_dir, "documents")
    t = F.col("text")
    toked = documents.select("doc_id", "lang", "text", _lower_tokens(t).alias("__toks"))
    scored = toked.select(
        "doc_id",
        "lang",
        "text",
        fns.word_count(t).alias("__nw"),
        quality_score_from_tokens(t, F.col("__toks")).alias("__q"),
        ops.token_count(t).alias("n_tokens"),
    )
    q = scored.filter((F.col("__nw") >= 5) & (F.col("__q") >= 0.5)).select(
        "doc_id", "lang", "text", "n_tokens"
    )
    e = ops.exact_dedup(q.withColumn("__nt", shingle_normalize(t)), ["__nt"], ["doc_id"]).drop("__nt")
    # The near-dedup stage references its input several times (signature,
    # two verification joins, final anti-join); persist the exact-deduped
    # frame so the quality-scoring + window chain evaluates once — the
    # in-memory analog of materializing between pipeline stages at scale
    # (measured 4.2s -> 2.1s at sf0.1). Tracked so the harness releases it
    # after the action instead of leaking it for the session's lifetime.
    e = managed_persist(e)
    m = ops.minhash_lsh_dedup(e, "doc_id", "text", num_perm=16, bands=4, threshold=0.5)
    return m.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("total_tokens")
    )


@query(
    "doc_fingerprints",
    oracle=r"""
    WITH norm AS (
        SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS __n FROM documents
    )
    SELECT doc_id,
           list_min(list_transform(
               [substr(__n, i, 8) for i in range(1, greatest(len(__n) - 7, 1) + 1)],
               g -> md5(g))) AS fingerprint
    FROM norm
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style min-hash document fingerprint."""
    from instructionspipe_spark.session import ensure_parallelism

    (documents,) = _t(spark, sf_dir, "documents")
    documents = ensure_parallelism(documents)
    return documents.select("doc_id", ops.doc_fingerprint(F.col("text")).alias("fingerprint"))


@query(
    "cache_keys",
    oracle="""
    SELECT doc_id, sha256(text) AS cache_key FROM documents
    """,
)
def cache_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F15: sha256 response-cache key (the L5 cache-table join key)."""
    (documents,) = _t(spark, sf_dir, "documents")
    return documents.select("doc_id", fns.cache_key(F.col("text")).alias("cache_key"))


@query(
    "chatml_flatten",
    oracle="""
    SELECT doc_id,
           '<system>summarize</system><user>' || text || '</user>' AS chat_text
    FROM documents
    """,
)
def chatml_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10+F11: build ChatML then flatten to <role>content</role> text."""
    (documents,) = _t(spark, sf_dir, "documents")
    cm = fns.make_chatml(fns.msg("system", F.lit("summarize")), fns.msg("user", F.col("text")))
    return documents.select("doc_id", fns.chatml_to_text(cm).alias("chat_text"))


# ---------------------------------------------------------------------------
# Temporal operators (F19 upgrade): as-of join, range join, event windows
# ---------------------------------------------------------------------------


@query(
    "asof_join_purchases",
    oracle="""
    WITH purchases AS (
        SELECT user_id, ts, value FROM (
            SELECT user_id, ts, value,
                   ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
            FROM events WHERE event_type = 'purchase'
        ) WHERE rn = 1
    )
    SELECT e.event_id, e.user_id, ROUND(p.value, 2) AS last_purchase_value
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view') e
    ASOF LEFT JOIN purchases p
      ON e.user_id = p.user_id AND e.ts >= p.ts
    """,
)
def asof_join_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each view event gets the latest at-or-before purchase
    value of the same user (DuckDB validates via native ASOF JOIN)."""
    (events,) = _t(spark, sf_dir, "events")
    views = events.filter(F.col("event_type") == "view").select("event_id", "user_id", "ts")
    # deterministic tie-break: keep max event_id per (user_id, ts)
    from pyspark.sql import Window as W

    p = events.filter(F.col("event_type") == "purchase")
    w = W.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
    p = (
        p.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", "ts", F.col("value").alias("pv"))
    )
    out = ops.asof_join(views, p, on="user_id", left_ts="ts", right_ts="ts", right_vals=["pv"])
    return out.select(
        "event_id", "user_id", F.round(F.col("pv"), 2).alias("last_purchase_value")
    )


@query(
    "range_join_events",
    oracle="""
    SELECT l.event_id, COUNT(*) AS n_following
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_id < 200) l
    JOIN events r
      ON r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 1 HOUR AND r.user_id = l.user_id
    GROUP BY l.event_id
    """,
)
def range_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: events of the same user within the following hour,
    executed with the coarse-time-bin equi-join rewrite."""
    (events,) = _t(spark, sf_dir, "events")
    left = events.filter(F.col("event_id") < 200).select("event_id", "user_id", "ts")
    joined = ops.range_join(
        left,
        events.select(F.col("user_id").alias("r_user"), F.col("ts").alias("r_ts")),
        "ts",
        "r_ts",
        F.expr("INTERVAL 0 SECONDS"),
        F.expr("INTERVAL 1 HOUR"),
        bin_seconds=3600,
    ).filter(F.col("r_user") == F.col("user_id"))
    return joined.groupBy("event_id").agg(F.count(F.lit(1)).alias("n_following"))


@query(
    "tumbling_window_agg",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(20,6))), 2) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def tumbling_window_agg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling window aggregation (the batch twin of
    streaming.tumbling_window_agg — same expressions)."""
    (events,) = _t(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(20,6)")), 2).cast("double").alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# §2.4 Judge metric aggregation (the ported DuckDB SQL surface, A1-A11)
# ---------------------------------------------------------------------------

_JUDGE_SQL_BODY = """
WITH judge_results AS (
    SELECT event_type AS name,
           CAST(CASE WHEN value >= 50 THEN 1 ELSE 0 END AS DOUBLE) AS factuality,
           CAST(LEAST(value / 100.0, 1.0) AS DECIMAL(20,6)) AS eligibility
    FROM events
),
scored AS (
    SELECT name, factuality, eligibility,
           CAST(CASE WHEN factuality >= 0.5 THEN 1 ELSE 0 END AS DOUBLE) AS high_factuality
    FROM judge_results
),
per_instruction AS (
    SELECT name,
           CAST(ROUND(CAST(CAST(SUM(CAST(factuality AS DECIMAL(20,6))) AS DOUBLE)
                           / COUNT(1) AS DECIMAL(25,10)), 2) AS DOUBLE) AS avg_factuality,
           MIN(factuality) AS min_factuality,
           MAX(factuality) AS max_factuality,
           CAST(ROUND(CAST(CAST(SUM(CAST(high_factuality AS DECIMAL(20,6))) AS DOUBLE)
                           / COUNT(1) AS DECIMAL(25,10)), 2) AS DOUBLE) AS high_factuality_rate,
           CAST(ROUND(CAST(CAST(SUM(eligibility) AS DOUBLE)
                           / COUNT(1) AS DECIMAL(25,10)), 2) AS DOUBLE) AS avg_eligibility,
           COUNT(1) AS n
    FROM scored
    GROUP BY name
)
SELECT * FROM per_instruction
"""


@query("judge_metrics", oracle=_JUDGE_SQL_BODY)
def judge_metrics_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's judge metric CTE (eval_with_facts.py:22-81) run as
    Spark SQL over label->score mapped results (F8 semantics on events)."""
    from instructionspipe_spark.catalog import register_views

    register_views(spark, sf_dir, ("events",))
    return spark.sql(_JUDGE_SQL_BODY)


@query(
    "cost_estimate",
    oracle=r"""
    WITH base AS (
        SELECT list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS __words, text
        FROM documents
    ),
    toks AS (
        SELECT CAST(list_sum(list_transform(__words, w -> CAST(ceil(len(w) / 4.0) AS BIGINT)))
                    + len(list_filter(string_split_regex(text, '[0-9A-Za-z_\s]+'), s -> s <> '')) AS BIGINT) AS n_tokens
        FROM base
    )
    SELECT COUNT(1) AS n_docs,
           CAST(ROUND(CAST(AVG(n_tokens) AS DECIMAL(25,10)), 4) AS DOUBLE)
               AS avg_in_tokens,
           CAST(ROUND(CAST(COUNT(1) * AVG(n_tokens) / 1000000.0 * 0.15
                 + COUNT(1) * (0.7 * AVG(n_tokens)) / 1000000.0 * 0.60
                 AS DECIMAL(25,10)), 6) AS DOUBLE) AS est_cost_usd
    FROM toks
    """,
)
def cost_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: the reference's cost model (cost_estimator_inf.py:63-77) with the
    expression-based token counter; ratio=0.7, $0.15/$0.60 per 1M tokens."""
    (documents,) = _t(spark, sf_dir, "documents")
    toks = documents.select(ops.token_count(F.col("text")).alias("n_tokens"))
    return toks.agg(
        F.count(F.lit(1)).alias("n_docs"),
        # Integer-mean and terminating-decimal cost ratios land exactly on
        # round boundaries (the quality_classifier sf0.1 escape class) —
        # quantize through decimal before ROUND on both sides.
        F.round(F.avg("n_tokens").cast("decimal(25,10)"), 4)
        .cast("double")
        .alias("avg_in_tokens"),
        F.round(
            (
                F.count(F.lit(1)) * F.avg("n_tokens") / F.lit(1000000.0) * F.lit(0.15)
                + F.count(F.lit(1)) * (F.lit(0.7) * F.avg("n_tokens")) / F.lit(1000000.0) * F.lit(0.60)
            ).cast("decimal(25,10)"),
            6,
        )
        .cast("double")
        .alias("est_cost_usd"),
    )


# ---------------------------------------------------------------------------
# §2.9 The instruction map/reduce pipeline itself (MockLlm — fully checkable)
# ---------------------------------------------------------------------------

from instructionspipe_spark.plans.instructions import Instruction, Pipeline
from instructionspipe_spark.plans.compiler import run_pipeline
from instructionspipe_spark.plans.llm_kernel import MockLlm
from instructionspipe_spark.plans.oracle_compiler import pipeline_sql

# A documents-table analog of the reference's EHR summarization config
# (demo_configs/mapreduce_summ/ehr.json): two map instructions over scoped
# fields, one reduce instruction over the map outputs.
DOC_PIPELINE = Pipeline(
    stages=(
        (
            Instruction(
                name="summary",
                scope=("text",),
                role="summarizer",
                content="Summarize the document in two sentences.",
                output_fmt="plain text",
            ),
            Instruction(
                name="keywords",
                scope=("text", "lang"),
                role="indexer",
                content="List five keywords.",
                output_desc="comma-separated keywords",
            ),
        ),
        (
            Instruction(
                name="report",
                scope=("summary", "keywords"),
                role="editor",
                content="Merge the sections into a final report.",
            ),
        ),
    )
)

_MAPREDUCE_ORACLE = pipeline_sql(
    DOC_PIPELINE, "documents", "doc_id", ("text", "lang")
)


@query("instructions_mapreduce", oracle=_MAPREDUCE_ORACLE)
def instructions_mapreduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's flagship: config-driven LLM map/reduce compiled to a
    DataFrame plan (impl/mapreduce/v0.py:28-70 semantics) with the
    deterministic MockLlm — end-to-end oracle-checkable, zero shuffles."""
    (documents,) = _t(spark, sf_dir, "documents")
    out = run_pipeline(documents, DOC_PIPELINE, MockLlm())
    return out.select("doc_id", "summary", "keywords", "report", "result")


# ---------------------------------------------------------------------------
# §2.10 Session & sliding windows (batch twins of the streaming jobs)
# ---------------------------------------------------------------------------


@query(
    "session_windows",
    oracle="""
    WITH ordered AS (
        SELECT user_id, ts,
               LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
        FROM events
    ),
    flagged AS (
        SELECT user_id, ts,
               CASE WHEN prev_ts IS NULL
                         OR ts - prev_ts >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_sess
        FROM ordered
    ),
    sessions AS (
        SELECT user_id, ts,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS sess_no
        FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(1) AS n_events
    FROM sessions
    GROUP BY user_id, sess_no
    """,
)
def session_windows_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows over events (gap 30m) — batch twin of
    streaming.session_window_agg. Oracle is the classic gaps-and-islands
    rewrite; Spark's session_window end = last event + gap, and an event at
    exactly prev+gap starts a NEW session (half-open [start, last+gap))."""
    from instructionspipe_spark.streaming.jobs import session_window_agg

    (events,) = _t(spark, sf_dir, "events")
    return session_window_agg(events, "ts", "30 minutes", "user_id", watermark="0 seconds")


@query(
    "sliding_windows",
    oracle="""
    WITH slid AS (
        SELECT TIMESTAMP '1970-01-01 00:00:00'
                   + (CAST(floor(epoch(ts) / 900) AS BIGINT) * 900 - t.k * 900)
                     * INTERVAL 1 SECOND AS window_start,
               value
        FROM events, UNNEST([0, 1, 2, 3]) AS t(k)
    )
    SELECT window_start,
           window_start + INTERVAL 1 HOUR AS window_end,
           COUNT(1) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS total_value
    FROM slid
    GROUP BY window_start
    """,
)
def sliding_windows_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (1h window, 15m slide): each event lands
    in exactly 4 windows. Oracle materializes the 4 aligned starts per event
    (the explode-offsets rewrite of F.window)."""
    (events,) = _t(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour", "15 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # Exact decimal SUM (the source data is 2-decimal): double
            # summation is order-dependent across partitions, and Spark's
            # round() goes through the double's shortest decimal string while
            # DuckDB rounds the binary value — at a rounding boundary they
            # disagree. Decimal arithmetic sidesteps the whole class.
            F.sum(F.col("value").cast("decimal(20,6)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "n_events",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# §2.10 Streaming twins under the ORACLE: the same semantics executed as a
# REAL Structured Streaming job (file source -> stream plan -> availableNow
# memory sink), then diffed against the batch SQL. Before these, the
# streaming layer was pytest-only; these earn it hash-green oracle rows.
# ---------------------------------------------------------------------------


@query(
    "streaming_tumbling_equiv",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(20,6))), 2) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def streaming_tumbling_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-equals-batch, oracle-gated: the events table streamed
    through a watermarked event-time tumbling window (streaming.jobs
    semantics; complete output mode so every window, including the one the
    watermark hasn't closed, lands in the sink) must hash-match the batch
    GROUP BY date_trunc oracle. Exercises the real streaming runtime:
    file-source micro-batching, event-time windows, state store, sink."""
    import os

    from instructionspipe_spark.streaming.jobs import run_stream_to_df

    _t(spark, sf_dir, "events")  # sets the nanos conf; catalog parity
    path = os.path.join(sf_dir, "events.parquet")
    raw_schema = spark.read.parquet(path).schema
    # The file source wants a DIRECTORY; select just this table's file via
    # the glob (tables are single parquet files under sf_dir).
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    # Watermarks demand TIMESTAMP (LTZ); the table stores wall times (NTZ,
    # or raw nanos under the legacy long read). Pin the session to UTC so
    # NTZ -> LTZ -> window -> NTZ round-trips the wall clock exactly, then
    # hand the batch-identical NTZ window start back to the differential.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ts_type = raw_schema["ts"].dataType.simpleString()
    if ts_type == "bigint":  # legacy nanosAsLong read
        ts_ltz = F.timestamp_micros(F.expr("`ts` div 1000")).cast("timestamp_ltz")
    else:
        ts_ltz = F.col("ts").cast("timestamp_ltz")
    stream = stream.withColumn("ts", ts_ltz)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(20,6)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("window.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return run_stream_to_df(agg, "complete")


def _streaming_band_admission_oracle(
    num_perm: int = 16, bands: int = 4, threshold: float = 0.5
) -> str:
    """The verified-pair CTE of the incremental-dedup oracle, with SET
    semantics (the streaming twin emits one row per shared band; consumers
    exact-dedup downstream — modeled here by DISTINCT)."""
    rows_per_band = num_perm // bands
    band_exprs = ", ".join(
        f"{{'b': {b}, 'h': md5('{b}' || '|' || array_to_string(list_transform(__sig[{b * rows_per_band + 1}:{(b + 1) * rows_per_band}], x -> CAST(x AS VARCHAR)), ','))}}"
        for b in range(bands)
    )
    jac = (
        "CAST(len(list_intersect(sb.__shingles, sc.__shingles)) AS DOUBLE)"
        " / len(list_distinct(list_concat(sb.__shingles, sc.__shingles)))"
    )
    return (
        "WITH" + _minhash_base_cte(num_perm) + f""",
    banded AS (
        SELECT doc_id, u.b AS band_idx, u.h AS band_hash
        FROM sig, UNNEST([{band_exprs}]) AS t(u)
    ),
    pairs AS (
        SELECT DISTINCT b.doc_id AS doc_id, c.doc_id AS dup_of
        FROM banded c
        JOIN banded b ON c.band_idx = b.band_idx AND c.band_hash = b.band_hash
        WHERE c.doc_id % 10 != 7 AND b.doc_id % 10 = 7
    )
    SELECT p.doc_id, p.dup_of, ROUND({jac}, 6) AS jaccard
    FROM pairs p
    JOIN sh sc ON sc.doc_id = p.dup_of
    JOIN sh sb ON sb.doc_id = p.doc_id
    WHERE ROUND({jac}, 6) >= {threshold!r}
    """
    )


@query("streaming_band_admission", oracle=_streaming_band_admission_oracle())
def streaming_band_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-equals-batch for the LSH admission path, oracle-gated: the
    batch slice of documents (doc_id % 10 == 7) STREAMED through
    streaming.jobs.streaming_band_matches against the accumulated corpus's
    persisted-shape band store must produce exactly the batch candidates ×
    jaccard-verification semantics (set-collapsed — the stream emits one row
    per shared band by design). Exercises per-row signature kernels in the
    stream, two stream-static equi-joins, and the append-mode sink."""
    import os

    from instructionspipe_spark.operators.dedup import minhash_band_store
    from instructionspipe_spark.streaming.jobs import (
        run_stream_to_df,
        streaming_band_matches,
    )

    (documents,) = _t(spark, sf_dir, "documents")
    corpus = documents.filter(F.col("doc_id") % 10 != 7)
    store = minhash_band_store(corpus, "doc_id", "text")
    path = os.path.join(sf_dir, "documents.parquet")
    raw_schema = spark.read.parquet(path).schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .filter(F.col("doc_id") % 10 == 7)
        .select("doc_id", "text")
    )
    matches = streaming_band_matches(stream, corpus, store, "doc_id", "text")
    return run_stream_to_df(matches, "append").distinct()


@query(
    "agg_cube",
    oracle="""
    SELECT event_type, CAST(user_id % 10 AS BIGINT) AS user_bucket,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(20,6))), 2) AS DOUBLE) AS total_value
    FROM events
    GROUP BY CUBE (event_type, CAST(user_id % 10 AS BIGINT))
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full cube over two dimensions (SURVEY.md §2.4 harness extras)."""
    (events,) = _t(spark, sf_dir, "events")
    return (
        events.withColumn("user_bucket", (F.col("user_id") % 10).cast("long"))
        .cube("event_type", "user_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(20,6)")), 2).cast("double").alias("total_value"),
        )
    )


@query(
    "approx_distinct",
    # HLL sketches are engine-specific, so the gated contract is a
    # bounded-error BOOLEAN both engines can compute: each engine runs its
    # own approx_count_distinct and asserts |approx - exact| <= 15% * exact
    # (Spark's default rsd is 5%; DuckDB's HLL is comparable). The exact
    # count and the bound-holds flag hash-match; the sketch values don't
    # travel.
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           ABS(approx_count_distinct(user_id) - COUNT(DISTINCT user_id))
               <= CEIL(0.15 * COUNT(DISTINCT user_id)) AS hll_within_bound
    FROM events
    GROUP BY event_type
    """,
)
def approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL) per event_type, gated as a bounded-error
    check: exact count plus a boolean asserting the engine's own sketch is
    within 15% of exact."""
    (events,) = _t(spark, sf_dir, "events")
    approx = F.approx_count_distinct("user_id")
    exact = F.countDistinct("user_id")
    return events.groupBy("event_type").agg(
        exact.alias("exact_users"),
        (F.abs(approx - exact) <= F.ceil(0.15 * exact)).alias("hll_within_bound"),
    )


# ---------------------------------------------------------------------------
# §2.9 L9: self-verification chain (MockLlm -> fully oracle-checkable)
# ---------------------------------------------------------------------------


def _self_verification_oracle() -> str:
    """Oracle generated from the SAME chain constants as plans/chains.py —
    each round's completion is md5('mock:' || <role-tagged conversation>)."""
    from instructionspipe_spark.plans import chains as ch

    extraction_user = (
        "'Extract the key elements for: ' || COALESCE(CAST(lang AS VARCHAR), '')"
        " || chr(10) || chr(10) || COALESCE(text, '')"
    )
    assert ch.EXTRACTION_TMPL == "Extract the key elements for: __INSTRUCTION__\n\n__CONTEXT__"
    omission = ch.OMISSION_TMPL.replace("'", "''")
    attribution = ch.ATTRIBUTION_TMPL.replace("'", "''")
    return f"""
    WITH r1 AS (
        SELECT doc_id, '<user>' || {extraction_user} || '</user>' AS conv1 FROM documents
    ),
    e1 AS (SELECT doc_id, conv1, md5('mock:' || conv1) AS extraction FROM r1),
    e2 AS (
        SELECT doc_id, extraction,
               conv1 || '<assistant>' || extraction || '</assistant>'
                     || '<user>' || '{omission}' || '</user>' AS conv2
        FROM e1
    ),
    e3 AS (SELECT doc_id, extraction, conv2, md5('mock:' || conv2) AS complement FROM e2),
    e4 AS (
        SELECT doc_id, extraction, complement,
               conv2 || '<assistant>' || complement || '</assistant>'
                     || '<user>' || '{attribution}' || '</user>' AS conv3
        FROM e3
    )
    SELECT doc_id, extraction, complement, md5('mock:' || conv3) AS attribution FROM e4
    """


@query("self_verification", oracle=_self_verification_oracle())
def self_verification_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L9 self-verification chain: 3 sequential conversation rounds
    (extraction -> omission -> attribution) threading one ChatML column."""
    from instructionspipe_spark.plans.chains import self_verification_chain

    (documents,) = _t(spark, sf_dir, "documents")
    out = self_verification_chain(documents, "lang", "text")
    return out.select("doc_id", "extraction", "complement", "attribution")


@query(
    "constrained_json_parse",
    oracle=r"""
    WITH raw AS (
        SELECT doc_id,
               CASE
                 WHEN doc_id % 7 = 0 THEN 'not a json payload'
                 WHEN doc_id % 11 = 0 THEN 'chain of thought</think> {"answer": "' || md5(text)
                      || '", "score": ' || CAST(doc_id % 5 AS VARCHAR) || ', "ok": false}'
                 WHEN doc_id % 3 = 0 THEN '```json {"answer": "' || md5(text) || '", "score": '
                      || CAST(doc_id % 5 AS VARCHAR) || ', "ok": true} ```'
                 ELSE '{"answer": "' || md5(text) || '", "score": '
                      || CAST(doc_id % 5 AS VARCHAR) || ', "ok": false}'
               END AS completion
        FROM documents
    ),
    stripped AS (
        SELECT doc_id,
               trim(regexp_replace(regexp_replace(
                   list_extract(string_split(completion, '</think>'), -1),
                   '^\s*```(json|python)?\s*', ''), '\s*```\s*$', '')) AS s
        FROM raw
    )
    SELECT doc_id,
           CASE WHEN json_valid(s) THEN json_extract_string(s, '$.answer') END AS answer,
           CASE WHEN json_valid(s) THEN CAST(json_extract(s, '$.score') AS BIGINT) END AS score,
           CASE WHEN json_valid(s) THEN CAST(json_extract(s, '$.ok') AS BOOLEAN) END AS ok
    FROM stripped
    """,
)
def constrained_json_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L12 constrained-decoding parse stage: completions under a declared
    JSON schema (the reference's INIT_GEN_SCHEMA shape,
    ``self_verification_mr.py:19-34``) parse via from_json after the F7
    fence-strip fallback — fenced, reasoning-prefixed, and malformed
    completions all flow through one expression-only plan; malformed rows
    yield NULL fields, never an error."""
    from instructionspipe_spark.plans.structured import parse_structured

    (documents,) = _t(spark, sf_dir, "documents")
    md = F.md5(F.col("text"))
    score = (F.col("doc_id") % 5).cast("string")
    bare = F.concat(
        F.lit('{"answer": "'), md, F.lit('", "score": '), score, F.lit(', "ok": false}')
    )
    fenced = F.concat(
        F.lit('```json {"answer": "'), md, F.lit('", "score": '), score, F.lit(', "ok": true} ```')
    )
    completion = (
        F.when(F.col("doc_id") % 7 == 0, F.lit("not a json payload"))
        .when(F.col("doc_id") % 11 == 0, F.concat(F.lit("chain of thought</think> "), bare))
        .when(F.col("doc_id") % 3 == 0, fenced)
        .otherwise(bare)
    )
    schema = {
        "type": "object",
        "properties": {
            "answer": {"type": "string"},
            "score": {"type": "integer"},
            "ok": {"type": "boolean"},
        },
        "required": ["answer", "score", "ok"],
        "additionalProperties": False,
    }
    parsed = parse_structured(
        documents.select("doc_id", completion.alias("completion")), "completion", schema
    )
    return parsed.select(
        "doc_id",
        F.col("parsed.answer").alias("answer"),
        F.col("parsed.score").alias("score"),
        F.col("parsed.ok").alias("ok"),
    )


# ---------------------------------------------------------------------------
# §2.8 F5-F7: tag extraction / fence stripping over synthesized wrappers
# ---------------------------------------------------------------------------


@query(
    "tag_extraction",
    oracle="""
    WITH wrapped AS (
        SELECT doc_id,
               '<code>' || substr(text, 1, 40) || '</code> trailing' AS tagged,
               chr(96) || chr(96) || chr(96) || 'json' || chr(10) || lang
                   || chr(10) || chr(96) || chr(96) || chr(96) AS fenced
        FROM documents
    )
    SELECT doc_id,
           substr(text, 1, 40) AS extracted,
           lang AS unfenced
    FROM wrapped JOIN documents USING (doc_id)
    """,
)
def tag_extraction_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6/F7: tag_extract + fence_strip round-trip — wrap real document text
    in tags/fences, extract back (oracle states the identity directly; the
    Spark side actually exercises the regexes)."""
    from instructionspipe_spark.functions.text import fence_strip, tag_extract

    (documents,) = _t(spark, sf_dir, "documents")
    wrapped = documents.select(
        "doc_id",
        F.concat(F.lit("<code>"), F.substring("text", 1, 40), F.lit("</code> trailing")).alias("tagged"),
        F.concat(F.lit("```json\n"), F.col("lang"), F.lit("\n```")).alias("fenced"),
    )
    return wrapped.select(
        "doc_id",
        tag_extract("tagged", "<code>", "</code>").alias("extracted"),
        fence_strip("fenced").alias("unfenced"),
    )


# ---------------------------------------------------------------------------
# North-star: multimodal — the Arrow mapInPandas kernel itself, oracle-checked
# ---------------------------------------------------------------------------


def _media_features_oracle() -> str:
    from instructionspipe_spark.operators.multimodal import FEATURE_DIM

    feats = ",\n           ".join(
        f"ROUND(CAST(('0x' || substr(sha256(text), {i * 8 + 1}, 8))::BIGINT AS DOUBLE)"
        f" / 4294967295.0, 6) AS f{i}"
        for i in range(FEATURE_DIM)
    )
    return f"""
    SELECT doc_id,
           sha256(text) AS content_hash,
           octet_length(encode(text)) AS n_bytes,
           {feats}
    FROM documents
    """


@query("media_features", oracle=_media_features_oracle())
def media_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal feature extraction end-to-end: text bytes as an opaque
    binary column through the Arrow-batched mapInPandas kernel (the decode
    stub derives features from sha256 of the bytes) — the ONE kernel-based
    query with a full SQL oracle, proving the Python<->JVM batch path
    byte-exact against DuckDB."""
    from instructionspipe_spark.operators.multimodal import (
        FEATURE_DIM,
        extract_features,
        fake_decode,
        media_struct,
    )

    (documents,) = _t(spark, sf_dir, "documents")
    media = documents.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("content"),
        media_struct("text", "utf-8").alias("meta"),
    )
    # decode_fn pinned to the deterministic stub: the oracle mirrors its
    # sha256-derived features, and the operator default may upgrade to a
    # real codec (pil_decode) when one is installed.
    feats = extract_features(media, decode_fn=fake_decode)
    return feats.select(
        "doc_id",
        "content_hash",
        "n_bytes",
        *[F.round(F.element_at("features", i + 1), 6).alias(f"f{i}") for i in range(FEATURE_DIM)],
    )


# ---------------------------------------------------------------------------
# §2.8 F9: model-family ChatML rewrite
# ---------------------------------------------------------------------------


@query(
    "chatml_family_adjust",
    oracle="""
    SELECT doc_id,
           '<user>' || lang || '</user><assistant>Ok.</assistant><user>' || text || '</user>'
               AS gemma_text,
           '<system>' || lang || '</system><user>' || text || '</user>' AS llama_text
    FROM documents
    """,
)
def chatml_family_adjust_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 chatml_check_and_adjust: gemma/mistral demote system->user and
    splice an 'Ok.' acknowledgement; system-capable families unchanged
    (reference apps/training/sft.py:54-75). Oracle states the expected
    flattened conversations directly."""
    import instructionspipe_spark.functions.chatml as cm

    (documents,) = _t(spark, sf_dir, "documents")
    base = documents.select(
        "doc_id",
        cm.chatml(cm.msg("system", F.col("lang")), cm.msg("user", F.col("text"))).alias("m"),
    )
    return base.select(
        "doc_id",
        cm.chatml_to_text(cm.chatml_adjust_for_family("m", "gemma")).alias("gemma_text"),
        cm.chatml_to_text(cm.chatml_adjust_for_family("m", "llama")).alias("llama_text"),
    )


# ---------------------------------------------------------------------------
# §2.9 L5/J5: response-cache protocol (dedup-before-call collapse)
# ---------------------------------------------------------------------------


@query(
    "cached_completions",
    oracle="""
    SELECT doc_id, lang,
           sha256('prompt for ' || lang) AS cache_key,
           md5('mock:' || 'prompt for ' || lang) AS answer
    FROM documents
    """,
)
def cached_completions_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 cache-table protocol: identical prompts collapse to one model call
    (dropDuplicates on sha256 key) and join back. With 500 docs over a
    handful of langs the kernel runs once per DISTINCT prompt — the collapse
    is the whole point at 100 TB. Oracle recomputes key+completion per row."""
    from instructionspipe_spark.plans.cache import cached_llm_call
    from instructionspipe_spark.plans.llm_kernel import MockLlm

    (documents,) = _t(spark, sf_dir, "documents")
    prompts = documents.select(
        "doc_id", "lang", F.concat(F.lit("prompt for "), F.col("lang")).alias("__p")
    )
    out = cached_llm_call(prompts, "__p", "answer", MockLlm(), cache_path=None)
    return out.select(
        "doc_id", "lang", F.sha2(F.col("__p"), 256).alias("cache_key"), "answer"
    ).drop("__p")


# ---------------------------------------------------------------------------
# §2.9 L7 judge fan-out + A9 mean ensemble (MockJudgeLlm — oracle-checkable)
# ---------------------------------------------------------------------------


def _judge_fanout_oracle(models=("m1", "m2", "m3")) -> str:
    prompt = "'Evidence: ' || text || chr(10) || 'Response: ' || lang"
    score_terms = " + ".join(
        f"(CASE WHEN substr(md5('{m}:' || ({prompt})), 1, 1) IN "
        "('0','1','2','3','4','5','6','7') THEN 1.0 ELSE 0.0 END)"
        for m in models
    )
    return f"""
    SELECT doc_id, ROUND(({score_terms}) / {len(models)}, 4) AS score
    FROM documents
    """


@query("judge_fanout_ensemble", oracle=_judge_fanout_oracle())
def judge_fanout_ensemble_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L7 factuality judging fanned out over 3 judge models, labels parsed
    from (fenced) JSON, scores mean-ensembled per document (A9)."""
    from instructionspipe_spark.functions.text import template_fill
    from instructionspipe_spark.plans.judge import run_judge_fanout

    (documents,) = _t(spark, sf_dir, "documents")
    prompts = documents.select(
        "doc_id",
        template_fill(
            "Evidence: __CONTEXT__\nResponse: __RESPONSE__",
            {"__CONTEXT__": "text", "__RESPONSE__": "lang"},
        ).alias("__prompt"),
    )
    out = run_judge_fanout(prompts, "__prompt", ["m1", "m2", "m3"], ["doc_id"])
    return out.select("doc_id", F.round("score", 4).alias("score"))


_GRPO_K = 4  # candidates per prompt group


def _grpo_oracle(k: int = _GRPO_K) -> str:
    prompt = "'Answer for: ' || text"
    reward = (
        "CASE WHEN substr(md5('cand' || CAST(cand AS VARCHAR) || ':' || ({p})), 1, 1) IN "
        "('0','1','2','3','4','5','6','7') THEN 1.0 ELSE 0.0 END"
    ).format(p=prompt)
    return f"""
    WITH cands AS (
        SELECT doc_id, cand, {reward} AS reward
        FROM documents, (SELECT unnest(range({k})) AS cand)
    ),
    stats AS (
        SELECT doc_id, AVG(reward) AS mu, stddev_pop(reward) AS sigma
        FROM cands GROUP BY doc_id
    )
    SELECT c.doc_id, c.cand, c.reward,
           ROUND((c.reward - s.mu) / (s.sigma + 1e-6), 4) AS advantage
    FROM cands c JOIN stats s USING (doc_id)
    """


@query("grpo_reward_advantage", oracle=_grpo_oracle())
def grpo_reward_advantage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L13's data-plane core: judge-as-reward over k candidate completions
    per prompt (grpo_plugin.py:181-243) followed by GRPO group-relative
    advantage normalization — explode k candidate indexes (cheap, before
    the judge expression per the Generate rule), score each with the
    deterministic judge, normalize within the prompt group."""
    from instructionspipe_spark.plans.judge import (
        factuality_score,
        group_relative_advantage,
        mock_judge_response,
        parse_judgement,
    )

    (documents,) = _t(spark, sf_dir, "documents")
    cands = documents.select(
        "doc_id",
        F.concat(F.lit("Answer for: "), F.col("text")).alias("__prompt"),
        F.explode(F.sequence(F.lit(0), F.lit(_GRPO_K - 1))).alias("cand"),
    )
    judged = cands.withColumn(
        "reward",
        factuality_score(
            parse_judgement(
                mock_judge_response(
                    F.concat(F.lit("cand"), F.col("cand").cast("string")), F.col("__prompt")
                )
            )
        ),
    )
    out = group_relative_advantage(judged, "reward", ["doc_id"])
    return out.select("doc_id", "cand", "reward", F.round("advantage", 4).alias("advantage"))


# ---------------------------------------------------------------------------
# G7 scale path: hash-proportional split + sign-LSH ANN, both oracle-paired
# ---------------------------------------------------------------------------


@query(
    "hash_split_counts",
    oracle="""
    WITH u AS (
        SELECT o_custkey,
               CAST(('0x' || substr(md5('42|' || CAST(o_custkey AS VARCHAR)), 1, 12))::BIGINT
                    AS DOUBLE) / 281474976710656.0 AS __u
        FROM orders
    ),
    assigned AS (
        SELECT o_custkey,
               CASE WHEN __u < 0.8 THEN 'train'
                    WHEN __u < 0.9 THEN 'val'
                    ELSE 'test' END AS split
        FROM u
    )
    SELECT split, COUNT(1) AS n FROM assigned GROUP BY split
    """,
)
def hash_split_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G7 at scale: hash-proportional leak-free split — no distinct, no
    global window, no join; pure per-row expression (operators/splitting.py
    hash_split). Counts per split, oracle recomputes the md5 assignment."""
    from instructionspipe_spark.operators.splitting import hash_split

    (orders,) = _t(spark, sf_dir, "orders")
    out = hash_split(orders, "o_custkey", {"train": 0.8, "val": 0.1, "test": 0.1}, seed=42)
    return out.groupBy("split").agg(F.count(F.lit(1)).alias("n"))


def _lsh_topk_oracle(n_bits: int = 4, k: int = 5) -> str:
    """Oracle for sign-LSH bucketed top-k: mirrors hyperplane_sign_bits
    (md5-derived hyperplane coords) and the normalized-dot cosine."""
    def proj(j: int) -> str:
        return (
            "list_sum(list_transform(range(0, len(__v)), i -> "
            f"__v[i + 1] * (CAST(('0x' || substr(md5('{j}' || ':' || CAST(i AS VARCHAR)), 1, 4))::BIGINT AS DOUBLE)"
            " / 65536.0 - 0.5)))"
        )

    bucket = " + ".join(
        f"(CASE WHEN {proj(j)} >= 0 THEN {2 ** (n_bits - 1 - j)} ELSE 0 END)" for j in range(n_bits)
    )
    return f"""
    WITH raw AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS __v FROM embeddings),
    v AS (
        SELECT vec_id,
               list_transform(__v, x -> x / sqrt(list_sum(list_transform(__v, y -> y * y)))) AS __nv,
               ({bucket}) AS __bucket
        FROM raw
    ),
    q AS (SELECT vec_id AS query_id, __nv, __bucket FROM v WHERE vec_id < 3),
    scored AS (
        SELECT q.query_id, a.vec_id,
               ROUND(CAST(list_sum(list_transform(range(1, len(q.__nv) + 1),
                                                  i -> q.__nv[i] * a.__nv[i])) AS DOUBLE), 4) AS cosine
        FROM v a JOIN q ON a.__bucket = q.__bucket
    ),
    ranked AS (
        SELECT query_id, vec_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
        FROM scored
    )
    SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= {k}
    """


def _lsh_multiprobe_oracle(n_bits: int = 4, k: int = 5) -> str:
    """Multi-probe twin of _lsh_topk_oracle: the query side probes its own
    bucket plus each one-bit-flipped neighbor."""
    def proj(j: int) -> str:
        return (
            "list_sum(list_transform(range(0, len(__v)), i -> "
            f"__v[i + 1] * (CAST(('0x' || substr(md5('{j}' || ':' || CAST(i AS VARCHAR)), 1, 4))::BIGINT AS DOUBLE)"
            " / 65536.0 - 0.5)))"
        )

    bucket = " + ".join(
        f"(CASE WHEN {proj(j)} >= 0 THEN {2 ** (n_bits - 1 - j)} ELSE 0 END)" for j in range(n_bits)
    )
    probe_list = ", ".join(["__bucket"] + [f"xor(__bucket, {1 << b})" for b in range(n_bits)])
    return f"""
    WITH raw AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS __v FROM embeddings),
    v AS (
        SELECT vec_id,
               list_transform(__v, x -> x / sqrt(list_sum(list_transform(__v, y -> y * y)))) AS __nv,
               ({bucket}) AS __bucket
        FROM raw
    ),
    q AS (
        SELECT vec_id AS query_id, __nv, p.pb AS __bucket
        FROM v, UNNEST([{probe_list}]) AS p(pb)
        WHERE vec_id < 3
    ),
    scored AS (
        SELECT q.query_id, a.vec_id,
               ROUND(CAST(list_sum(list_transform(range(1, len(q.__nv) + 1),
                                                  i -> q.__nv[i] * a.__nv[i])) AS DOUBLE), 4) AS cosine
        FROM v a JOIN q ON a.__bucket = q.__bucket
    ),
    ranked AS (
        SELECT query_id, vec_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
        FROM scored
    )
    SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= {k}
    """


def _lsh_multitable_oracle(n_bits: int = 4, n_tables: int = 4, k: int = 5) -> str:
    """OR-amplification twin of _lsh_multiprobe_oracle: ``n_tables``
    independent tables (hyperplane index offset t*n_bits), candidates are
    the DISTINCT pairs colliding in any (table, probed bucket)."""
    def proj(j: int) -> str:
        return (
            "list_sum(list_transform(range(0, len(__v)), i -> "
            f"__v[i + 1] * (CAST(('0x' || substr(md5('{j}' || ':' || CAST(i AS VARCHAR)), 1, 4))::BIGINT AS DOUBLE)"
            " / 65536.0 - 0.5)))"
        )

    def bucket(t: int) -> str:
        return " + ".join(
            f"(CASE WHEN {proj(t * n_bits + j)} >= 0 THEN {2 ** (n_bits - 1 - j)} ELSE 0 END)"
            for j in range(n_bits)
        )

    table_rows = ", ".join("{'t': %d, 'b': %s}" % (t, bucket(t)) for t in range(n_tables))
    probe_list = ", ".join(["tb.b"] + [f"xor(tb.b, {1 << b})" for b in range(n_bits)])
    return f"""
    WITH raw AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS __v FROM embeddings),
    v AS (
        SELECT vec_id,
               list_transform(__v, x -> x / sqrt(list_sum(list_transform(__v, y -> y * y)))) AS __nv,
               [{table_rows}] AS __tbs
        FROM raw
    ),
    cb AS (
        SELECT vec_id, tb.t AS __table, tb.b AS __bucket
        FROM v, UNNEST(__tbs) AS u(tb)
    ),
    qb AS (
        SELECT vec_id AS query_id, tb.t AS __table, p.pb AS __bucket
        FROM (SELECT vec_id, UNNEST(__tbs) AS tb FROM v WHERE vec_id < 3) t(vec_id, tb),
             UNNEST([{probe_list}]) AS p(pb)
    ),
    cand AS (
        SELECT DISTINCT qb.query_id, cb.vec_id
        FROM cb JOIN qb ON cb.__table = qb.__table AND cb.__bucket = qb.__bucket
    ),
    scored AS (
        SELECT cand.query_id, cand.vec_id,
               ROUND(CAST(list_sum(list_transform(range(1, len(qv.__nv) + 1),
                                                  i -> qv.__nv[i] * cv.__nv[i])) AS DOUBLE), 4) AS cosine
        FROM cand
        JOIN v cv ON cv.vec_id = cand.vec_id
        JOIN v qv ON qv.vec_id = cand.query_id
    ),
    ranked AS (
        SELECT query_id, vec_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
        FROM scored
    )
    SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= {k}
    """


@query("similarity_multitable_topk", oracle=_lsh_multitable_oracle())
def similarity_multitable_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-amplified multi-table sign-LSH ANN (4 tables x 4 bits, one-bit
    multi-probe): recall 0.97@5 on the near-random sf0.01 embeddings where
    single-table LSH stalls at 0.6 — the recall knob a 100 TB ANN pass
    actually turns. Each corpus row is hashed once per table; a pair that
    collides in several tables scores once."""
    from instructionspipe_spark.operators.similarity import ann_topk

    (embeddings,) = _t(spark, sf_dir, "embeddings")
    queries_df = embeddings.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = ann_topk(embeddings, queries_df, k=5, n_bits=4, n_tables=4, multiprobe=True, rank_round=4)
    return out.select("query_id", "vec_id", F.round(F.col("cosine"), 4).alias("cosine"), "rank")


@query("similarity_lsh_multiprobe", oracle=_lsh_multiprobe_oracle())
def similarity_lsh_multiprobe_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe sign-LSH ANN: probes the query's bucket plus each one-bit
    neighbor — higher recall than single-probe at (n_bits+1)x candidate
    cost, still one streaming equi-join."""
    from instructionspipe_spark.operators.similarity import ann_topk

    (embeddings,) = _t(spark, sf_dir, "embeddings")
    queries_df = embeddings.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = ann_topk(embeddings, queries_df, k=5, n_bits=4, multiprobe=True, rank_round=4)
    return out.select("query_id", "vec_id", F.round(F.col("cosine"), 4).alias("cosine"), "rank")


@query("similarity_lsh_topk", oracle=_lsh_topk_oracle())
def similarity_lsh_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path: sign-LSH bucketing (stateless md5 hyperplanes) turns
    the cross join into an equi-join on the bucket; top-5 within bucket."""
    from instructionspipe_spark.operators.similarity import ann_topk

    (embeddings,) = _t(spark, sf_dir, "embeddings")
    queries_df = embeddings.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = ann_topk(embeddings, queries_df, k=5, n_bits=4, rank_round=4)
    return out.select("query_id", "vec_id", F.round(F.col("cosine"), 4).alias("cosine"), "rank")


# ---------------------------------------------------------------------------
# §2.9 L11: agentic supervisor fan-out -> task kernels -> state merge
# ---------------------------------------------------------------------------


def _agentic_oracle() -> str:
    """Oracle mirrors agentic_map over DOC_PIPELINE's map stage: per-task
    kernels are the standard instruction kernel, the merged state is the
    JSON rendering of {name: completion} in instruction order."""
    from instructionspipe_spark.plans.oracle_compiler import completion_sql

    instrs = DOC_PIPELINE.stages[0]
    available = {"text", "lang"}
    pairs = []
    for i in instrs:
        c = completion_sql(i, available)
        pairs.append(f"'\"{i.name}\":\"' || {c} || '\"'")
    json_expr = "'{' || " + " || ',' || ".join(pairs) + " || '}'"
    return f"""
    SELECT doc_id, {json_expr} AS agent_state FROM documents
    """


@query("agentic_fanout", oracle=_agentic_oracle())
def agentic_fanout_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L11 agentic MR: instructions routed to task kernels (both map to the
    default kernel here), outputs merged into per-record state
    (map<name,completion>), rendered as JSON for the hash compare."""
    from instructionspipe_spark.plans.agentic import agentic_map

    (documents,) = _t(spark, sf_dir, "documents")
    out = agentic_map(
        documents.select("doc_id", "text", "lang"),
        DOC_PIPELINE.stages[0],
        MockLlm(),
        task_of=lambda i: "text" if "text" in i.scope else "meta",
    )
    return out.select("doc_id", F.to_json(F.col("agent_results")).alias("agent_state"))


def _agentic_routed_oracle() -> str:
    """Oracle for RUNTIME routing: the router value (lang = 'en' -> the
    'en_expert' model, anything else -> 'generalist') selects which model's
    completion hash each record carries — per-record CASE over the same
    completion_sql the static oracle uses."""
    from instructionspipe_spark.plans.oracle_compiler import completion_sql

    instrs = DOC_PIPELINE.stages[0]
    available = {"text", "lang"}
    pairs = []
    for i in instrs:
        en = completion_sql(i, available, model="en_expert")
        gen = completion_sql(i, available, model="generalist")
        c = f"CASE WHEN lang = 'en' THEN {en} ELSE {gen} END"
        pairs.append(f"'\"{i.name}\":\"' || ({c}) || '\"'")
    json_expr = "'{' || " + " || ',' || ".join(pairs) + " || '}'"
    return f"""
    SELECT doc_id, {json_expr} AS agent_state FROM documents
    """


@query("agentic_routed_fanout", oracle=_agentic_routed_oracle())
def agentic_routed_fanout_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L11+ dynamic routing (plans/agentic.py:agentic_map_routed): the
    router COLUMN (computed from each record's lang) decides at runtime
    which agent/model runs the record's instructions — the dataflow form of
    the reference supervisor's conditional Send edges (v0.py:118-137),
    closing the static-only routing gap VERDICT r4 item 4 named. Unknown
    langs fall back to the generalist."""
    from instructionspipe_spark.plans.agentic import agentic_map_routed

    (documents,) = _t(spark, sf_dir, "documents")
    out = agentic_map_routed(
        documents.select("doc_id", "text", "lang"),
        DOC_PIPELINE.stages[0],
        llms={"en_expert": MockLlm(model="en_expert"), "generalist": MockLlm(model="generalist")},
        router=F.when(F.col("lang") == "en", F.lit("en_expert")).otherwise(F.lit("generalist")),
        default_task="generalist",
    )
    return out.select("doc_id", F.to_json(F.col("agent_results")).alias("agent_state"))


def _ivf_topk_oracle(n_cells: int = 8, n_probe: int = 2, k: int = 5) -> str:
    """Oracle for the deterministic IVF: centroids are the ``n_cells``
    lowest-id vectors; assignment ranks ROUND(cosine, 6) with cell-id tie
    break — the exact rule of ann_topk(n_cells=...), by construction."""
    dot = "CAST(list_sum(list_transform(range(1, len(a.__nv) + 1), i -> a.__nv[i] * c.__cent[i])) AS DOUBLE)"
    return f"""
    WITH v AS (SELECT vec_id, {_NORMALIZE_SQL} AS __nv FROM embeddings),
    cent AS (
        SELECT vec_id AS cell, __nv AS __cent
        FROM v QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= {n_cells}
    ),
    c_assigned AS (
        SELECT a.vec_id, a.__nv, c.cell,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                  ORDER BY ROUND({dot}, 6) DESC, c.cell ASC) AS __ar
        FROM v a CROSS JOIN cent c
    ),
    c_cells AS (SELECT vec_id, __nv, cell FROM c_assigned WHERE __ar = 1),
    q_probes AS (
        SELECT vec_id AS query_id, __nv AS __qnv, cell
        FROM c_assigned WHERE vec_id < 3 AND __ar <= {n_probe}
    ),
    scored AS (
        SELECT q.query_id, a.vec_id,
               ROUND(CAST(list_sum(list_transform(range(1, len(q.__qnv) + 1),
                                                  i -> q.__qnv[i] * a.__nv[i])) AS DOUBLE), 4) AS cosine
        FROM c_cells a JOIN q_probes q ON a.cell = q.cell
    ),
    ranked AS (
        SELECT query_id, vec_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
        FROM scored
    )
    SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= {k}
    """


@query("similarity_ivf_topk", oracle=_ivf_topk_oracle())
def similarity_ivf_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN scale path, oracle-gated via the deterministic data-seeded
    quantizer (operators/similarity.py ann_topk, codec none): centroids =
    lowest-id vectors, corpus assignment one broadcast pass, probe equi-join
    on the cell id. The trained quantizer (trained=True) stays library-only
    with pytest coverage vs brute force."""
    from instructionspipe_spark.operators.similarity import ann_topk

    (embeddings,) = _t(spark, sf_dir, "embeddings")
    queries_df = embeddings.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return ann_topk(
        embeddings, queries_df, k=5, codec="none", n_cells=8, n_probe=2, rank_round=4
    ).select("query_id", "vec_id", F.round(F.col("cosine"), 4).alias("cosine"), "rank")


def _ivf_two_level_oracle(
    n_cells: int = 64, n_probe: int = 4, k: int = 5, super_probes: int = 2
) -> str:
    """Exact replay of the two-level IVF coarse quantizer: supers = lowest
    ceil(sqrt(k)) centroids; child->super argmax; corpus vector -> top
    `super_probes` supers -> best child among their children (every
    ranking on ROUND(dot, 6) with lowest-id tie break); queries rank FLAT
    over all centroids (rn <= n_probe) exactly like the flat row."""
    import math

    n_super = math.isqrt(max(n_cells - 1, 0)) + 1
    dot_cs = "CAST(list_sum(list_transform(range(1, len(c.__cent) + 1), i -> c.__cent[i] * s.__scent[i])) AS DOUBLE)"
    dot_as = "CAST(list_sum(list_transform(range(1, len(a.__nv) + 1), i -> a.__nv[i] * s.__scent[i])) AS DOUBLE)"
    dot_ac = "CAST(list_sum(list_transform(range(1, len(a.__nv) + 1), i -> a.__nv[i] * c.__cent[i])) AS DOUBLE)"
    return f"""
    WITH v AS (SELECT vec_id, {_NORMALIZE_SQL} AS __nv FROM embeddings),
    cent AS (
        SELECT vec_id AS cell, __nv AS __cent
        FROM v QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= {n_cells}
    ),
    sup AS (
        SELECT cell AS super, __cent AS __scent FROM cent ORDER BY cell LIMIT {n_super}
    ),
    c2s AS (
        SELECT cell, __cent, super FROM (
            SELECT c.cell, c.__cent, s.super,
                   ROW_NUMBER() OVER (PARTITION BY c.cell
                                      ORDER BY ROUND({dot_cs}, 6) DESC, s.super) AS rn
            FROM cent c, sup s
        ) WHERE rn = 1
    ),
    vsup AS (
        SELECT vec_id, __nv, super FROM (
            SELECT a.vec_id, a.__nv, s.super,
                   ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                      ORDER BY ROUND({dot_as}, 6) DESC, s.super) AS rn
            FROM v a, sup s
        ) WHERE rn <= {super_probes}
    ),
    c_cells AS (
        SELECT vec_id, __nv, cell FROM (
            SELECT a.vec_id, a.__nv, c.cell,
                   ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                      ORDER BY ROUND({dot_ac}, 6) DESC, c.cell) AS rn
            FROM vsup a JOIN c2s c ON a.super = c.super
        ) WHERE rn = 1
    ),
    q_probes AS (
        SELECT vec_id AS query_id, __nv AS __qnv, cell FROM (
            SELECT a.vec_id, a.__nv, c.cell,
                   ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                      ORDER BY ROUND({dot_ac}, 6) DESC, c.cell) AS rn
            FROM v a, cent c WHERE a.vec_id < 3
        ) WHERE rn <= {n_probe}
    ),
    scored AS (
        SELECT q.query_id, a.vec_id,
               ROUND(CAST(list_sum(list_transform(range(1, len(q.__qnv) + 1),
                                                  i -> q.__qnv[i] * a.__nv[i])) AS DOUBLE), 4) AS cosine
        FROM c_cells a JOIN q_probes q ON a.cell = q.cell
    ),
    ranked AS (
        SELECT query_id, vec_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
        FROM scored
    )
    SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= {k}
    """


@query("similarity_ivf_two_level_topk", oracle=_ivf_two_level_oracle())
def similarity_ivf_two_level_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with the HIERARCHICAL coarse quantizer engaged — the
    cells-grow-with-corpus production shape (operators/similarity.py
    ann_topk, codec none, assign_levels=2). Flat corpus assignment is
    O(n*k) dots; at the constant-cell-size sizing (k proportional to n)
    that is the same superlinear term the r10 probe measured on SemDeDup's
    identical argmax shape (alpha 1.16->1.56). Two-level routing —
    ceil(sqrt(k)) super-centroids, top-2 super probes, best child within —
    costs O(n*sqrt(k)); queries stay flat (O(q*k), q tiny) so probe
    ranking is exact. n_cells=64 here (vs the flat row's 8) so the
    super-centroid layer is real (8 supers x 8 children) at every SF; the
    oracle replays the full two-level argmax chain, so the routing is
    value-verified, not recall-bounded."""
    from instructionspipe_spark.operators.similarity import ann_topk

    (embeddings,) = _t(spark, sf_dir, "embeddings")
    queries_df = embeddings.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return ann_topk(
        embeddings, queries_df, k=5, codec="none", n_cells=64, n_probe=4, rank_round=4,
        assign_levels=2,
    ).select("query_id", "vec_id", F.round(F.col("cosine"), 4).alias("cosine"), "rank")


# ---------------------------------------------------------------------------
# §2.4 more TPC-H shapes: q6 (scan-filter-agg), q14 (conditional ratio),
# q18 (having + join + top-k)
# ---------------------------------------------------------------------------


@query(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST(ROUND(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(25,6))), 2) AS DOUBLE)
               AS revenue,
           COUNT(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.09
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-side conjunctive filter + global agg — the
    canonical predicate-pushdown benchmark (all four predicates reach the
    parquet reader; zero shuffles beyond the final single-row agg)."""
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & F.col("l_discount").between(0.03, 0.09)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(25,6)")), 2
            ).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "q14_promo_ratio",
    oracle="""
    SELECT CAST(ROUND(
               100.0 * SUM(CAST(CASE WHEN p.p_type LIKE 'PROMO%'
                                     THEN l.l_extendedprice * (1 - l.l_discount)
                                     ELSE 0 END AS DECIMAL(25,6)))
               / SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(25,6))), 4)
           AS DOUBLE) AS promo_revenue_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1995-09-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1995-10-01 00:00:00'
    """,
)
def q14_promo_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: fact-dim join + conditional aggregate ratio. part
    broadcasts; the CASE folds into the partial agg (one shuffle of two
    decimal partials, not rows). Decimal/decimal division keeps the ratio
    exact until the final rounding."""
    lineitem, part = _t(spark, sf_dir, "lineitem", "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(25,6)")
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(F.lit(0).cast("decimal(25,6)"))
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1995-09-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1995-10-01 00:00:00").cast("timestamp"))
        )
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(F.lit(100.0) * F.sum(promo) / F.sum(rev), 4)
            .cast("double")
            .alias("promo_revenue_pct")
        )
    )


@query(
    "q18_large_orders",
    oracle="""
    WITH big AS (
        SELECT l_orderkey
        FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(25,6))) > 150
    )
    SELECT c.c_name, o.o_orderkey AS orderkey, o.o_orderdate AS orderdate,
           CAST(o.o_totalprice AS DOUBLE) AS totalprice
    FROM orders o
    JOIN big ON o.o_orderkey = big.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY totalprice DESC, orderkey ASC
    LIMIT 20
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-filtered aggregate as a semi-join input, then
    dim join + top-k. The `big` set after HAVING is tiny, so both joins
    broadcast it; TakeOrdered handles the top-20."""
    customer, orders, lineitem = _t(spark, sf_dir, "customer", "orders", "lineitem")
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(25,6)")).alias("__qty"))
        .filter(F.col("__qty") > 150)
        .select("l_orderkey")
    )
    return (
        orders.join(F.broadcast(big), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(customer, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_name",
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_orderdate").alias("orderdate"),
            F.col("o_totalprice").cast("double").alias("totalprice"),
        )
        .orderBy(F.desc("totalprice"), F.asc("orderkey"))
        .limit(20)
    )


@query(
    "salted_aggregate",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(25,6))), 2) AS DOUBLE) AS total,
           CAST(MAX(value) AS DOUBLE) AS mx
    FROM events
    GROUP BY event_type
    """,
)
def salted_aggregate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation (operators/skew.py): partial agg on
    (key, salt) spreads a hot key over many reducers, then a second tiny
    shuffle merges per-salt partials. The oracle is the plain GROUP BY —
    salting must be semantically invisible. Algebraic fns only (sum/count/
    min/max merge associatively); cf. reference's single-process group-by
    (apps/etl/etl_sampling_by_key.py:17-32) which has no skew story at all."""
    from instructionspipe_spark.operators.skew import salted_aggregate

    (events,) = _t(spark, sf_dir, "events")
    out = salted_aggregate(
        events.withColumn("__v", F.col("value").cast("decimal(25,6)")),
        ["event_type"],
        {"n": ("count", "*"), "total": ("sum", "__v"), "mx": ("max", "value")},
        salt_buckets=16,
    )
    return out.select(
        "event_type",
        "n",
        F.round(F.col("total"), 2).cast("double").alias("total"),
        F.col("mx").cast("double").alias("mx"),
    )


@query(
    "q4_priority_exists",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_discount > 0.05)
    GROUP BY o_orderpriority
    """,
)
def q4_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS decorrelates to a LEFT SEMI join — the probe
    side never materializes matched rows, so the shuffle carries only
    distinct l_orderkeys. (Adapted predicate: testdata lacks
    l_commitdate/l_receiptdate.)"""
    from instructionspipe_spark.session import broadcast_if_small

    orders, lineitem = _t(spark, sf_dir, "orders", "lineitem")
    # distinct() before the semi join: many lineitems per order collapse to
    # one build row, and the aggregate makes the build side a REDUCED set
    # (never the raw lineitem scan — the largest table must stream).
    discounted = lineitem.filter(F.col("l_discount") > 0.05).select("l_orderkey").distinct()
    return (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-07-01 00:00:00").cast("timestamp"))
        )
        .join(broadcast_if_small(discounted), F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "q13_customer_distribution",
    oracle="""
    WITH c_orders AS (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        FROM customer c
        LEFT OUTER JOIN orders o
          ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    )
    SELECT c_count, COUNT(*) AS custdist
    FROM c_orders
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: outer join with a join-side predicate (NOT a
    post-filter — null-extended rows must survive), then a distribution over
    the grouped counts. COUNT(col) vs COUNT(*) null semantics is the trap:
    unmatched customers count 0, not 1. (Adapted: priority filter replaces
    the comment LIKE — testdata has no o_comment.)"""
    from instructionspipe_spark.session import broadcast_if_small

    customer, orders = _t(spark, sf_dir, "customer", "orders")
    # Aggregate-before-join: count orders per custkey FIRST (the aggregate
    # is bounded by |customer|, a reduced set), then LEFT-join it onto
    # customer with COALESCE(…, 0) for orderless customers. An outer join
    # against raw orders would force the build side onto the bigger orders
    # relation (outer joins can only build opposite the preserved side).
    per_cust_orders = (
        orders.filter(F.col("o_orderpriority") != "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    per_cust = customer.join(
        broadcast_if_small(per_cust_orders), F.col("c_custkey") == F.col("o_custkey"), "left_outer"
    ).select(F.coalesce(F.col("__n"), F.lit(0)).alias("c_count"))
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "q19_disjunctive_revenue",
    oracle="""
    SELECT CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(25,6))), 2)
           AS DOUBLE) AS revenue,
           COUNT(*) AS n
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 30
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 50
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-conjunctions join predicate. Catalyst extracts
    the common subexpressions (CNF conversion) so the per-side prefilters
    (p_size >= 1, quantity bounds) still push to the scans; the residual
    disjunction evaluates post-join in codegen. part broadcasts."""
    lineitem, part = _t(spark, sf_dir, "lineitem", "part")
    j = lineitem.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 30) & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 50) & F.col("l_quantity").between(20, 30))
    )
    return j.filter(cond).agg(
        F.round(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(25,6)")), 2
        ).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q22_dormant_customers",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS numcust,
           CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(25,6))), 2) AS DOUBLE) AS totacctbal
    FROM customer c
    WHERE c.c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY c_mktsegment
    """,
)
def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar-subquery threshold (computed once, broadcast
    as a literal-like single-row plan) + NOT EXISTS as LEFT ANTI join.
    Rich-but-dormant customers: above-average balance, no urgent orders.
    (Adapted: groups by c_mktsegment, anti-joins urgent orders — testdata
    has no c_phone and every customer has at least one order.)"""
    customer, orders = _t(spark, sf_dir, "customer", "orders")
    avg_bal = (
        customer.filter(F.col("c_acctbal") > 0.0)
        .agg(F.avg("c_acctbal").alias("a"))
        .select("a")
    )
    from instructionspipe_spark.session import broadcast_if_small

    # distinct custkeys with urgent orders: bounded by |customer|, so the
    # anti-join build side is a reduced set, never the raw orders scan.
    urgent = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey").distinct()
    )
    return (
        customer.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("a"))
        .join(broadcast_if_small(urgent), F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(25,6)")), 2)
            .cast("double")
            .alias("totacctbal"),
        )
    )


def _simhash_near_dedup_oracle(bits: int = 32, bands: int = 4, radius: int = 3) -> str:
    bpb = bits // bands
    mask = (1 << bpb) - 1
    terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(__hashes, h -> ((h >> {b}) % 2) * 2 - 1)) > 0 THEN CAST({2**b} AS BIGINT) ELSE 0 END)"
        for b in range(bits)
    )
    return (
        "WITH" + _minhash_base_cte(1) + f""",
    fp AS (SELECT doc_id, CASE WHEN len(__shingles) = 0 THEN NULL ELSE {terms} END AS fp FROM hashed),
    banded AS (
        SELECT doc_id, fp, t.b AS band_idx, (fp >> (t.b * {bpb})) & {mask} AS bucket
        FROM fp CROSS JOIN (SELECT UNNEST(range(0, {bands})) AS b) t
    ),
    reps AS (
        SELECT band_idx, bucket, MIN(doc_id) AS min_id
        FROM banded GROUP BY band_idx, bucket
    ),
    losers AS (
        SELECT DISTINCT a.doc_id
        FROM banded a
        JOIN reps r ON a.band_idx = r.band_idx AND a.bucket = r.bucket
                   AND a.doc_id > r.min_id
        JOIN fp fr ON fr.doc_id = r.min_id
        WHERE bit_count(xor(a.fp, fr.fp)) <= {radius}
    )
    SELECT d.doc_id, d.lang FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)
    """
    )


@query("simhash_near_dedup", oracle=_simhash_near_dedup_oracle())
def simhash_near_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-radius SimHash near-dedup (radius 3 over 32-bit fingerprints,
    4 bit-bands). Exact candidate recall: radius < bands guarantees a shared
    intact band by pigeonhole — the deterministic replacement for the
    reference's in-memory near-dedup (etl_slimpajama_dc_proc.py:116-158)."""
    (documents,) = _t(spark, sf_dir, "documents")
    return ops.simhash_near_dedup(
        documents, "doc_id", "text", bits=32, bands=4, radius=3
    ).select("doc_id", "lang")


@query(
    "q7_nation_trade",
    oracle="""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
           CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(25,6))), 2)
                AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
    JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
    WHERE sn.n_name IN ('NATION_1','NATION_2')
      AND cn.n_name IN ('NATION_1','NATION_2')
      AND sn.n_name <> cn.n_name
    GROUP BY sn.n_name, cn.n_name, l_year
    """,
)
def q7_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: volume shipped between two nations by year. Two
    fact-fact joins (lineitem⋈orders is the big one — SMJ/shuffle at scale,
    a bucketed layout on orderkey makes it exchange-free, see
    sources/bucketing.py) + four broadcast dims, incl. the same nation dim
    joined TWICE under different aliases (supplier side / customer side)."""
    lineitem, orders, customer, supplier, nation = _t(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation"
    )
    sn = nation.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    cn = nation.select(F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation"))
    two = F.col("supp_nation").isin("NATION_1", "NATION_2") & F.col("cust_nation").isin(
        "NATION_1", "NATION_2"
    )
    return (
        lineitem.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(supplier), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(customer, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(sn), F.col("sn_key") == F.col("s_nationkey"))
        .join(F.broadcast(cn), F.col("cn_key") == F.col("c_nationkey"))
        .filter(two & (F.col("supp_nation") != F.col("cust_nation")))
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year")
        )
        .agg(
            F.round(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(25,6)")), 2
            ).cast("double").alias("revenue")
        )
    )


@query(
    "q8_market_share",
    oracle="""
    WITH all_sales AS (
        SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
               CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(25,6)) AS volume,
               sn.n_name AS supp_nation
        FROM lineitem l
        JOIN part p     ON p.p_partkey = l.l_partkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
        JOIN region r   ON r.r_regionkey = cn.n_regionkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
        WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
    )
    SELECT o_year,
           CAST(ROUND(SUM(CASE WHEN supp_nation = 'NATION_1' THEN volume
                               ELSE CAST(0 AS DECIMAL(25,6)) END)
                      / SUM(volume), 6) AS DOUBLE) AS mkt_share
    FROM all_sales
    GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of a region's market for one part
    type, by year — an 8-table join tree where every dim broadcasts and the
    conditional-share ratio folds into two decimal partials per group."""
    lineitem, orders, customer, supplier, nation, region, part = _t(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation", "region", "part"
    )
    cn = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    sn = nation.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(25,6)")
    nation_vol = F.when(F.col("supp_nation") == "NATION_1", vol).otherwise(
        F.lit(0).cast("decimal(25,6)")
    )
    return (
        lineitem.join(
            F.broadcast(part.filter(F.col("p_type") == "ECONOMY")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(customer, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(cn), F.col("cn_key") == F.col("c_nationkey"))
        .join(
            F.broadcast(region.filter(F.col("r_name") == "ASIA")),
            F.col("r_regionkey") == F.col("cn_region"),
        )
        .join(F.broadcast(supplier), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(sn), F.col("sn_key") == F.col("s_nationkey"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(F.round(F.sum(nation_vol) / F.sum(vol), 6).cast("double").alias("mkt_share"))
    )


@query(
    "pivot_event_matrix",
    oracle="""
    SELECT user_id % 100 AS user_bucket,
           CAST(ROUND(SUM(CASE WHEN event_type = 'click'    THEN CAST(value AS DECIMAL(25,6)) ELSE CAST(0 AS DECIMAL(25,6)) END), 2) AS DOUBLE) AS click,
           CAST(ROUND(SUM(CASE WHEN event_type = 'error'    THEN CAST(value AS DECIMAL(25,6)) ELSE CAST(0 AS DECIMAL(25,6)) END), 2) AS DOUBLE) AS error,
           CAST(ROUND(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(25,6)) ELSE CAST(0 AS DECIMAL(25,6)) END), 2) AS DOUBLE) AS purchase,
           CAST(ROUND(SUM(CASE WHEN event_type = 'signup'   THEN CAST(value AS DECIMAL(25,6)) ELSE CAST(0 AS DECIMAL(25,6)) END), 2) AS DOUBLE) AS signup,
           CAST(ROUND(SUM(CASE WHEN event_type = 'view'     THEN CAST(value AS DECIMAL(25,6)) ELSE CAST(0 AS DECIMAL(25,6)) END), 2) AS DOUBLE) AS view
    FROM events
    GROUP BY user_bucket
    """,
)
def pivot_event_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (J3's state-merge analog as a relational op): event_type values
    become columns. The pivot value list is DECLARED, not discovered — an
    undeclared pivot needs an extra distinct-scan job to find the columns,
    a hidden full pass at 100 TB. One shuffle, same as a plain groupBy."""
    (events,) = _t(spark, sf_dir, "events")
    kinds = ["click", "error", "purchase", "signup", "view"]
    out = (
        events.withColumn("user_bucket", F.col("user_id") % 100)
        .groupBy("user_bucket")
        .pivot("event_type", kinds)
        .agg(F.sum(F.col("value").cast("decimal(25,6)")))
    )
    return out.select(
        "user_bucket",
        *[F.round(F.coalesce(F.col(k), F.lit(0).cast("decimal(25,6)")), 2).cast("double").alias(k) for k in kinds],
    )


@query(
    "percentile_order_value",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(ROUND(quantile_cont(o.o_totalprice, 0.5), 4) AS DOUBLE) AS median_price,
           CAST(ROUND(quantile_cont(o.o_totalprice, 0.9), 4) AS DOUBLE) AS p90_price,
           COUNT(*) AS n
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY c.c_mktsegment
    """,
)
def percentile_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (continuous interpolation) per segment. Exact
    percentile is a full-sort-per-group aggregate — fine per segment here;
    at 100 TB with high-cardinality groups switch to percentile_approx
    (t-digest sketch, mergeable, one pass) and accept the driver's
    rows-only check like approx_distinct."""
    orders, customer = _t(spark, sf_dir, "orders", "customer")
    return (
        orders.join(F.broadcast(customer), F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.round(F.percentile(F.col("o_totalprice"), F.lit(0.5)), 4).cast("double").alias("median_price"),
            F.round(F.percentile(F.col("o_totalprice"), F.lit(0.9)), 4).cast("double").alias("p90_price"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "grouping_sets_revenue",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(25,6))), 2) AS DOUBLE) AS revenue,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS through the engine's SQL surface (spark.sql over the
    registered views) — the declared-sets generalization of rollup/cube.
    Spark expands the sets in ONE aggregate pass (Expand operator), not one
    scan per set."""
    from instructionspipe_spark.catalog import register_views

    register_views(spark, sf_dir, names=("lineitem",))
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(25,6))), 2) AS DOUBLE) AS revenue,
               COUNT(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


@query(
    "window_moving_avg",
    oracle="""
    SELECT user_id, event_id,
           CAST(ROUND(AVG(CAST(value AS DECIMAL(25,6)))
                          OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4)
                AS DOUBLE) AS mov_avg,
           CAST(NTILE(4) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS quartile
    FROM events
    WHERE user_id < 50
    """,
)
def window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit window FRAME specs (§2.6 beyond rank/lag): a trailing
    4-row moving average (rowsBetween) and ntile bucketing over the same
    partitioning — both reuse ONE sort/shuffle of (user_id, ts). Frames are
    per-partition streams at any scale; the user_id filter pushes to the
    scan."""
    (events,) = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frame = w.rowsBetween(-3, Window.currentRow)
    return (
        events.filter(F.col("user_id") < 50)
        .select(
            "user_id",
            "event_id",
            F.round(F.avg(F.col("value").cast("decimal(25,6)")).over(frame), 4)
            .cast("double")
            .alias("mov_avg"),
            F.ntile(4).over(w).cast("int").alias("quartile"),
        )
    )


@query(
    "q10_returned_revenue",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(25,6))), 2)
                AS DOUBLE) AS revenue,
           CAST(c.c_acctbal AS DOUBLE) AS acctbal
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
)
def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top customers by returned-item revenue in a quarter.
    The date-filtered orders side reduces first (stats-gated broadcast);
    lineitem streams with the returnflag filter pushed to its scan; top-20
    via TakeOrdered."""
    from instructionspipe_spark.session import broadcast_if_small

    customer, orders, lineitem = _t(spark, sf_dir, "customer", "orders", "lineitem")
    q_orders = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    returned = lineitem.filter(F.col("l_returnflag") == "R")
    return (
        returned.join(broadcast_if_small(q_orders), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal")
        .agg(
            F.round(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(25,6)")), 2
            ).cast("double").alias("revenue")
        )
        .select(
            "c_custkey", "c_name", "revenue", F.col("c_acctbal").cast("double").alias("acctbal")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "date_arithmetic",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           CAST(EXTRACT(dow FROM ts) AS INT) AS dow,
           CAST(EXTRACT(hour FROM ts) AS INT) AS hour_of_day,
           COUNT(*) AS n,
           CAST(MAX(date_diff('day', TIMESTAMP '1995-01-01 00:00:00', ts)) AS INT) AS days_since_epoch0
    FROM events
    WHERE user_id < 200
    GROUP BY day, dow, hour_of_day
    """,
)
def date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F19 (date/math natively — the reference delegates ALL temporal
    reasoning to the LLM, SURVEY.md §2.8): trunc/extract/diff as codegen
    expressions. DuckDB dow is 0=Sunday; Spark dayofweek is 1=Sunday, hence
    the -1."""
    (events,) = _t(spark, sf_dir, "events")
    return (
        events.filter(F.col("user_id") < 200)
        .groupBy(
            F.date_trunc("day", F.col("ts")).alias("day"),
            (F.dayofweek(F.col("ts")) - 1).cast("int").alias("dow"),
            F.hour(F.col("ts")).cast("int").alias("hour_of_day"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max(
                F.datediff(F.col("ts").cast("date"), F.lit("1995-01-01").cast("date"))
            ).cast("int").alias("days_since_epoch0"),
        )
    )


@query(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name,
           CAST(ROUND(r.total_revenue, 2) AS DOUBLE) AS total_revenue
    FROM supplier s
    JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: CTE reuse (the revenue view feeds both the per-
    supplier rows AND the MAX scalar subquery). The aggregate is computed
    once and reused via a self-join against its own max — at scale the CTE
    materializes as one shuffle, the max is a single-row broadcast."""
    lineitem, supplier = _t(spark, sf_dir, "lineitem", "supplier")
    revenue = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(25,6)")).alias("total_revenue")
        )
    )
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    return (
        supplier.join(revenue, F.col("s_suppkey") == F.col("supplier_no"))
        .join(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .select(
            "s_suppkey", "s_name", F.round(F.col("total_revenue"), 2).cast("double").alias("total_revenue")
        )
    )


@query(
    "q17_small_quantity_revenue",
    oracle="""
    SELECT CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(25,6))) / 7.0, 4) AS DOUBLE)
               AS avg_yearly,
           COUNT(*) AS n
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#1'
      AND l.l_quantity < (SELECT 0.2 * AVG(CAST(l2.l_quantity AS DECIMAL(25,6)))
                          FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated aggregate subquery (per-part average
    quantity) decorrelated into a groupBy + re-join — Spark evaluates the
    per-part avg ONCE (one shuffle on partkey) instead of per probe row.
    The brand filter prunes the probe side before the join."""
    from instructionspipe_spark.session import broadcast_if_small

    lineitem, part = _t(spark, sf_dir, "lineitem", "part")
    per_part = lineitem.groupBy(F.col("l_partkey").alias("pp_key")).agg(
        (F.lit(0.2) * F.avg(F.col("l_quantity").cast("decimal(25,6)"))).alias("qty_cut")
    )
    brand = part.filter(F.col("p_brand") == "Brand#1").select("p_partkey")
    return (
        lineitem.join(broadcast_if_small(brand), F.col("p_partkey") == F.col("l_partkey"))
        .join(per_part, F.col("pp_key") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(25,6)")) / F.lit(7.0), 4)
            .cast("double")
            .alias("avg_yearly"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "variant_json_extract",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_max,
           COUNT(*) AS n
    FROM events
    WHERE props IS NOT NULL
    GROUP BY event_type
    """,
)
def variant_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON via Spark 4 VariantType: ``parse_json`` once,
    then typed ``try_variant_get`` paths — the open-schema analog of the
    reference's untyped JSON records (every record is parsed JSON,
    SURVEY.md §1.2). Variant's binary encoding parses each document ONCE
    and serves any number of path extractions, vs per-path re-parsing with
    get_json_object; at 100 TB the parse is the cost."""
    (events,) = _t(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    k = F.try_variant_get(v, "$.k", "bigint")
    return (
        events.filter(F.col("props").isNotNull())
        .select("event_type", k.alias("__k"))
        .groupBy("event_type")
        .agg(
            F.sum("__k").alias("k_sum"),
            F.max("__k").alias("k_max"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "join_full_outer",
    oracle="""
    SELECT COALESCE(a.event_type, b.event_type) AS event_type,
           a.n AS n_low, b.n AS n_high
    FROM (SELECT event_type, COUNT(*) AS n FROM events WHERE value < 10 GROUP BY event_type) a
    FULL OUTER JOIN
         (SELECT event_type, COUNT(*) AS n FROM events WHERE value > 90 GROUP BY event_type) b
      ON a.event_type = b.event_type
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join (completes the join-type surface: inner/left/right
    covered elsewhere, semi q4, anti q22). Full outer cannot broadcast
    either side (both must be preserved) — always a shuffle join; both
    inputs here are pre-aggregated so the shuffle moves group counts, not
    rows."""
    (events,) = _t(spark, sf_dir, "events")
    low = (
        events.filter(F.col("value") < 10)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_low"))
    )
    high = (
        events.filter(F.col("value") > 90)
        .groupBy(F.col("event_type").alias("et2"))
        .agg(F.count(F.lit(1)).alias("n_high"))
    )
    return low.join(high, F.col("event_type") == F.col("et2"), "full_outer").select(
        F.coalesce(F.col("event_type"), F.col("et2")).alias("event_type"),
        "n_low",
        "n_high",
    )


@query(
    "unpivot_metrics",
    oracle="""
    SELECT o_orderkey, m.metric, m.val
    FROM orders,
         LATERAL (SELECT UNNEST(['totalprice', 'custkey']) AS metric,
                         UNNEST([CAST(o_totalprice AS DOUBLE), CAST(o_custkey AS DOUBLE)]) AS val) m
    WHERE o_orderkey < 100
    """,
)
def unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt — the inverse of pivot_event_matrix: wide columns to
    (metric, value) rows via the native ``unpivot`` (Expand operator: one
    narrow pass emitting N rows per input row, no shuffle, no UDTF)."""
    (orders,) = _t(spark, sf_dir, "orders")
    return (
        orders.filter(F.col("o_orderkey") < 100)
        .select(
            "o_orderkey",
            F.col("o_totalprice").cast("double").alias("totalprice"),
            F.col("o_custkey").cast("double").alias("custkey"),
        )
        .unpivot("o_orderkey", ["totalprice", "custkey"], "metric", "val")
    )


# ---------------------------------------------------------------------------
# Corpus hygiene: repetition flags, PII-style redaction, contamination screen
# ---------------------------------------------------------------------------

_LOWER_TOKENS_SQL = r"""list_filter(string_split_regex(lower(regexp_replace(text, '[^\p{L}\p{N}\s]', '', 'g')), '\s+'), t -> t <> '')"""


@query(
    "repetition_stats",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, lang, {_LOWER_TOKENS_SQL} AS __t FROM documents
    ),
    w AS (SELECT doc_id, lang, u.w AS word FROM toks, UNNEST(__t) AS u(w)),
    pw AS (SELECT doc_id, lang, word, COUNT(*) AS c FROM w GROUP BY doc_id, lang, word),
    agg AS (
        SELECT doc_id, lang, CAST(SUM(c) AS BIGINT) AS n_words,
               CAST(COUNT(*) AS BIGINT) AS n_distinct_words, MAX(c) AS top
        FROM pw GROUP BY doc_id, lang
    )
    SELECT d.doc_id, d.lang,
           COALESCE(a.n_words, 0) AS n_words,
           COALESCE(a.n_distinct_words, 0) AS n_distinct_words,
           CASE WHEN COALESCE(a.n_words, 0) > 0
                THEN CAST(ROUND(CAST(a.top / CAST(a.n_words AS DOUBLE)
                                     AS DECIMAL(25,10)), 6) AS DOUBLE)
                ELSE 0.0 END AS top_word_fraction,
           CASE WHEN COALESCE(a.n_words, 0) > 0
                THEN CAST(ROUND(CAST(1.0 - a.n_distinct_words / CAST(a.n_words AS DOUBLE)
                                     AS DECIMAL(25,10)), 6) AS DOUBLE)
                ELSE 0.0 END AS dup_word_fraction
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
)
def repetition_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (top-word / duplicate-word fractions)
    as a distributed word-count: explode words, two keyed aggregates, no
    Python. The cheap pre-model repetition gate of a corpus-prep pipeline."""
    (documents,) = _t(spark, sf_dir, "documents")
    return ops.repetition_stats(documents)


_REDACT_QUERY_PATTERNS = (("[A-Za-z]{8,}", "<LONG>"), ("[0-9]+", "<NUM>"))


def _text_redaction_oracle() -> str:
    redacted = "text"
    counts = []
    for pat, token in _REDACT_QUERY_PATTERNS:
        redacted = f"regexp_replace({redacted}, '{pat}', '{token}', 'g')"
        counts.append(f"len(regexp_extract_all(text, '{pat}'))")
    total = " + ".join(counts)
    return f"""
    SELECT doc_id, {redacted} AS redacted, CAST({total} AS BIGINT) AS n_redactions
    FROM documents
    """


@query("text_redaction", oracle=_text_redaction_oracle())
def text_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style scrubbing as pure chained regexp_replace (streams in
    codegen, no shuffle) with a per-document match count on the original
    text as the audit metric. The gated patterns are chosen to actually
    fire on the synthetic corpus (long words; digit runs exercise the
    zero-match path); production presets live in
    functions.text.REDACTION_PATTERNS (email/URL/number)."""
    (documents,) = _t(spark, sf_dir, "documents")
    return documents.select(
        "doc_id",
        fns.redact(F.col("text"), _REDACT_QUERY_PATTERNS).alias("redacted"),
        fns.redaction_count(F.col("text"), _REDACT_QUERY_PATTERNS).alias("n_redactions"),
    )


def _contamination_oracle(ngram_words: int = 5, min_shared: int = 3, modulus: int = 17) -> str:
    return rf"""
    WITH norm AS (
        SELECT doc_id, {_norm_sql('text')} AS __n FROM documents
    ),
    tok AS (
        SELECT doc_id, list_filter(string_split(__n, ' '), t -> t <> '') AS __t FROM norm
    ),
    grams AS (
        SELECT DISTINCT doc_id,
               {_hash48_sql(f"array_to_string(__t[i:i+{ngram_words - 1}], ' ')")} AS __h
        FROM tok, UNNEST(range(1, greatest(len(__t) - {ngram_words - 1}, 0) + 1)) AS r(i)
    ),
    ev AS (SELECT doc_id AS eval_id, __h FROM grams WHERE doc_id % {modulus} = 0),
    tr AS (SELECT doc_id AS train_id, __h FROM grams WHERE doc_id % {modulus} <> 0)
    SELECT train_id, eval_id, CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM tr JOIN ev USING (__h)
    GROUP BY train_id, eval_id
    HAVING COUNT(*) >= {min_shared}
    """


@query("contamination_screen", oracle=_contamination_oracle())
def contamination_screen_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination screen: documents with doc_id % 17 == 0
    stand in for a benchmark set; every (train, eval) pair sharing >= 3
    distinct word-5-grams is reported. The eval hash set broadcasts; the
    corpus streams through one equi-join on 8-byte n-gram hashes."""
    (documents,) = _t(spark, sf_dir, "documents")
    ev = documents.filter(F.col("doc_id") % 17 == 0)
    tr = documents.filter(F.col("doc_id") % 17 != 0)
    return ops.contamination_screen(tr, ev, ngram_words=5, min_shared=3)


# ---------------------------------------------------------------------------
# Corpus shaping: length-quantile filter, stratified / temperature sampling,
# output sharding
# ---------------------------------------------------------------------------


@query(
    "length_quantile_filter",
    oracle=f"""
    WITH scored AS (SELECT doc_id, {_TOKEN_COUNT_SQL} AS n_tokens FROM documents),
    cuts AS (
        SELECT quantile_cont(CAST(n_tokens AS DOUBLE), 0.05) AS lo_cut,
               quantile_cont(CAST(n_tokens AS DOUBLE), 0.99) AS hi_cut
        FROM scored
    )
    SELECT doc_id, n_tokens, ROUND(lo_cut, 6) AS lo_cut, ROUND(hi_cut, 6) AS hi_cut
    FROM scored, cuts
    WHERE n_tokens >= lo_cut AND n_tokens <= hi_cut
    """,
)
def length_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-outlier removal by exact token-count percentiles: drop the
    bottom 5% and top 1%. The cuts come from Spark's exact `percentile`
    aggregate (sorted-values linear interpolation — the same definition as
    the oracle's quantile_cont), land in a one-row frame, and broadcast
    back as a scalar cross join; the corpus pass itself is a narrow
    filter. The percentile agg's state is the distinct token counts
    (bounded, near-integer domain) — fine here, but the scale default is
    length_quantile_filter_approx (bounded-state sketch); this exact form
    is its oracle twin."""
    (documents,) = _t(spark, sf_dir, "documents")
    scored = documents.select("doc_id", ops.token_count(F.col("text")).alias("n_tokens"))
    cuts = scored.agg(
        F.percentile("n_tokens", F.lit(0.05)).alias("lo_cut"),
        F.percentile("n_tokens", F.lit(0.99)).alias("hi_cut"),
    )
    return (
        scored.crossJoin(F.broadcast(cuts))  # 1-row scalar frame
        .filter((F.col("n_tokens") >= F.col("lo_cut")) & (F.col("n_tokens") <= F.col("hi_cut")))
        .select(
            "doc_id",
            "n_tokens",
            F.round("lo_cut", 6).alias("lo_cut"),
            F.round("hi_cut", 6).alias("hi_cut"),
        )
    )


@query(
    "length_quantile_filter_approx",
    oracle=f"""
    WITH scored AS (SELECT doc_id, {_TOKEN_COUNT_SQL} AS n_tokens FROM documents),
    cuts AS (
        SELECT quantile_disc(n_tokens, 0.05) AS lo_cut,
               quantile_disc(n_tokens, 0.99) AS hi_cut
        FROM scored
    )
    SELECT s.doc_id, s.n_tokens, c.lo_cut, c.hi_cut
    FROM scored s, cuts c
    WHERE s.n_tokens >= c.lo_cut AND s.n_tokens <= c.hi_cut
    """,
)
def length_quantile_filter_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-default twin of length_quantile_filter: cuts from
    `approx_percentile` (Greenwald-Khanna sketch, O(accuracy) state per
    partition regardless of row count) instead of the exact `percentile`
    aggregate. With accuracy >= N the sketch is exact and returns the
    discrete quantile element — which is what makes this oracle-checkable:
    both sides pick an actual element (DuckDB `quantile_disc`), so values
    hash-match at test scale; at 100 TB the same plan degrades gracefully
    to epsilon-rank error instead of blowing up aggregate state on a
    long-tail length distribution.

    Oracle boundary caveat (ADVICE r4): both sides return a discrete
    element, but their rank conventions are not guaranteed identical when
    p*n lands exactly on a boundary — Spark's exact-mode approx_percentile
    takes the element at the smallest rank whose cumulative weight covers
    p, DuckDB's quantile_disc follows its own convention. The pairing is
    therefore data-dependent: green at both tested SFs (and any dataset
    where p*n is non-integral), but a dataset engineered to land p*n on an
    exact rank boundary could legitimately differ by one element. The exact
    twin (length_quantile_filter, linear interpolation both sides) has no
    such edge."""
    (documents,) = _t(spark, sf_dir, "documents")
    scored = documents.select("doc_id", ops.token_count(F.col("text")).alias("n_tokens"))
    cuts = scored.agg(
        F.approx_percentile("n_tokens", F.lit(0.05), F.lit(1_000_000)).alias("lo_cut"),
        F.approx_percentile("n_tokens", F.lit(0.99), F.lit(1_000_000)).alias("hi_cut"),
    )
    return (
        scored.crossJoin(F.broadcast(cuts))
        .filter((F.col("n_tokens") >= F.col("lo_cut")) & (F.col("n_tokens") <= F.col("hi_cut")))
        .select("doc_id", "n_tokens", "lo_cut", "hi_cut")
    )


@query(
    "document_chunks",
    oracle=r"""
    WITH base AS (
        SELECT doc_id, text, length(text) AS len FROM documents WHERE length(text) > 0
    ),
    idx AS (
        SELECT doc_id, text,
               unnest(range(CAST(1 + ceil(greatest(len - 512, 0) / 448.0) AS BIGINT))) AS chunk_idx
        FROM base
    )
    SELECT doc_id, chunk_idx,
           chunk_idx * 448 + 1 AS chunk_start,
           substr(text, CAST(chunk_idx * 448 + 1 AS BIGINT), 512) AS chunk_text
    FROM idx
    """,
)
def document_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length prep: split documents into 512-char chunks with
    64-char overlap (stride 448). Zero shuffles — explode a cheap ordinal
    sequence, substring on the exploded rows (operators/chunking.py)."""
    (documents,) = _t(spark, sf_dir, "documents")
    out = ops.chunk_text(documents, "doc_id", "text", chunk_chars=512, overlap=64)
    return out.select("doc_id", "chunk_idx", "chunk_start", "chunk_text")


_TFIDF_TOKS_SQL = (
    r"list_filter(string_split_regex(lower(regexp_replace(text, '[^\p{L}\p{N}\s]', '', 'g')),"
    r" '\s+'), t -> t <> '')"
)


@query(
    "tfidf_top_terms",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({_TFIDF_TOKS_SQL}) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tfc FROM toks GROUP BY doc_id, term),
    dfq AS (SELECT term, COUNT(*) AS dft FROM tf GROUP BY term),
    total AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term,
               ROUND(tf.tfc * ln((total.n_docs + 1.0) / (dfq.dft + 1.0)), 6) AS tfidf
        FROM tf JOIN dfq USING (term), total
    ),
    ranked AS (
        SELECT doc_id, term, tfidf,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
        FROM scored
    )
    SELECT doc_id, term, rnk, tfidf FROM ranked WHERE rnk <= 5
    """,
)
def tfidf_top_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword extraction: per-document top-5 terms by tf-idf, ranked on
    pre-rounded scores so cross-engine float ulps can't flip order."""
    (documents,) = _t(spark, sf_dir, "documents")
    return ops.tfidf_top_terms(documents, "doc_id", "text", k=5)


@query(
    "unigram_doc_logprob",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({_TFIDF_TOKS_SQL}) AS term FROM documents
    ),
    freq AS (SELECT term, COUNT(*) AS tc FROM toks GROUP BY term),
    totals AS (SELECT SUM(tc) AS n_tokens, COUNT(*) AS vocab FROM freq)
    SELECT t.doc_id,
           CAST(ROUND(CAST(CAST(SUM(CAST(ln((f.tc + 1.0) / (tot.n_tokens + CAST(tot.vocab AS DOUBLE)))
                             AS DECIMAL(25,12))) AS DOUBLE) / COUNT(*)
                  AS DECIMAL(25,10)), 6) AS DOUBLE) AS mean_logprob,
           COUNT(*) AS n_tokens
    FROM toks t JOIN freq f USING (term), totals tot
    GROUP BY t.doc_id
    """,
)
def unigram_doc_logprob_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-self-trained unigram LM quality score: per-doc mean token
    log-probability with add-one smoothing (operators/textstats.py) —
    gibberish outliers score far below the corpus mode with zero training."""
    (documents,) = _t(spark, sf_dir, "documents")
    return ops.unigram_doc_logprob(documents, "doc_id", "text")


_STRATA_FRACTIONS = {"en": 0.5, "de": 0.25, "zh": 0.1}
_STRATA_DEFAULT = 0.05
_STRATA_SEED = 13


def _stratified_oracle() -> str:
    seeded = f"'{_STRATA_SEED}' || '|' || CAST(doc_id AS VARCHAR)"
    u = f"({_hash48_sql(seeded)} + 1.0) / {float((1 << 48) + 1)!r}"
    case = "CASE lang " + " ".join(
        f"WHEN '{s}' THEN {f!r}" for s, f in _STRATA_FRACTIONS.items()
    ) + f" ELSE {_STRATA_DEFAULT!r} END"
    return f"""
    SELECT doc_id, lang, source FROM documents WHERE {u} < ({case})
    """


@query("stratified_corpus_sample", oracle=_stratified_oracle())
def stratified_corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language Bernoulli sampling at explicit fractions
    (en half, de quarter, zh tenth, everything else 5%) — a single narrow
    filter with an md5-derived uniform, so the realized sample is identical
    under any partitioning and in any engine (DataFrame.sampleBy is not)."""
    (documents,) = _t(spark, sf_dir, "documents")
    return ops.stratified_sample(
        documents,
        "lang",
        _STRATA_FRACTIONS,
        seed=_STRATA_SEED,
        id_cols=["doc_id"],
        default_fraction=_STRATA_DEFAULT,
    ).select("doc_id", "lang", "source")


_MIX_TARGET, _MIX_ALPHA, _MIX_SEED = 200, 0.5, 11


def _temperature_mixture_oracle() -> str:
    seeded = f"'{_MIX_SEED}' || '|' || CAST(doc_id AS VARCHAR)"
    u = f"({_hash48_sql(seeded)} + 1.0) / {float((1 << 48) + 1)!r}"
    return f"""
    WITH counts AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
    rates AS (
        SELECT source,
               least(1.0, {float(_MIX_TARGET)!r} * pow(CAST(n AS DOUBLE), {_MIX_ALPHA!r})
                          / SUM(pow(CAST(n AS DOUBLE), {_MIX_ALPHA!r})) OVER ()
                          / CAST(n AS DOUBLE)) AS rate
        FROM counts
    )
    SELECT d.doc_id, d.source, ROUND(r.rate, 6) AS rate
    FROM documents d JOIN rates r USING (source)
    WHERE {u} < r.rate
    """


@query("temperature_mixture", oracle=_temperature_mixture_oracle())
def temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based multi-source rebalancing (rate per source
    proportional to count**alpha, alpha=0.5 upweights small sources),
    scaled to an expected 200-row mixture. Per-source counts are a tiny
    aggregate, the normalizer a one-row scalar broadcast over it, and the
    rates broadcast-join back — the corpus is filtered, never shuffled."""
    (documents,) = _t(spark, sf_dir, "documents")
    return ops.temperature_mixture_sample(
        documents,
        "source",
        target_rows=_MIX_TARGET,
        alpha=_MIX_ALPHA,
        seed=_MIX_SEED,
        id_cols=["doc_id"],
        rate_col="rate",
    ).select("doc_id", "source", "rate")


@query(
    "shard_summary",
    oracle=f"""
    WITH sharded AS (
        SELECT CAST({_hash48_sql("'5' || '|' || CAST(doc_id AS VARCHAR)")} % 16 AS INT) AS shard,
               doc_id, n_chars
        FROM documents
    )
    SELECT shard, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM sharded GROUP BY shard
    """,
)
def shard_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Output sharding as a stateless hash projection (shard = hash48 % 16)
    with a per-shard balance report — how a 100 TB writer assigns files
    without any global ordering or shuffle beyond the 16-key summary agg."""
    (documents,) = _t(spark, sf_dir, "documents")
    sharded = ops.assign_shards(documents, 16, ["doc_id"], seed=5)
    return sharded.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


@query(
    "char_entropy_quality",
    oracle="""
    WITH chars AS (
        SELECT doc_id, unnest(string_split_regex(text, '')) AS c
        FROM documents WHERE text IS NOT NULL AND len(text) > 0
    ),
    ent AS (
        SELECT doc_id, ROUND(entropy(c), 6) AS char_entropy,
               COUNT(DISTINCT c) AS n_distinct_chars
        FROM chars GROUP BY doc_id
    )
    SELECT e.doc_id, e.char_entropy, e.n_distinct_chars, d.n_chars
    FROM ent e JOIN documents d USING (doc_id)
    ORDER BY e.char_entropy, e.doc_id LIMIT 100
    """,
)
def char_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gibberish/repetition screen: the 100 lowest-character-entropy
    documents (Shannon bits/char + distinct-char count). The entropy is one
    shuffle-free Arrow map pass (operators/textstats.py char_entropy — a
    char-explode + groupBy formulation would shuffle |corpus| * avg_len
    rows); the top-100 executes as TakeOrdered (no global sort). Ranked on
    the pre-rounded entropy with doc_id tiebreak so cross-engine float ulps
    can't flip the cut."""
    (documents,) = _t(spark, sf_dir, "documents")
    from instructionspipe_spark.session import ensure_parallelism

    documents = ensure_parallelism(documents)
    return (
        documents.filter(F.col("text").isNotNull() & (F.length("text") > 0))
        .select(
            "doc_id",
            F.round(ops.char_entropy(F.col("text")), 6).alias("char_entropy"),
            ops.distinct_char_count(F.col("text")).cast("bigint").alias("n_distinct_chars"),
            "n_chars",
        )
        .orderBy("char_entropy", "doc_id")
        .limit(100)
    )


def _incremental_dedup_oracle(
    num_perm: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    bucket_cap: int | None = None,
) -> str:
    rows_per_band = num_perm // bands
    band_exprs = ", ".join(
        f"{{'b': {b}, 'h': md5('{b}' || '|' || array_to_string(list_transform(__sig[{b * rows_per_band + 1}:{(b + 1) * rows_per_band}], x -> CAST(x AS VARCHAR)), ','))}}"
        for b in range(bands)
    )
    jac = (
        "CAST(len(list_intersect(sb.__shingles, sc.__shingles)) AS DOUBLE)"
        " / len(list_distinct(list_concat(sb.__shingles, sc.__shingles)))"
    )
    if bucket_cap is None:
        cap_cte, cap_join, cap_pred = "", "", ""
    else:
        # Replays incremental_minhash_dedup's bucket_cap exactly: the cap
        # is measured over CORPUS-side band-store rows only, and over-cap
        # buckets generate no candidates.
        cap_cte = """
    corpus_bucket AS (
        SELECT band_idx, band_hash, count(*) AS bc
        FROM banded WHERE doc_id % 10 != 7
        GROUP BY band_idx, band_hash
    ),"""
        cap_join = (
            "\n        JOIN corpus_bucket z"
            " ON z.band_idx = c.band_idx AND z.band_hash = c.band_hash"
        )
        cap_pred = f" AND z.bc <= {bucket_cap}"
    return (
        "WITH" + _minhash_base_cte(num_perm) + f""",
    banded AS (
        SELECT doc_id, u.b AS band_idx, u.h AS band_hash
        FROM sig, UNNEST([{band_exprs}]) AS t(u)
    ),{cap_cte}
    pairs AS (
        SELECT DISTINCT b.doc_id AS batch_id, c.doc_id AS corpus_id
        FROM banded c{cap_join}
        JOIN banded b ON c.band_idx = b.band_idx AND c.band_hash = b.band_hash
        WHERE c.doc_id % 10 != 7 AND b.doc_id % 10 = 7{cap_pred}
    ),
    verified AS (
        SELECT p.batch_id, p.corpus_id, ROUND({jac}, 6) AS jaccard
        FROM pairs p
        JOIN sh sc ON sc.doc_id = p.corpus_id
        JOIN sh sb ON sb.doc_id = p.batch_id
        WHERE ROUND({jac}, 6) >= {threshold!r}
    ),
    best AS (
        SELECT batch_id, corpus_id AS dup_of, jaccard,
               ROW_NUMBER() OVER (PARTITION BY batch_id
                                  ORDER BY jaccard DESC, corpus_id) AS rn
        FROM verified
    )
    SELECT d.doc_id, b.dup_of, b.jaccard, b.dup_of IS NULL AS kept
    FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 7) d
    LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.batch_id = d.doc_id
    """
    )


@query("incremental_batch_dedup", oracle=_incremental_dedup_oracle())
def incremental_batch_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental admission (operators/dedup.py:incremental_minhash_dedup):
    documents with doc_id % 10 == 7 play the nightly batch, the rest the
    accumulated corpus. Every batch row gets a verdict — its best-matching
    corpus near-dup (max verified jaccard, min id on ties) or kept=true.
    Corpus streams once; batch banded frame broadcasts; election is a
    two-phase struct-max, never a window over a hot key. ``bucket_cap=None``
    is the EXPLICIT faithful-reference opt-out (uncapped is no longer the
    library default since r11); this row is the capped twin's semantic
    anchor."""
    (documents,) = _t(spark, sf_dir, "documents")
    corpus = documents.filter(F.col("doc_id") % 10 != 7)
    batch = documents.filter(F.col("doc_id") % 10 == 7)
    return ops.incremental_minhash_dedup(
        corpus, batch, "doc_id", "text", threshold=0.5, bucket_cap=None
    )


@query(
    "incremental_batch_dedup_capped",
    oracle=_incremental_dedup_oracle(bucket_cap=64),
)
def incremental_batch_dedup_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental admission with the hot-bucket cap engaged — the
    scale-safe production shape of N24 (operators/dedup.py:
    incremental_minhash_dedup with bucket_cap). A banding bucket holding
    more than ``cap`` corpus rows is boilerplate mass, not near-dup signal
    (measured: at sf10 the hot buckets drove 185M candidate pairs, 99.99%
    failing verification); excluding them bounds candidate volume at
    cap x |batch banded rows| — LINEAR in corpus size, which is why the cap
    must be a CONSTANT (a bound on the largest believable organic near-dup
    cluster), not a data-derived quantile that can grow with n. cap=64 here:
    above the measured p99 organic bucket (34-41 at the small SFs) and below
    every SF's template-bucket max (128/154/1303), so this gate row
    exercises semantics the uncapped twin row cannot. The oracle replays
    the cap exactly (corpus-side bucket census, over-cap buckets emit no
    candidates), so this is a full value-level differential, not a
    subset-law check. Cap-selection rule: SCALE.md."""
    (documents,) = _t(spark, sf_dir, "documents")
    corpus = documents.filter(F.col("doc_id") % 10 != 7)
    batch = documents.filter(F.col("doc_id") % 10 == 7)
    return ops.incremental_minhash_dedup(
        corpus, batch, "doc_id", "text", threshold=0.5, bucket_cap=64
    )


def _pq_topk_oracle(m: int = 4, n_codes: int = 8, k: int = 5, rerank: int = 50) -> str:
    """Oracle for the deterministic PQ: codewords are subvectors of the
    ``n_codes`` lowest-id vectors; encode/ADC rank on ROUND(d2, 6) with
    code / vec_id tie breaks; exact-cosine rerank of the ADC shortlist —
    the exact rules of ann_topk(codec="pq", rerank=...), by construction."""
    sd = f"(len(__nv) // {m})"
    d2 = (
        "CAST(list_sum(list_transform(range(1, len(s.sv) + 1),"
        " i -> (s.sv[i] - c.cw[i]) * (s.sv[i] - c.cw[i]))) AS DOUBLE)"
    )
    d2q = (
        "CAST(list_sum(list_transform(range(1, len(q.sv) + 1),"
        " i -> (q.sv[i] - c.cw[i]) * (q.sv[i] - c.cw[i]))) AS DOUBLE)"
    )
    return f"""
    WITH v AS (SELECT vec_id, {_NORMALIZE_SQL} AS __nv FROM embeddings),
    cb AS (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code, __nv
        FROM v QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= {n_codes}
    ),
    sub AS (
        SELECT vec_id, t.j, __nv[t.j * {sd} + 1 : (t.j + 1) * {sd}] AS sv
        FROM v, UNNEST(range({m})) AS t(j)
    ),
    cbsub AS (
        SELECT t.j, code, __nv[t.j * {sd} + 1 : (t.j + 1) * {sd}] AS cw
        FROM cb, UNNEST(range({m})) AS t(j)
    ),
    enc AS (
        SELECT vec_id, j, code FROM (
            SELECT s.vec_id, s.j, c.code,
                   ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.j
                                      ORDER BY ROUND({d2}, 6), c.code) AS rn
            FROM sub s JOIN cbsub c ON s.j = c.j
        ) WHERE rn = 1
    ),
    qsub AS (SELECT vec_id AS query_id, j, sv FROM sub WHERE vec_id < 3),
    lut AS (
        SELECT q.query_id, q.j, c.code, ROUND({d2q}, 6) AS d2
        FROM qsub q JOIN cbsub c ON q.j = c.j
    ),
    adc AS (
        SELECT l.query_id, e.vec_id,
               CAST(ROUND(SUM(CAST(l.d2 AS DECIMAL(25,6))), 6) AS DOUBLE) AS adc_dist
        FROM enc e JOIN lut l ON l.j = e.j AND l.code = e.code
        GROUP BY l.query_id, e.vec_id
    ),
    short AS (
        SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY adc_dist, vec_id) AS rn
            FROM adc
        ) WHERE rn <= {rerank}
    ),
    exact AS (
        SELECT s.query_id, s.vec_id,
               ROUND(CAST(list_sum(list_transform(range(1, len(a.__nv) + 1),
                                                  i -> q.__nv[i] * a.__nv[i])) AS DOUBLE), 4) AS cosine
        FROM short s
        JOIN v a ON a.vec_id = s.vec_id
        JOIN v q ON q.vec_id = s.query_id
    )
    SELECT query_id, vec_id, cosine, rank FROM (
        SELECT query_id, vec_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, vec_id) AS rank
        FROM exact
    ) WHERE rank <= {k}
    """


@query("similarity_pq_topk", oracle=_pq_topk_oracle())
def similarity_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with exact rerank (operators/similarity.py
    ann_topk, codec pq): corpus compressed to m=4 codes/vector, ADC
    shortlist of 50 per query, full-precision cosine only on the shortlist.
    Oracle-gated via the data-seeded deterministic codebook; the KMeans-
    trained codebooks (pq_trained_recall) are gated by a recall floor."""
    from instructionspipe_spark.operators.similarity import ann_topk

    (embeddings,) = _t(spark, sf_dir, "embeddings")
    queries_df = embeddings.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return ann_topk(
        embeddings, queries_df, k=5, codec="pq", m=4, n_codes=8, rank_round=6, rerank=50
    ).select("query_id", "vec_id", "cosine", "rank")


def _ivfadc_topk_oracle(
    n_cells: int = 8,
    n_probe: int = 2,
    m: int = 4,
    n_codes: int = 8,
    k: int = 5,
    rerank: int = 50,
) -> str:
    """Oracle for the deterministic IVFADC: IVF CTEs (centroids = lowest-id
    vectors, rounded-cosine assignment) restrict the candidate pairs; PQ
    CTEs (codebook = lowest-id subvectors, rounded-d2 encode, LUT-sum ADC)
    rank them; exact-cosine rerank of the shortlist — the exact rules of
    ann_topk(codec="pq", n_cells=..., rerank=...), by construction."""
    sd = f"(len(__nv) // {m})"
    dotc = "CAST(list_sum(list_transform(range(1, len(a.__nv) + 1), i -> a.__nv[i] * c.__cent[i])) AS DOUBLE)"
    d2 = (
        "CAST(list_sum(list_transform(range(1, len(s.sv) + 1),"
        " i -> (s.sv[i] - c.cw[i]) * (s.sv[i] - c.cw[i]))) AS DOUBLE)"
    )
    d2q = (
        "CAST(list_sum(list_transform(range(1, len(q.sv) + 1),"
        " i -> (q.sv[i] - c.cw[i]) * (q.sv[i] - c.cw[i]))) AS DOUBLE)"
    )
    return f"""
    WITH v AS (SELECT vec_id, {_NORMALIZE_SQL} AS __nv FROM embeddings),
    cent AS (
        SELECT vec_id AS cell, __nv AS __cent
        FROM v QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= {n_cells}
    ),
    assigned AS (
        SELECT a.vec_id, c.cell,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                  ORDER BY ROUND({dotc}, 6) DESC, c.cell ASC) AS __ar
        FROM v a CROSS JOIN cent c
    ),
    c_cells AS (SELECT vec_id, cell FROM assigned WHERE __ar = 1),
    q_probes AS (
        SELECT vec_id AS query_id, cell FROM assigned
        WHERE vec_id < 3 AND __ar <= {n_probe}
    ),
    cand AS (
        SELECT q.query_id, a.vec_id
        FROM c_cells a JOIN q_probes q ON a.cell = q.cell
    ),
    cb AS (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code, __nv
        FROM v QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= {n_codes}
    ),
    sub AS (
        SELECT vec_id, t.j, __nv[t.j * {sd} + 1 : (t.j + 1) * {sd}] AS sv
        FROM v, UNNEST(range({m})) AS t(j)
    ),
    cbsub AS (
        SELECT t.j, code, __nv[t.j * {sd} + 1 : (t.j + 1) * {sd}] AS cw
        FROM cb, UNNEST(range({m})) AS t(j)
    ),
    enc AS (
        SELECT vec_id, j, code FROM (
            SELECT s.vec_id, s.j, c.code,
                   ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.j
                                      ORDER BY ROUND({d2}, 6), c.code) AS rn
            FROM sub s JOIN cbsub c ON s.j = c.j
        ) WHERE rn = 1
    ),
    qsub AS (SELECT vec_id AS query_id, j, sv FROM sub WHERE vec_id < 3),
    lut AS (
        SELECT q.query_id, q.j, c.code, ROUND({d2q}, 6) AS d2
        FROM qsub q JOIN cbsub c ON q.j = c.j
    ),
    adc AS (
        SELECT l.query_id, e.vec_id,
               CAST(ROUND(SUM(CAST(l.d2 AS DECIMAL(25,6))), 6) AS DOUBLE) AS adc_dist
        FROM cand p
        JOIN enc e ON e.vec_id = p.vec_id
        JOIN lut l ON l.query_id = p.query_id AND l.j = e.j AND l.code = e.code
        GROUP BY l.query_id, e.vec_id
    ),
    short AS (
        SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY adc_dist, vec_id) AS rn
            FROM adc
        ) WHERE rn <= {rerank}
    ),
    exact AS (
        SELECT s.query_id, s.vec_id,
               ROUND(CAST(list_sum(list_transform(range(1, len(a.__nv) + 1),
                                                  i -> q.__nv[i] * a.__nv[i])) AS DOUBLE), 4) AS cosine
        FROM short s
        JOIN v a ON a.vec_id = s.vec_id
        JOIN v q ON q.vec_id = s.query_id
    )
    SELECT query_id, vec_id, cosine, rank FROM (
        SELECT query_id, vec_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, vec_id) AS rank
        FROM exact
    ) WHERE rank <= {k}
    """


@query("similarity_ivfadc_topk", oracle=_ivfadc_topk_oracle())
def similarity_ivfadc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ANN composition, oracle-gated (operators/similarity.py
    ann_topk, codec pq with coarse cells, trained=False): IVF cells bound
    WHICH vectors each query scores, PQ codes bound the BYTES per score,
    exact-cosine rerank of the ADC shortlist. The KMeans-trained
    configuration is gated by ivfadc_trained_recall."""
    from instructionspipe_spark.operators.similarity import ann_topk

    (embeddings,) = _t(spark, sf_dir, "embeddings")
    queries_df = embeddings.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return ann_topk(
        embeddings, queries_df, k=5, codec="pq", n_cells=8, n_probe=2, n_assign=1,
        m=4, n_codes=8, rank_round=6, rerank=50,
    ).select("query_id", "vec_id", "cosine", "rank")


def _template_block_strip_oracle(block_words: int = 8, max_df: int = 2) -> str:
    return rf"""
    WITH base AS (
        SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS w
        FROM documents
    ),
    nb AS (
        SELECT doc_id, w, CAST(ceil(len(w) / {block_words}.0) AS BIGINT) AS n_blocks FROM base
    ),
    blocks AS (
        SELECT doc_id, bi,
               array_to_string(w[CAST(bi * {block_words} + 1 AS BIGINT)
                                 : CAST((bi + 1) * {block_words} AS BIGINT)], ' ') AS btext
        FROM nb, UNNEST(range(n_blocks)) AS t(bi)
    ),
    hashed AS (SELECT doc_id, bi, btext, md5(btext) AS h FROM blocks),
    freq AS (SELECT h, COUNT(DISTINCT doc_id) AS df FROM hashed GROUP BY h),
    kept AS (
        SELECT hashed.doc_id, hashed.bi, hashed.btext FROM hashed
        JOIN freq ON hashed.h = freq.h WHERE freq.df <= {max_df}
    ),
    reasm AS (
        SELECT doc_id, string_agg(btext, ' ' ORDER BY bi) AS text,
               COUNT(*) AS n_kept
        FROM kept GROUP BY doc_id
    )
    SELECT nb.doc_id, COALESCE(reasm.text, '') AS text, nb.n_blocks,
           COALESCE(reasm.n_kept, 0) AS n_kept
    FROM nb LEFT JOIN reasm ON nb.doc_id = reasm.doc_id
    """


@query("template_block_strip", oracle=_template_block_strip_oracle())
def template_block_strip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate template removal (operators/dedup.py:template_block_strip):
    every 8-word block present in more than 2 distinct documents is cut from
    ALL of them — the header/footer strip RefinedWeb/C4-style pipelines run
    before near-dedup. Two-level doc-frequency aggregate (distinct
    (block, doc) collapses map-side), uniform md5 shuffle keys, one
    reassembly groupBy."""
    (documents,) = _t(spark, sf_dir, "documents")
    return ops.template_block_strip(documents, "doc_id", "text", block_words=8, max_doc_frequency=2)


# ---------------------------------------------------------------------------
# §2.12 r6 additions: hashed-linear quality classifier, CCNet perplexity
# buckets, SemDeDup embedding-space dedup
# ---------------------------------------------------------------------------

_QC_DIM = 1024
_QC_FEAT = f"(CAST('0x' || substr(md5(t), 1, 12) AS BIGINT) % {_QC_DIM})"
# Integer weight numerator k in [0, 2000] (weight = (k-1000)/1000): the
# per-doc sum stays in exact integer space, so the mean is a single float
# division and rounds identically in both engines regardless of their
# float-sum accumulation order.
_QC_K = (
    "(CAST('0x' || substr(md5('w|' || CAST(" + _QC_FEAT + " AS VARCHAR)), 1, 12) AS BIGINT)"
    " % 2001)"
)


@query(
    "quality_classifier",
    oracle=f"""
    WITH toks AS (SELECT doc_id, COALESCE({_TFIDF_TOKS_SQL}, []) AS __toks FROM documents),
    scored AS (
        SELECT doc_id, len(__toks) AS n_tokens,
               CASE WHEN len(__toks) > 0 THEN
                 CAST(ROUND(CAST(
                   CAST(list_sum(list_transform(__toks, t -> {_QC_K}))
                        - 1000 * len(__toks) AS DOUBLE)
                   / (1000.0 * len(__toks)) AS DECIMAL(25,10)), 6) AS DOUBLE)
               END AS logit
        FROM toks
    )
    SELECT doc_id, n_tokens, logit,
           ROUND(1.0 / (1.0 + exp(-logit)), 6) AS prob,
           COALESCE(ROUND(1.0 / (1.0 + exp(-logit)), 6) >= 0.5, false) AS keep
    FROM scored
    """,
)
def quality_classifier_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-linear quality classifier (operators/textstats.py:
    quality_classifier_score): fastText/CCNet-shaped token->hashed-feature->
    weight->sigmoid scoring with the deterministic pseudo-model — a pure
    per-row expression pass (one higher-order aggregate, no explode, no
    join, no shuffle); the trained-weights path broadcast-joins a dim-row
    frame instead."""
    (documents,) = _t(spark, sf_dir, "documents")
    return ops.quality_classifier_score(documents, "doc_id", "text", dim=_QC_DIM)


@query(
    "perplexity_buckets",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({_TFIDF_TOKS_SQL}) AS term FROM documents
    ),
    freq AS (SELECT term, COUNT(*) AS tc FROM toks GROUP BY term),
    totals AS (SELECT SUM(tc) AS n_tokens, COUNT(*) AS vocab FROM freq),
    scores AS (
        SELECT t.doc_id,
               CAST(ROUND(CAST(CAST(SUM(CAST(ln((f.tc + 1.0) / (tot.n_tokens + CAST(tot.vocab AS DOUBLE)))
                             AS DECIMAL(25,12))) AS DOUBLE) / COUNT(*)
                  AS DECIMAL(25,10)), 6) AS DOUBLE) AS mean_logprob,
               COUNT(*) AS n_tokens
        FROM toks t JOIN freq f USING (term), totals tot
        GROUP BY t.doc_id
    ),
    scored AS (
        SELECT s.doc_id, d.lang, s.mean_logprob, s.n_tokens
        FROM scores s JOIN documents d USING (doc_id)
    ),
    cuts AS (
        SELECT lang,
               ROUND(quantile_cont(mean_logprob, 1.0/3.0), 6) AS lo,
               ROUND(quantile_cont(mean_logprob, 2.0/3.0), 6) AS hi
        FROM scored GROUP BY lang
    )
    SELECT s.doc_id, s.lang, s.mean_logprob, s.n_tokens,
           CASE WHEN s.mean_logprob >= c.hi THEN 'head'
                WHEN s.mean_logprob >= c.lo THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM scored s JOIN cuts c USING (lang)
    """,
)
def perplexity_buckets_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail perplexity bucketing per language
    (operators/textstats.py:perplexity_buckets): unigram LM score ->
    per-lang exact tercile cuts (languages-sized frame, broadcast back) ->
    comparison bucketing. Never a per-lang ntile window — that would sort
    each language's whole corpus on one task."""
    (documents,) = _t(spark, sf_dir, "documents")
    return ops.perplexity_buckets(documents, "doc_id", "text", "lang")


_SEMDEDUP_CELLS = 8
_SEMDEDUP_THRESHOLD = 0.8


def _semantic_dedup_oracle(n_cells: int = _SEMDEDUP_CELLS, threshold: float = _SEMDEDUP_THRESHOLD) -> str:
    dot_ac = "CAST(list_sum(list_transform(range(1, len(a.__nv) + 1), i -> a.__nv[i] * c.__cent[i])) AS DOUBLE)"
    return f"""
    WITH v AS (SELECT vec_id, {_NORMALIZE_SQL} AS __nv FROM embeddings),
    cent AS (
        SELECT vec_id AS cell, __nv AS __cent FROM v ORDER BY vec_id LIMIT {n_cells}
    ),
    assigned AS (
        SELECT vec_id, cell, __nv FROM (
            SELECT a.vec_id, c.cell, a.__nv,
                   ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                      ORDER BY ROUND({dot_ac}, 6) DESC, c.cell) AS rn
            FROM v a, cent c
        ) WHERE rn = 1
    ),
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, ROUND({_DOT_SQL}, 6) AS cos
        FROM assigned a JOIN assigned b
          ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE ROUND({_DOT_SQL}, 6) >= {threshold!r}
    ),
    losers AS (
        SELECT id_b, id_a AS dup_of, cos FROM (
            SELECT id_b, id_a, cos,
                   ROW_NUMBER() OVER (PARTITION BY id_b ORDER BY id_a, cos) AS rn
            FROM pairs
        ) WHERE rn = 1
    )
    SELECT s.vec_id, s.cell, l.id_b IS NULL AS kept, l.dup_of, l.cos AS cosine
    FROM assigned s LEFT JOIN losers l ON s.vec_id = l.id_b
    """


def _semantic_dedup_two_level_oracle(
    n_cells: int = _SEMDEDUP_CELLS,
    threshold: float = _SEMDEDUP_THRESHOLD,
    super_probes: int = 2,
) -> str:
    """Exact replay of assign_levels=2: supers = lowest sqrt(k) centroids,
    child->super argmax, vector->TOP-`super_probes` supers (rn <=
    super_probes), then vector->child argmax across the probed supers'
    children; each ranking on (ROUND(cos,6) DESC, lowest id); pairs +
    loser election as the flat oracle."""
    import math

    n_super = math.isqrt(max(n_cells - 1, 0)) + 1
    dot_cs = "CAST(list_sum(list_transform(range(1, len(c.__cent) + 1), i -> c.__cent[i] * s.__scent[i])) AS DOUBLE)"
    dot_as = "CAST(list_sum(list_transform(range(1, len(a.__nv) + 1), i -> a.__nv[i] * s.__scent[i])) AS DOUBLE)"
    dot_ac = "CAST(list_sum(list_transform(range(1, len(a.__nv) + 1), i -> a.__nv[i] * c.__cent[i])) AS DOUBLE)"
    return f"""
    WITH v AS (SELECT vec_id, {_NORMALIZE_SQL} AS __nv FROM embeddings),
    cent AS (
        SELECT vec_id AS cell, __nv AS __cent FROM v ORDER BY vec_id LIMIT {n_cells}
    ),
    sup AS (
        SELECT cell AS super, __cent AS __scent FROM cent ORDER BY cell LIMIT {n_super}
    ),
    c2s AS (
        SELECT cell, __cent, super FROM (
            SELECT c.cell, c.__cent, s.super,
                   ROW_NUMBER() OVER (PARTITION BY c.cell
                                      ORDER BY ROUND({dot_cs}, 6) DESC, s.super) AS rn
            FROM cent c, sup s
        ) WHERE rn = 1
    ),
    vsup AS (
        SELECT vec_id, __nv, super FROM (
            SELECT a.vec_id, a.__nv, s.super,
                   ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                      ORDER BY ROUND({dot_as}, 6) DESC, s.super) AS rn
            FROM v a, sup s
        ) WHERE rn <= {super_probes}
    ),
    assigned AS (
        SELECT vec_id, cell, __nv FROM (
            SELECT a.vec_id, c.cell, a.__nv,
                   ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                      ORDER BY ROUND({dot_ac}, 6) DESC, c.cell) AS rn
            FROM vsup a JOIN c2s c ON a.super = c.super
        ) WHERE rn = 1
    ),
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, ROUND({_DOT_SQL}, 6) AS cos
        FROM assigned a JOIN assigned b
          ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE ROUND({_DOT_SQL}, 6) >= {threshold!r}
    ),
    losers AS (
        SELECT id_b, id_a AS dup_of, cos FROM (
            SELECT id_b, id_a, cos,
                   ROW_NUMBER() OVER (PARTITION BY id_b ORDER BY id_a, cos) AS rn
            FROM pairs
        ) WHERE rn = 1
    )
    SELECT s.vec_id, s.cell, l.id_b IS NULL AS kept, l.dup_of, l.cos AS cosine
    FROM assigned s LEFT JOIN losers l ON s.vec_id = l.id_b
    """


@query("semantic_dedup_two_level", oracle=_semantic_dedup_two_level_oracle())
def semantic_dedup_two_level_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with HIERARCHICAL cell assignment (operators/dedup.py:
    semantic_dedup assign_levels=2) — the scale-safe routing for the
    cells-grow-with-corpus design point. The r10 probe measured flat
    assignment as the operator's only superlinear term (n x n_cells dots
    with n_cells ∝ n is O(n²/cell_size); alpha 1.16 at the fourth decade
    while the balanced-cell pairwise term reads exactly 1.00); two-level
    routing costs O(n·sqrt(k)). Assignment differences are confined to
    super-cell boundaries — the same partition trade as n_cells itself —
    and the oracle replays the two-level argmax chain exactly, so this row
    value-verifies the HIERARCHICAL semantics, not a drifted approximation
    of the flat row."""
    (embeddings,) = _t(spark, sf_dir, "embeddings")
    return ops.semantic_dedup(
        embeddings, "vec_id", "embedding",
        n_cells=_SEMDEDUP_CELLS, threshold=_SEMDEDUP_THRESHOLD, assign_levels=2,
    )


@query("semantic_dedup", oracle=_semantic_dedup_oracle())
def semantic_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup embedding-space near-dedup (operators/dedup.py:
    semantic_dedup): coarse cells bound the pairwise cosine work, smallest
    same-cell id above threshold wins — paraphrase/re-encoding dedup that
    MinHash cannot see. Deterministic-cell twin of the KMeans-trained
    production mode. ``assign_levels=1`` is the EXPLICIT flat-assignment
    pin (the library default became adaptive in r11 — hierarchical when
    n_cells > 100); this row anchors the two-level twin's semantics."""
    (embeddings,) = _t(spark, sf_dir, "embeddings")
    return ops.semantic_dedup(
        embeddings, "vec_id", "embedding",
        n_cells=_SEMDEDUP_CELLS, threshold=_SEMDEDUP_THRESHOLD, assign_levels=1,
    )


# ---------------------------------------------------------------------------
# Trained-mode (KMeans) recall contracts — VERDICT r6 item 1. The production
# configurations of the ANN/dedup family (ann_topk / semantic_dedup with
# trained=True) run an iterative pyspark.ml fit DuckDB cannot
# reproduce, so the gated contract follows the approx_distinct pattern: both
# engines compute the EXACT baseline (brute-force top-k / all-pairs dup set
# — real arithmetic parity work), and next to it a bounded-quality BOOLEAN.
# The oracle asserts the bound as literal truth; the Spark side emits the
# MEASURED compliance of the trained path. Hash equality therefore holds iff
# the trained configuration actually meets its recall floor — a hard driver
# signal for the exact code path a production 100 TB job runs. Everything is
# deterministic (fixed KMeans seed, fixed data), so the floors are exact
# re-measurable quantities, not statistical hopes.
# ---------------------------------------------------------------------------

# Per-query hit floor for the trained ANN paths at the production params
# (n_codes=32, rerank=200 — the r6-measured configuration): recall@5
# measured this round is mean 0.971 / min 0.80 at sf0.01 (both variants,
# matching the r6 record exactly) and mean 0.914-0.957 / min 0.60 at
# sf0.001 (500-vector corpus, fixed 8 coarse cells). The per-query floor
# sits at the cross-SF minimum 0.6 — deterministic (fixed KMeans seed,
# fixed data), so only a parameter or algorithm regression can trip it
# (the same queries at a degraded n_codes=8/rerank=50 config measure
# min 0.20 — the tripwire is wide).
_TRAINED_ANN_FLOOR = 0.6
# semantic_dedup trained=True vs the exhaustive all-pairs dup set (measured
# at both SFs; cell-boundary losses are the documented SemDeDup trade).
_SEMDEDUP_TRAINED_FLOOR = 0.6


def _trained_ann_oracle(k: int = 5) -> str:
    """Exact brute-force top-k per query (cosines rounded to 6 for ordering
    parity, summed and rounded to 4) + the literal recall contract."""
    dot = "CAST(list_sum(list_transform(range(1, len(a.__nv) + 1), i -> q.__nv[i] * a.__nv[i])) AS DOUBLE)"
    return f"""
    WITH v AS (SELECT vec_id, {_NORMALIZE_SQL} AS __nv FROM embeddings),
    q AS (SELECT vec_id AS query_id, __nv FROM v WHERE vec_id % 37 = 0),
    scored AS (
        SELECT q.query_id, a.vec_id, ROUND({dot}, 6) AS cos6 FROM v a, q
    ),
    ranked AS (
        SELECT query_id, vec_id, cos6,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos6 DESC, vec_id ASC) AS rank
        FROM scored
    ),
    topk AS (SELECT * FROM ranked WHERE rank <= {k})
    SELECT query_id,
           COUNT(*) AS n_truth,
           CAST(ROUND(SUM(CAST(cos6 AS DECIMAL(25, 6))), 4) AS DOUBLE)
               AS truth_cos_sum,
           TRUE AS recall_ok
    FROM topk GROUP BY query_id
    """


def _trained_ann_contract(
    spark: SparkSession, sf_dir: str, build_topk, k: int = 5
) -> DataFrame:
    """Shared harness: exact truth via brute_force_topk (rank_round=6 =
    the oracle's cos6 ordering), trained candidate set from ``build_topk``,
    per-query hit count vs ``ceil(floor * n_truth)``."""
    from instructionspipe_spark.operators.similarity import brute_force_topk

    (embeddings,) = _t(spark, sf_dir, "embeddings")
    queries_df = embeddings.filter(F.col("vec_id") % 37 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    truth = brute_force_topk(embeddings, queries_df, k=k, rank_round=6)
    got = build_topk(embeddings, queries_df)
    per_q = truth.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_truth"),
        # Sum through exact DECIMAL(25,6): round(sum(round(x,6)),4) on IEEE
        # doubles lands on .X5 half-ulp boundaries where Spark and DuckDB
        # round opposite ways (seen at sf0.1); decimal sums are exact and
        # both engines round decimals half-away-from-zero.
        F.round(
            F.sum(F.round(F.col("cosine"), 6).cast("decimal(25,6)")), 4
        )
        .cast("double")
        .alias("truth_cos_sum"),
    )
    hits = (
        truth.select("query_id", "vec_id")
        .join(got.select("query_id", "vec_id"), ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("__nh"))
    )
    return (
        per_q.join(hits, "query_id", "left")
        .select(
            "query_id",
            "n_truth",
            "truth_cos_sum",
            (
                F.coalesce(F.col("__nh"), F.lit(0))
                >= F.ceil(F.lit(_TRAINED_ANN_FLOOR) * F.col("n_truth"))
            ).alias("recall_ok"),
        )
    )


@query("ivfadc_trained_recall", oracle=_trained_ann_oracle())
def ivfadc_trained_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION IVFADC configuration (operators/similarity.py
    ann_topk codec pq, trained=True: KMeans coarse cells + KMeans codebooks,
    n_assign=3 multiple assignment, n_probe=6, m=8 subspaces, n_codes=32,
    exact rerank of 400) gated as a bounded recall contract vs the exact
    brute-force baseline both engines compute. recall_ok = per-query hits
    >= ceil(0.6 * k). Retuned r9 for the sf0.1 corpus (2000 vectors, 55
    queries): the old m=4 subspaces quantized too coarsely there (7/55
    queries under the floor); m=8 + rerank 400 measures mean 0.971 /
    min 0.60 at sf0.1 on 4 local cores (spherical coarse cells; the PQ
    codebook fit varies with the core count). rerank is a per-query
    CONSTANT (FAISS refine discipline) — at 100 TB it stays 400 rows per
    query, not a fraction of the corpus."""
    from instructionspipe_spark.operators.similarity import ann_topk

    return _trained_ann_contract(
        spark, sf_dir,
        lambda emb, q: ann_topk(
            emb, q, k=5, codec="pq", n_cells=8, n_probe=6, n_assign=3, trained=True,
            seed=42, max_iter=10, m=8, n_codes=32, rank_round=6, rerank=400,
        ),
    )


@query("pq_trained_recall", oracle=_trained_ann_oracle())
def pq_trained_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production PQ configuration (operators/similarity.py ann_topk
    codec pq, trained=True: per-subspace KMeans codebooks, m=8 subspaces, n_codes=32, ADC
    shortlist of 400, exact rerank) gated as a bounded recall contract vs
    exact brute force — same contract shape as ivfadc_trained_recall.
    Retuned r9 for sf0.1 (m=4/rerank=200 left 2/55 queries under the
    floor there); m=8 + rerank 400 measures mean 0.989 / min 0.80 at
    sf0.1. rerank is a per-query constant, not a corpus fraction."""
    from instructionspipe_spark.operators.similarity import ann_topk

    return _trained_ann_contract(
        spark, sf_dir,
        lambda emb, q: ann_topk(
            emb, q, k=5, codec="pq", trained=True, seed=42, max_iter=10,
            m=8, n_codes=32, rank_round=6, rerank=400,
        ),
    )


@query(
    "semantic_dedup_trained",
    oracle=f"""
    WITH v AS (SELECT vec_id, {_NORMALIZE_SQL} AS __nv FROM embeddings),
    pairs AS (
        SELECT b.vec_id AS id_b
        FROM v a JOIN v b ON a.vec_id < b.vec_id
        WHERE ROUND({_DOT_SQL}, 6) >= {_SEMDEDUP_THRESHOLD!r}
    ),
    dup AS (SELECT DISTINCT id_b FROM pairs)
    SELECT (SELECT COUNT(*) FROM v) AS n_vectors,
           (SELECT COUNT(*) FROM dup) AS n_full,
           TRUE AS recall_ok
    """,
)
def semantic_dedup_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production SemDeDup configuration (operators/dedup.py
    semantic_dedup trained=True: KMeans cells, spherical assignment) gated
    as a bounded recall contract: both engines compute the EXHAUSTIVE
    all-pairs dup set (every vector with a smaller-id cosine>=threshold
    neighbor — the zero-loss baseline SemDeDup's cells approximate), and
    the Spark side asserts the trained mode cuts at least
    ceil(0.6 * n_full) of it. Cell-boundary misses are the documented
    SemDeDup trade; a parameter/algorithm regression (wrong assignment,
    broken pairing) collapses the cut count and trips the bound."""
    from instructionspipe_spark.operators.dedup import embedding_near_dup

    (embeddings,) = _t(spark, sf_dir, "embeddings")
    sd = ops.semantic_dedup(
        embeddings, "vec_id", "embedding",
        n_cells=_SEMDEDUP_CELLS, threshold=_SEMDEDUP_THRESHOLD, trained=True,
    )
    n_cut = sd.agg(
        F.sum(F.when(~F.col("kept"), 1).otherwise(0)).alias("__n_cut"),
        F.count(F.lit(1)).alias("n_vectors"),
    )
    # The operator pre-filters on the UNROUNDED cosine; loosen it by one
    # rounding quantum and decide membership on round(cos, 6) like the
    # oracle, so a 0.7999996-boundary pair cannot split the engines.
    full = (
        embedding_near_dup(
            embeddings, "vec_id", "embedding", threshold=_SEMDEDUP_THRESHOLD - 1e-4
        )
        .filter(F.round(F.col("cosine"), 6) >= F.lit(_SEMDEDUP_THRESHOLD))
        .select("id_b")
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_full"))
    )
    return n_cut.crossJoin(F.broadcast(full)).select(
        "n_vectors",
        "n_full",
        (
            F.col("__n_cut")
            >= F.ceil(F.lit(_SEMDEDUP_TRAINED_FLOOR) * F.col("n_full"))
        ).alias("recall_ok"),
    )


# ---------------------------------------------------------------------------
# Streaming-equals-batch twins, round 7 (VERDICT r6 item 4): extend the r6
# twin pattern (streaming_tumbling_equiv / streaming_band_admission) to
# sliding windows, session windows, and watermark late-data drops — the
# streaming/jobs.py paths that were pytest-only. Each runs a REAL stream
# (file source, availableNow drain, memory sink via run_stream_to_df) whose
# result must hash-match a pure batch SQL oracle. The session and late-drop
# twins exercise APPEND-mode emission: the file source is split into
# mtime-ordered files read one per micro-batch (maxFilesPerTrigger=1), so
# the watermark computed from batch 1 governs batch 2's late-row drops and
# window emissions — deterministic, and mirrored exactly by the oracle's
# "closed by max(ts) - delay" predicate.
# ---------------------------------------------------------------------------


def _layout_scratch(sf_dir: str, name: str, df: DataFrame, partition_by: str) -> str:
    """Materialize a hive-partitioned copy of a table once per sf_dir via
    the library's own partitioned writer (the layout rows' ingest fixture —
    dirs like ``evt_date=2024-01-08/``, partition values in the DIRECTORY
    ONLY, never duplicated into the data files). Idempotent via a _DONE
    marker; bump the ``name`` version tag when the generator changes."""
    from instructionspipe_spark.sources.io import write_parquet

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sf_name = os.path.basename(os.path.normpath(sf_dir))
    scratch = os.path.join(root, ".layout_scratch", sf_name, name)
    done = os.path.join(scratch, "_DONE")
    if not os.path.exists(done):
        write_parquet(df, scratch, partition_by=[partition_by])
        with open(done, "w") as f:
            f.write("ok")
    return scratch


def _stream_twin_inputs(sf_dir: str, name: str, sqls: list) -> str:
    """Materialize a twin's file-sequenced inputs once per sf_dir: each
    (fname, duckdb SELECT) pair becomes one parquet file with an explicitly
    increasing mtime, so Spark's file source (oldest-first ordering) replays
    them as separate micro-batches in list order. Idempotent via a _DONE
    marker; bump the ``name`` version tag when the generator changes."""
    import duckdb

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sf_name = os.path.basename(os.path.normpath(sf_dir))
    scratch = os.path.join(root, ".stream_scratch", sf_name, name)
    done = os.path.join(scratch, "_DONE")
    if not os.path.exists(done):
        os.makedirs(scratch, exist_ok=True)
        con = duckdb.connect()
        for i, (fname, sql) in enumerate(sqls):
            path = os.path.join(scratch, fname)
            con.sql(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")
            os.utime(path, (1_700_000_000 + i * 100,) * 2)
        con.close()
        with open(done, "w") as f:
            f.write("ok")
    return scratch


def _events_stream(spark: SparkSession, path: str, max_files: int | None = None):
    """File-source stream over ``path`` with the ts column cast to LTZ under
    a UTC session (the NTZ->LTZ->window->NTZ round-trip of the r6 tumbling
    twin, registry.py streaming_tumbling_equiv)."""
    raw_schema = spark.read.option("pathGlobFilter", "*.parquet").parquet(path).schema
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    reader = spark.readStream.schema(raw_schema).option("pathGlobFilter", "*.parquet")
    if max_files is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files))
    stream = reader.parquet(path)
    if raw_schema["ts"].dataType.simpleString() == "bigint":  # legacy nanosAsLong
        ts_ltz = F.timestamp_micros(F.expr("`ts` div 1000")).cast("timestamp_ltz")
    else:
        ts_ltz = F.col("ts").cast("timestamp_ltz")
    return stream.withColumn("ts", ts_ltz)


@query(
    "streaming_sliding_equiv",
    oracle="""
    WITH wins AS (
        SELECT date_trunc('hour', ts)
               + CASE WHEN minute(ts) >= 30 THEN INTERVAL 30 MINUTE
                      ELSE INTERVAL 0 MINUTE END
               - t.k * INTERVAL 30 MINUTE AS window_start,
               event_type, value
        FROM events, UNNEST([0, 1]) AS t(k)
    )
    SELECT window_start,
           window_start + INTERVAL 1 HOUR AS window_end,
           event_type,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(20,6))), 2) AS DOUBLE) AS total_value
    FROM wins GROUP BY 1, 2, 3
    """,
)
def streaming_sliding_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-equals-batch for SLIDING windows (streaming/jobs.py
    sliding_window_agg semantics): events streamed through a watermarked
    1-hour window sliding every 30 minutes (complete mode — every window
    lands in the sink) must hash-match the batch oracle that assigns each
    event to its two slide-grid windows explicitly. Exercises overlapping
    window-state fan-out in the real streaming runtime."""
    _t(spark, sf_dir, "events")  # nanos conf + catalog parity
    from instructionspipe_spark.streaming.jobs import run_stream_to_df

    raw_schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if raw_schema["ts"].dataType.simpleString() == "bigint":
        ts_ltz = F.timestamp_micros(F.expr("`ts` div 1000")).cast("timestamp_ltz")
    else:
        ts_ltz = F.col("ts").cast("timestamp_ltz")
    agg = (
        stream.withColumn("ts", ts_ltz)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "30 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(20,6)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("window.start").cast("timestamp_ntz").alias("window_start"),
            F.col("window.end").cast("timestamp_ntz").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return run_stream_to_df(agg, "complete")


_SESSION_TWIN_GAP = "17 minutes"
_SESSION_TWIN_DELAY = "61 minutes"


@query(
    "streaming_session_equiv",
    oracle="""
    WITH e AS (SELECT user_id % 50 AS skey, ts FROM events),
    mx AS (SELECT MAX(ts) AS m FROM events),
    lagged AS (
        SELECT skey, ts, LAG(ts) OVER (PARTITION BY skey ORDER BY ts) AS prev
        FROM e
    ),
    flagged AS (
        SELECT skey, ts,
               CASE WHEN prev IS NULL OR ts - prev > INTERVAL 17 MINUTE
                    THEN 1 ELSE 0 END AS newgrp
        FROM lagged
    ),
    grp AS (
        SELECT skey, ts,
               SUM(newgrp) OVER (PARTITION BY skey ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS g
        FROM flagged
    ),
    sess AS (
        SELECT skey, MIN(ts) AS session_start,
               MAX(ts) + INTERVAL 17 MINUTE AS session_end,
               COUNT(*) AS n_events
        FROM grp GROUP BY skey, g
    )
    SELECT skey, session_start, session_end, n_events
    FROM sess, mx
    WHERE session_end <= mx.m - INTERVAL 61 MINUTE
    """,
)
def streaming_session_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-equals-batch for SESSION windows in APPEND mode: events
    keyed by user_id%50 streamed through session_window(gap=17min,
    watermark=61min). The input is two mtime-ordered files read one per
    micro-batch: the data file, then a single same-max-ts sentinel row
    (key -1) whose only job is forcing a second batch so the emission check
    runs with the batch-1 watermark (max ts - 61min) active — the sentinel
    itself never raises the watermark, keeping the emitted set independent
    of whether a trailing no-data batch runs. Oracle: gaps-and-islands
    sessionization + the same 'closed by max(ts) - delay' predicate.
    State shape at 100 TB: 50 keys here, bounded per-key session state
    evicted by the watermark — the session-window state-store path, not a
    driver collect."""
    _t(spark, sf_dir, "events")
    from instructionspipe_spark.streaming.jobs import run_stream_to_df, session_window_agg

    src = os.path.join(sf_dir, "events.parquet").replace("'", "''")
    scratch = _stream_twin_inputs(
        sf_dir,
        "session_v1",
        [
            ("a.parquet", f"SELECT user_id % 50 AS skey, ts FROM '{src}' ORDER BY ts"),
            (
                "b.parquet",
                f"SELECT CAST(-1 AS BIGINT) AS skey, MAX(ts) AS ts FROM '{src}'",
            ),
        ],
    )
    stream = _events_stream(spark, scratch, max_files=1)
    agg = session_window_agg(
        stream, "ts", gap=_SESSION_TWIN_GAP, key="skey", watermark=_SESSION_TWIN_DELAY
    )
    out = run_stream_to_df(agg, "append")
    return out.filter(F.col("skey") >= 0).select(
        "skey",
        F.col("session_start").cast("timestamp_ntz").alias("session_start"),
        F.col("session_end").cast("timestamp_ntz").alias("session_end"),
        "n_events",
    )


@query(
    "streaming_late_drop_equiv",
    oracle="""
    WITH a AS (
        SELECT ts, event_type, value FROM events WHERE event_id % 7 != 3
    ),
    mx AS (SELECT MAX(ts) AS m FROM a)
    SELECT date_trunc('hour', ts) AS window_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
           event_type,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(20,6))), 2) AS DOUBLE) AS total_value
    FROM a, mx
    WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= mx.m - INTERVAL 1 HOUR
    GROUP BY 1, 2, 3
    """,
)
def streaming_late_drop_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark LATE-DATA DROP equivalence in APPEND mode: the on-time
    cohort (event_id%7 != 3) arrives in micro-batch 1 and advances the
    watermark to max(ts) - 1h; micro-batch 2 then delivers the held-out
    cohort shifted 400 days into the past — every row older than the
    watermark, so the streaming runtime must DROP all of them before
    aggregation. The emitted result is therefore the on-time cohort's
    tumbling windows closed by the batch-1 watermark; if the drop path
    broke, the 2022-era windows (which satisfy the emission predicate)
    would appear and the hash would diverge from the batch oracle, which
    reads the on-time cohort only.

    Three files, not two — measured Spark semantics (probed in-session,
    round 7): a watermark jump becomes active for EMISSION in the batch
    where it jumps, but input-row late-filtering only applies to rows
    arriving a batch AFTER the jump. So the late cohort must arrive in
    batch 3, behind a same-max-ts sentinel (batch 2) that burns the
    activation batch without moving the watermark; the sentinel's own
    window ends after the watermark and never emits."""
    _t(spark, sf_dir, "events")
    from instructionspipe_spark.streaming.jobs import run_stream_to_df

    src = os.path.join(sf_dir, "events.parquet").replace("'", "''")
    scratch = _stream_twin_inputs(
        sf_dir,
        "late_v2",
        [
            (
                "a.parquet",
                f"SELECT ts, event_type, value FROM '{src}' WHERE event_id % 7 != 3 ORDER BY ts",
            ),
            (
                "b.parquet",
                f"SELECT MAX(ts) AS ts, '__sentinel' AS event_type, 0.0 AS value "
                f"FROM '{src}' WHERE event_id % 7 != 3",
            ),
            (
                "c.parquet",
                f"SELECT ts - INTERVAL 400 DAY AS ts, event_type, value FROM '{src}' WHERE event_id % 7 = 3 ORDER BY ts",
            ),
        ],
    )
    stream = _events_stream(spark, scratch, max_files=1)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(20,6)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("window.start").cast("timestamp_ntz").alias("window_start"),
            F.col("window.end").cast("timestamp_ntz").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return run_stream_to_df(agg, "append")


@query(
    "streaming_dedup_equiv",
    oracle="""
    SELECT event_id, ts, event_type, value
    FROM events WHERE event_id % 5 != 2
    """,
)
def streaming_dedup_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming DEDUP equivalence (streaming/jobs.py
    streaming_dedup -> dropDuplicatesWithinWatermark, G4 at scale): the
    cohort file is replayed TWICE as two mtime-ordered micro-batches, so
    every batch-2 row collides with dedup STATE built in batch 1 — the
    cross-batch state-store path, not an in-batch distinct. The watermark
    (35 days > the 30-day event span) keeps all state alive through the
    replay; emitted result must equal exactly one copy of the cohort, which
    is what the batch oracle selects. A broken state store (lost keys,
    premature eviction) emits duplicates and diverges the hash."""
    _t(spark, sf_dir, "events")
    from instructionspipe_spark.streaming.jobs import run_stream_to_df, streaming_dedup

    src = os.path.join(sf_dir, "events.parquet").replace("'", "''")
    cohort = (
        f"SELECT event_id, ts, event_type, value FROM '{src}' "
        f"WHERE event_id % 5 != 2 ORDER BY event_id"
    )
    scratch = _stream_twin_inputs(
        sf_dir, "dedup_v1", [("a.parquet", cohort), ("b.parquet", cohort)]
    )
    stream = _events_stream(spark, scratch, max_files=1)
    deduped = streaming_dedup(stream, ["event_id"], "ts", watermark="35 days")
    out = run_stream_to_df(deduped, "append")
    return out.select(
        "event_id", F.col("ts").cast("timestamp_ntz").alias("ts"), "event_type", "value"
    )


@query("streaming_llm_cache_equiv", oracle=_MAPREDUCE_ORACLE)
def streaming_llm_cache_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The foreachBatch LLM stage (streaming/jobs.py foreach_batch_llm —
    SURVEY §2.10's one batch-semantics streaming piece) under the oracle:
    the documents table split into two mtime-ordered files streams through
    the full instruction map/reduce pipeline ONE MICRO-BATCH AT A TIME,
    with completions routed through the persistent cache table (L5) —
    batch 2's repeated prompts are served from cache written by batch 1.
    The parquet the stage appends across batches must hash-match the exact
    batch-mode MAPREDUCE oracle — cache hits and misses are
    indistinguishable from fresh computation or the hash diverges.
    Checkpoint/cache/output are wiped per build so every run replays both
    micro-batches from a clean slate."""
    import shutil

    from instructionspipe_spark.streaming.jobs import foreach_batch_llm

    _t(spark, sf_dir, "documents")
    src = os.path.join(sf_dir, "documents.parquet").replace("'", "''")
    scratch = _stream_twin_inputs(
        sf_dir,
        "llm_cache_v1",
        [
            ("a.parquet", f"SELECT doc_id, text, lang FROM '{src}' WHERE doc_id % 2 = 0 ORDER BY doc_id"),
            ("b.parquet", f"SELECT doc_id, text, lang FROM '{src}' WHERE doc_id % 2 = 1 ORDER BY doc_id"),
        ],
    )
    run_dir = os.path.join(os.path.dirname(scratch), "llm_cache_v1_run")
    shutil.rmtree(run_dir, ignore_errors=True)
    out_path = os.path.join(run_dir, "out")
    schema = spark.read.option("pathGlobFilter", "*.parquet").parquet(scratch).schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", "1")
        .parquet(scratch)
    )
    writer = foreach_batch_llm(
        stream,
        DOC_PIPELINE,
        MockLlm(),
        cache_path=os.path.join(run_dir, "cache"),
        checkpoint=os.path.join(run_dir, "ckpt"),
        out_path=out_path,
    )
    q = writer.start()
    q.awaitTermination()
    return spark.read.parquet(out_path).select(
        "doc_id", "summary", "keywords", "report", "result"
    )


@query(
    "streaming_stateful_counts_equiv",
    oracle="""
    WITH e AS (
        SELECT user_id % 20 AS skey, event_type, event_id % 2 AS b FROM events
    ),
    d0 AS (SELECT DISTINCT skey, event_type FROM e WHERE b = 0),
    d1 AS (SELECT DISTINCT skey, event_type FROM e WHERE b = 1),
    new1 AS (
        SELECT d1.skey, COUNT(*) AS c
        FROM d1 LEFT JOIN d0 ON d0.skey = d1.skey AND d0.event_type = d1.event_type
        WHERE d0.skey IS NULL GROUP BY d1.skey
    ),
    tot AS (SELECT skey, COUNT(DISTINCT event_type) AS u FROM e GROUP BY skey),
    b0 AS (
        SELECT skey, COUNT(*) AS n, COUNT(DISTINCT event_type) AS u
        FROM e WHERE b = 0 GROUP BY skey
    ),
    b1 AS (SELECT skey, COUNT(*) AS n FROM e WHERE b = 1 GROUP BY skey)
    SELECT skey, n AS batch_rows, u AS new_uniques, u AS total_uniques FROM b0
    UNION ALL
    SELECT b1.skey, b1.n AS batch_rows,
           COALESCE(new1.c, 0) AS new_uniques,
           tot.u AS total_uniques
    FROM b1
    LEFT JOIN new1 ON new1.skey = b1.skey
    JOIN tot ON tot.skey = b1.skey
    """,
)
def streaming_stateful_counts_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CUSTOM stateful streaming operator (streaming/jobs.py
    stateful_running_dedup_count — applyInPandasWithState, the principled
    version of the reference's in-process dedup Set,
    etl_slimpajama_dc_proc.py:116-138) under the oracle: events keyed by
    user_id%20 replayed as two mtime-ordered micro-batches; each batch
    emits per-key (batch_rows, new_uniques, total_uniques), where batch
    2's new_uniques counts event types NOT present in the key's batch-1
    state — the checkpointed GroupState carrying the seen-hash set across
    micro-batches. The batch oracle reconstructs both emissions from the
    event_id%2 cohorts. A lost or leaking state store (reset sets, dropped
    keys) shifts new/total counts and diverges the hash. 35-day watermark
    > the 30-day event span, so no row is ever late-dropped."""
    _t(spark, sf_dir, "events")
    from instructionspipe_spark.streaming.jobs import (
        run_stream_to_df,
        stateful_running_dedup_count,
    )

    src = os.path.join(sf_dir, "events.parquet").replace("'", "''")
    scratch = _stream_twin_inputs(
        sf_dir,
        "stateful_v1",
        [
            (
                "a.parquet",
                f"SELECT user_id % 20 AS skey, event_type, ts FROM '{src}' "
                f"WHERE event_id % 2 = 0 ORDER BY event_id",
            ),
            (
                "b.parquet",
                f"SELECT user_id % 20 AS skey, event_type, ts FROM '{src}' "
                f"WHERE event_id % 2 = 1 ORDER BY event_id",
            ),
        ],
    )
    stream = _events_stream(spark, scratch, max_files=1)
    counts = stateful_running_dedup_count(
        stream, "skey", "event_type", "ts", watermark="35 days"
    )
    return run_stream_to_df(counts, "append")


# ---------------------------------------------------------------------------
# N35 config-runner family under the oracle (VERDICT r7 #1): the drop-in CLI
# twins executed END-TO-END — config JSON -> runner -> JSONL sinks on disk ->
# read back + lineage joins — hash-diffed against the same batch oracles the
# underlying operators answer to. This closes the one operator family that
# was pytest-only: what's being proven is the WIRING (sink round-trips,
# session-id lineage, field mapping), the math is the already-gated ops.
# ---------------------------------------------------------------------------


def _jsonl_scratch(sf_dir: str, name: str, sql: str) -> str:
    """Materialize a runner twin's JSONL input once per sf_dir (DuckDB NDJSON
    COPY — idempotent via existence; bump the name tag when the SELECT
    changes). Returns the file path."""
    import duckdb

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sf_name = os.path.basename(os.path.normpath(sf_dir))
    scratch = os.path.join(root, ".stream_scratch", sf_name)
    os.makedirs(scratch, exist_ok=True)
    path = os.path.join(scratch, name + ".jsonl")
    if not os.path.exists(path):
        con = duckdb.connect()
        con.sql(f"COPY ({sql}) TO '{path}' (FORMAT JSON)")
        con.close()
    return path


def _runner_run_dir(sf_dir: str, name: str) -> str:
    """A per-build output dir for a runner twin, wiped every call so append
    sinks replay from a clean slate."""
    import shutil

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sf_name = os.path.basename(os.path.normpath(sf_dir))
    run_dir = os.path.join(root, ".stream_scratch", sf_name, name + "_run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir, exist_ok=True)
    return run_dir


def _instruction_json(i: Instruction) -> dict:
    d: dict = {"name": i.name, "scope": list(i.scope)}
    for k in ("content", "role", "input_desc", "output_desc", "output_fmt", "model"):
        v = getattr(i, k)
        if v is not None:
            d[k] = v
    if i.examples:
        d["examples"] = list(i.examples)
    if i.knowledge:
        d["knowledge"] = list(i.knowledge)
    return d


@query(
    "run_config_pipeline",
    oracle="SELECT o.*, CAST(3 AS BIGINT) AS n_chatml FROM (" + _MAPREDUCE_ORACLE + ") o",
)
def run_config_pipeline_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inference-CLI drop-in (plans/runner.py::run_config, reference
    apps/instructions-mapreduce/inf.py) end-to-end under the oracle: the
    documents table round-trips through a JSONL input file, a config JSON
    carrying DOC_PIPELINE inline, the runner's THREE sinks (results /
    chatml / meta, inf.py:80-85), and back — doc_id is taken from the META
    sidecar and the outputs from the RESULTS sink, joined on the
    content-addressed session_id, so a broken sink write, lineage stamp, or
    sidecar join diverges the hash; n_chatml counts the per-instruction
    ChatML sidecar rows per session (one per instruction = 3)."""
    import json as _json

    from instructionspipe_spark.plans.runner import run_config

    src = os.path.join(sf_dir, "documents.parquet").replace("'", "''")
    in_path = _jsonl_scratch(
        sf_dir, "runner_cfg_v1",
        f"SELECT doc_id, text, lang FROM '{src}' ORDER BY doc_id",
    )
    run_dir = _runner_run_dir(sf_dir, "runner_cfg_v1")
    out_path = os.path.join(run_dir, "out.jsonl")
    chatml_path = os.path.join(run_dir, "chatml.jsonl")
    cfg = {
        "in_data_path": in_path,
        "out_data_path": out_path,
        "chatml_path": chatml_path,
        "llms": [],
        "pipe": [[_instruction_json(i) for i in st] for st in DOC_PIPELINE.stages],
    }
    cfg_path = os.path.join(run_dir, "config.json")
    with open(cfg_path, "w") as f:
        _json.dump(cfg, f)
    run_config(spark, cfg_path, llm=MockLlm())

    results = spark.read.json(out_path)
    meta = spark.read.json(chatml_path + ".meta.jsonl")
    chatml = spark.read.json(chatml_path)
    n = chatml.groupBy("session_id").agg(F.count(F.lit(1)).alias("n_chatml"))
    return (
        meta.select("doc_id", "session_id")
        .join(results.select("session_id", "summary", "keywords", "report", "result"), "session_id")
        .join(n, "session_id")
        .drop("session_id")
    )


def _judge_cfg_metrics_oracle(models=("m1", "m2")) -> str:
    p = (
        "'## Instruction' || chr(10) || 'Summarize the document.' || chr(10) || chr(10) || "
        "'## Source' || chr(10) || COALESCE(text, '') || chr(10) || chr(10) || "
        "'## Generated' || chr(10) || COALESCE(lang, '')"
    )
    hit = "substr(md5('{m}:' || p), 1, 1) IN ('0','1','2','3','4','5','6','7')"
    fact = " + ".join(f"(CASE WHEN {hit.format(m=m)} THEN 1.0 ELSE 0.0 END)" for m in models)
    elig = " + ".join(f"(CASE WHEN {hit.format(m=m)} THEN 1.0 ELSE 0.25 END)" for m in models)
    return f"""
    WITH cases AS (SELECT lang AS name, {p} AS p FROM documents),
    scored AS (
        SELECT name,
               ({fact}) / {len(models)} AS factuality,
               ({elig}) / {len(models)} AS eligibility
        FROM cases
    ),
    flagged AS (
        SELECT name, factuality, eligibility,
               CAST(CASE WHEN factuality >= 0.5 THEN 1 ELSE 0 END AS DOUBLE) AS high
        FROM scored
    )
    SELECT name,
           CAST(ROUND(CAST(SUM(factuality) / COUNT(1) AS DECIMAL(25,6)), 2) AS DOUBLE) AS avg_factuality,
           MIN(factuality) AS min_factuality,
           MAX(factuality) AS max_factuality,
           CAST(ROUND(CAST(SUM(high) / COUNT(1) AS DECIMAL(25,6)), 2) AS DOUBLE) AS high_factuality_rate,
           CAST(ROUND(CAST(SUM(eligibility) / COUNT(1) AS DECIMAL(25,6)), 2) AS DOUBLE) AS avg_eligibility,
           COUNT(1) AS n
    FROM flagged
    GROUP BY name
    """


@query("run_judge_config_metrics", oracle=_judge_cfg_metrics_oracle())
def run_judge_config_metrics_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The judge-CLI drop-in (plans/runner.py::run_judge_config, reference
    apps/llm_as_a_judge/eval_with_facts.py) end-to-end under the oracle:
    judge-shaped JSONL cases (src/gen/instr/name field mapping via the
    config), two deterministic judge models fanned out for factuality AND
    eligibility, results written to the configured sink, and the returned
    metrics frame (the reference's 4-CTE aggregation, :22-81) hash-diffed
    against a DuckDB replay of the full prompt->hash->label->score->metric
    chain."""
    import json as _json

    from instructionspipe_spark.plans.runner import run_judge_config

    src = os.path.join(sf_dir, "documents.parquet").replace("'", "''")
    in_path = _jsonl_scratch(
        sf_dir, "judge_cfg_v1",
        f"SELECT doc_id, text AS src, lang AS gen, "
        f"'Summarize the document.' AS instr, lang AS name "
        f"FROM '{src}' ORDER BY doc_id",
    )
    run_dir = _runner_run_dir(sf_dir, "judge_cfg_v1")
    cfg = {
        "in_data_path": in_path,
        "out_data_path": os.path.join(run_dir, "judged.jsonl"),
        "in_text_field": "src",
        "out_text_field": "gen",
        "instruction_field": "instr",
        "llms": [{"model": "m1"}, {"model": "m2"}],
    }
    cfg_path = os.path.join(run_dir, "config.json")
    with open(cfg_path, "w") as f:
        _json.dump(cfg, f)
    _results, metrics = run_judge_config(spark, cfg_path)
    return metrics


# ---------------------------------------------------------------------------
# N38 (r8): batch RAG context assembly — the one common LLM-data workload not
# yet represented end-to-end: ANN retrieve -> join passages -> rank-ordered
# prompt assembly -> batched completion, as ONE declarative plan. This row
# uses the exact brute-force retriever so the oracle replays every stage
# byte-for-byte; the gated IVF/PQ/LSH rows are the drop-in scale path for
# the retrieval stage (same (query_id, vec_id, rank) contract).
# ---------------------------------------------------------------------------


_RAG_PREAMBLE = "Use the context to answer."
_RAG_QUESTION = "Question: summarize the topic of document "


def _rag_oracle(k_ctx: int = 3, clip: int = 160) -> str:
    dot = _DOT_SQL.replace("b.__nv", "q.__nv").replace(
        "a.__nv[i] * q.__nv[i]", "q.__nv[i] * a.__nv[i]"
    )
    return f"""
    WITH v AS (SELECT vec_id, {_NORMALIZE_SQL} AS __nv FROM embeddings),
    q AS (SELECT vec_id AS query_id, __nv FROM v WHERE vec_id % 100 = 7),
    scored AS (
        SELECT q.query_id, a.vec_id, ROUND({dot}, 4) AS cosine
        FROM v a, q
    ),
    ranked AS (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
        FROM scored
    ),
    hits AS (SELECT * FROM ranked WHERE rank <= {k_ctx + 1} AND vec_id != query_id),
    ctx AS (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rank) AS ctx_rank
        FROM hits
    ),
    passages AS (
        SELECT c.query_id, c.ctx_rank, c.vec_id, substr(d.text, 1, {clip}) AS passage
        FROM ctx c JOIN documents d ON d.doc_id = c.vec_id
        WHERE c.ctx_rank <= {k_ctx}
    ),
    assembled AS (
        SELECT query_id,
               COUNT(*) AS n_ctx,
               string_agg(CAST(vec_id AS VARCHAR), ',' ORDER BY ctx_rank) AS ctx_ids,
               '{_RAG_PREAMBLE}' || chr(10) || chr(10)
                 || string_agg('[' || CAST(ctx_rank AS VARCHAR) || '] ' || passage,
                               chr(10) ORDER BY ctx_rank)
                 || chr(10) || chr(10) || '{_RAG_QUESTION}' || CAST(query_id AS VARCHAR)
                 AS prompt
        FROM passages GROUP BY query_id
    )
    SELECT query_id, n_ctx, ctx_ids, md5('mock:' || prompt) AS answer FROM assembled
    """


@query("rag_context_pipeline", oracle=_rag_oracle())
def rag_context_pipeline_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N38 batch RAG: for each query vector, retrieve the 3 nearest
    passages (exact cosine, self excluded, deterministic rank/tie rules
    shared with similarity_brute_topk), clip + join their document texts,
    assemble the rank-ordered context prompt in-plan, and complete the
    batch through the LLM seam (MockLlm: the oracle recomputes the md5 per
    assembled prompt, so a wrong retrieval, ordering, clip, or template
    byte diverges the hash). Plan shape: the query side broadcasts, the
    corpus streams once; assembly is one groupBy(query_id) whose
    cardinality = |queries|; the completion is a codegen expression (or the
    async kernel for a live client) — no shuffle grows with corpus size
    except the retrieval stage, which the gated IVF/PQ/LSH rows replace at
    scale."""
    from instructionspipe_spark.plans.rag import rag_assemble

    documents, embeddings = _t(spark, sf_dir, "documents", "embeddings")
    queries_df = embeddings.filter(F.col("vec_id") % 100 == 7).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return rag_assemble(
        queries_df, embeddings, documents, MockLlm(),
        k_ctx=3, clip=160, preamble=_RAG_PREAMBLE, question=_RAG_QUESTION,
    )


# ---------------------------------------------------------------------------
# N39 (r8): token-budget mixture — mixture specs are written in TOKENS, not
# documents. Two-phase budget allocation (bucket prefix sums; row-level
# running sum only in the single boundary bucket per source) proven equal
# to the oracle's naive per-source window by hash equality.
# ---------------------------------------------------------------------------


def _token_budget_oracle(seed: int = 7) -> str:
    return f"""
    WITH toks AS (
        SELECT doc_id, source,
               COALESCE({_TOKEN_COUNT_SQL}, 0) AS t,
               md5('{seed}:' || CAST(doc_id AS VARCHAR)) AS h,
               500 + 200 * (CAST(substr(source, 4) AS BIGINT) % 3) AS budget
        FROM documents
    ),
    c AS (
        SELECT doc_id, source, t, budget,
               SUM(t) OVER (PARTITION BY source ORDER BY h, doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum
        FROM toks
    )
    SELECT doc_id, source, t AS n_tokens, budget
    FROM c WHERE cum <= budget
    """


@query("token_budget_mixture", oracle=_token_budget_oracle())
def token_budget_mixture_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N39: fill per-source token budgets (500/700/900 tokens by source
    index mod 3) with a seeded sample. The Spark side runs the two-phase
    bucketed allocation (operators/sampling.py token_budget_mixture — no
    source-sized window task); the oracle runs the literal naive
    per-source running-sum window — hash equality proves the bucket
    decomposition selects the identical prefix."""
    from instructionspipe_spark.operators.sampling import token_budget_mixture

    (documents,) = _t(spark, sf_dir, "documents")
    budget = F.lit(500) + F.lit(200) * (
        F.substring("source", 4, 10).cast("long") % 3
    )
    out = token_budget_mixture(
        documents, "source", "doc_id", ops.token_count(F.col("text")), budget, seed=7
    )
    return out.select(
        "doc_id", "source", "n_tokens",
        (F.lit(500) + F.lit(200) * (F.substring("source", 4, 10).cast("long") % 3)).alias("budget"),
    )


@query(
    "streaming_join_equiv",
    oracle="""
    SELECT a.event_id AS click_id, b.event_id AS error_id, a.user_id,
           CAST(epoch_us(b.ts) - epoch_us(a.ts) AS BIGINT) AS lag_us
    FROM events a JOIN events b ON a.user_id = b.user_id
    WHERE a.event_type = 'click' AND b.event_type = 'error'
      AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 6 HOUR
    """,
)
def streaming_join_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join equals the batch join: clicks joined to
    same-user errors within the following 6 hours, run as a REAL two-sided
    Structured Streaming join (state store on both sides, watermark-driven
    eviction) over a CHRONOLOGICALLY SPLIT two-micro-batch replay — the
    first file holds the older half of events, the second the newer half,
    so boundary clicks must survive in the join state across the batch
    gap to meet their batch-2 errors. The time bound keeps the
    equivalence exact: batch-1 watermark lands 1 h behind the batch-1 max,
    every retained click still has its full 6 h match horizon ahead of the
    watermark, and batch-2 rows are all newer than it, so nothing needed
    is evicted and nothing is late-dropped — append-mode output is exactly
    the batch join. (The streaming construct word_block-era file twins
    can't express: §2.10's only two-sided stateful operator.)"""
    _t(spark, sf_dir, "events")
    from instructionspipe_spark.streaming.jobs import run_stream_to_df, stream_interval_join

    src = os.path.join(sf_dir, "events.parquet").replace("'", "''")
    half = (
        f"(SELECT min(ts) + (max(ts) - min(ts)) / 2 AS c FROM '{src}')"
    )
    scratch = _stream_twin_inputs(
        sf_dir,
        "ssjoin_v1",
        [
            (
                "a.parquet",
                f"SELECT event_id, ts, user_id, event_type FROM '{src}' "
                f"WHERE ts <= {half} ORDER BY ts",
            ),
            (
                "b.parquet",
                f"SELECT event_id, ts, user_id, event_type FROM '{src}' "
                f"WHERE ts > {half} ORDER BY ts",
            ),
        ],
    )
    stream = _events_stream(spark, scratch, max_files=1)
    clicks = stream.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("c_ts")
    )
    errors = stream.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), "user_id", F.col("ts").alias("e_ts")
    )
    joined = stream_interval_join(
        clicks, errors, ["user_id"], "c_ts", "e_ts", "6 hours", watermark="1 hour"
    )
    out = run_stream_to_df(
        joined.select(
            "click_id",
            "error_id",
            "user_id",
            (F.unix_micros("e_ts") - F.unix_micros("c_ts")).alias("lag_us"),
        ),
        "append",
    )
    return out


@query(
    "bucketed_join_revenue",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_items,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))), 2) AS DOUBLE) AS revenue
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB fact⋈fact layout, oracle-gated (sources/bucketing.py):
    orders and lineitem are (re)written bucketed+sorted by orderkey into
    the session warehouse, then joined via CATALOG scans with a merge
    hint — the executed plan is a sort-merge join with ZERO Exchange and
    zero Sort on either side (bucket files are pre-hashed and pre-sorted;
    tests/test_plans.py pins the no-Exchange contract). The write is a
    build-time action, so this row is excluded from BENCH_QUERIES like the
    other build-side rows. Hash equality against the plain-join oracle
    proves the layout changes the physical plan, never the result."""
    from instructionspipe_spark.sources.bucketing import bucketed, write_bucketed

    orders, lineitem = _t(spark, sf_dir, "orders", "lineitem")
    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    t_orders, t_lineitem = f"ip_bkt_orders_{tag}", f"ip_bkt_lineitem_{tag}"
    write_bucketed(
        orders.select("o_orderkey", "o_orderpriority"),
        t_orders, ["o_orderkey"], 8, sort_cols=["o_orderkey"],
    )
    write_bucketed(
        lineitem.select("l_orderkey", "l_extendedprice", "l_discount"),
        t_lineitem, ["l_orderkey"], 8, sort_cols=["l_orderkey"],
    )
    j = bucketed(spark, t_orders).hint("merge").join(
        bucketed(spark, t_lineitem),
        F.col("o_orderkey") == F.col("l_orderkey"),
    )
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(25,6)")),
            2,
        ).cast("double").alias("revenue"),
    )


@query(
    "partitioned_scan_pruning",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(20,6))), 2) AS DOUBLE) AS total_value
    FROM events
    WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
    GROUP BY event_type
    """,
)
def partitioned_scan_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-directory pruning, oracle-gated — the ingest-side sibling
    of bucketed_join_revenue: events land date-partitioned
    (``evt_date=YYYY-MM-DD/`` hive dirs, the sources/io.py write_parquet
    partition_by layout), and a one-week filter on the partition column is
    answered by LISTING — the scan touches 7 of ~30 directories and the
    plan carries the predicate as PartitionFilters, not a data filter
    (pinned in tests/test_plans.py). At 100 TB this is the difference
    between reading a month and reading a week; every time-ranged query in
    the registry assumes this layout at the ingest boundary. Hash equality
    against the unpartitioned oracle proves the layout moves the predicate,
    never the result."""
    (raw,) = _t(spark, sf_dir, "events")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    scratch = _layout_scratch(
        sf_dir,
        "events_by_date_v2",
        raw.withColumn("evt_date", F.to_date("ts")),
        "evt_date",
    )
    events = spark.read.parquet(scratch)
    return (
        events.filter(
            F.col("evt_date").between(F.lit("2024-01-08"), F.lit("2024-01-14"))
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(20,6)")), 2)
            .cast("double")
            .alias("total_value"),
        )
    )


@query(
    "streaming_outer_join_equiv",
    oracle="""
    SELECT a.event_id AS click_id, b.event_id AS error_id, a.user_id,
           CAST(epoch_us(b.ts) - epoch_us(a.ts) AS BIGINT) AS lag_us
    FROM (SELECT * FROM events WHERE event_type = 'click') a
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') b
      ON a.user_id = b.user_id
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 6 HOUR
    """,
)
def streaming_outer_join_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join equals the batch left join —
    the half of the join family where the STATE MACHINE is the semantics:
    a matched click emits eagerly, an unmatched click emits its NULL row
    only when the GLOBAL watermark (min of both sides') passes
    click_ts + bound, at state eviction. The replay appends two far-future
    SENTINEL batches after the chronological halves — each carries one
    click and one error under user_id -1 (filtered from the output), so
    BOTH sides' watermarks jump past every real click's horizon and the
    runtime must flush every unmatched click's null row before the drain
    ends; two sentinel batches, not one, per the measured activation
    asymmetry (a watermark jump acts a batch late on some paths — the
    streaming_late_drop_equiv lesson). Hash equality against the batch
    LEFT JOIN proves both the eager-match and the eviction-time-null
    paths."""
    _t(spark, sf_dir, "events")
    from instructionspipe_spark.streaming.jobs import run_stream_to_df, stream_interval_join

    src = os.path.join(sf_dir, "events.parquet").replace("'", "''")
    half = f"(SELECT min(ts) + (max(ts) - min(ts)) / 2 AS c FROM '{src}')"

    def sentinel(hours: int) -> str:
        return (
            f"SELECT CAST(-1 AS BIGINT) AS event_id, mx + INTERVAL {hours} HOUR AS ts, "
            f"CAST(-1 AS BIGINT) AS user_id, kind AS event_type "
            f"FROM (SELECT MAX(ts) AS mx FROM '{src}'), "
            f"UNNEST(['click', 'error']) AS t(kind)"
        )

    scratch = _stream_twin_inputs(
        sf_dir,
        "ssouterjoin_v1",
        [
            (
                "a.parquet",
                f"SELECT event_id, ts, user_id, event_type FROM '{src}' "
                f"WHERE ts <= {half} ORDER BY ts",
            ),
            (
                "b.parquet",
                f"SELECT event_id, ts, user_id, event_type FROM '{src}' "
                f"WHERE ts > {half} ORDER BY ts",
            ),
            ("s1.parquet", sentinel(8)),
            ("s2.parquet", sentinel(9)),
        ],
    )
    stream = _events_stream(spark, scratch, max_files=1)
    clicks = stream.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("c_ts")
    )
    errors = stream.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), "user_id", F.col("ts").alias("e_ts")
    )
    joined = stream_interval_join(
        clicks, errors, ["user_id"], "c_ts", "e_ts", "6 hours",
        watermark="1 hour", how="left_outer",
    )
    out = run_stream_to_df(
        joined.select(
            "click_id",
            "error_id",
            "user_id",
            (F.unix_micros("e_ts") - F.unix_micros("c_ts")).alias("lag_us"),
        ),
        "append",
    )
    return out.filter(F.col("user_id") >= 0)


@query(
    "heavy_hitter_tokens",
    oracle=r"""
    WITH toks AS (
        SELECT unnest(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS tok
        FROM documents
    ),
    c AS (SELECT tok, COUNT(*) AS n_occurrences FROM toks GROUP BY tok)
    SELECT tok, n_occurrences,
           CAST(ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, tok ASC) AS BIGINT) AS rank
    FROM c ORDER BY n_occurrences DESC, tok ASC LIMIT 10
    """,
)
def heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-bounded EXACT top-10 tokens (operators/grouping.py:
    heavy_hitters): per-partition mergeable Misra-Gries emits ≤64 candidate
    keys per partition with ZERO shuffle, then only the candidates are
    exactly counted (broadcast semi-join + a candidate-bounded groupBy) —
    the 100 TB form of frequent_ngrams' census, where the universe never
    crosses the wire. Hash equality against DuckDB's full exact count
    proves the candidate guarantee held (every true top-10 token's
    frequency clears the n/64 floor)."""
    (documents,) = _t(spark, sf_dir, "documents")
    toks = documents.select(
        F.explode(
            F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
        ).alias("tok")
    )
    from instructionspipe_spark.session import ensure_parallelism

    return ops.heavy_hitters(ensure_parallelism(toks), "tok", k=10, capacity=64)


# ---------------------------------------------------------------------------
# Round 8 (late): the seven remaining TPC-H shapes (q2/q9/q11/q12/q16/q20/
# q21), adapted to the testdata star schema the same way q13/q22 were (no
# partsupp table -> lineitem-derived unit costs; no l_commitdate/
# l_receiptdate -> shipdate-vs-orderdate lag as the lateness proxy; no
# l_shipmode -> l_returnflag as the categorical). Completes the TPC-H
# relational sweep at 22/22 query shapes. Plus a stream-static broadcast
# join twin, the one streaming join mode streaming_join_equiv /
# streaming_outer_join_equiv (stream-stream) did not cover.
# ---------------------------------------------------------------------------


@query(
    "q2_min_cost_supplier",
    oracle="""
    WITH costs AS (
        SELECT l_partkey, l_suppkey, MIN(l_extendedprice / l_quantity) AS cost
        FROM lineitem
        GROUP BY l_partkey, l_suppkey
    ),
    eu AS (
        SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
        FROM supplier s
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        WHERE r.r_name = 'EUROPE'
    ),
    pslice AS (
        SELECT p_partkey, p_name FROM part
        WHERE p_type = 'STANDARD' AND p_size < 10
    ),
    ec AS (
        SELECT c.l_partkey, c.cost, e.s_name, e.s_acctbal, e.n_name
        FROM costs c
        JOIN eu e ON e.s_suppkey = c.l_suppkey
        JOIN pslice p ON p.p_partkey = c.l_partkey
    ),
    m AS (SELECT l_partkey, MIN(cost) AS min_cost FROM ec GROUP BY l_partkey)
    SELECT ec.s_acctbal, ec.s_name, ec.n_name, p.p_partkey, p.p_name,
           CAST(ROUND(ec.cost, 6) AS DOUBLE) AS cost
    FROM ec
    JOIN m ON m.l_partkey = ec.l_partkey AND ec.cost = m.min_cost
    JOIN part p ON p.p_partkey = ec.l_partkey
    ORDER BY ec.s_acctbal DESC, ec.n_name, ec.s_name, p.p_partkey
    LIMIT 100
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: the correlated-MIN subquery ("the supplier offering
    the minimum cost for each part in the slice, suppliers from one
    region"). Adapted: no partsupp table, so per-(part, supplier) cost is
    MIN(l_extendedprice / l_quantity) from lineitem. The correlated
    subquery decorrelates to the two-phase groupBy-MIN + equi-join-back
    pattern (the measured-faster alternative to a window MIN over hot
    keys); the part slice and the region-filtered supplier dim prefilter
    the fact BEFORE the per-part MIN, so the aggregate's input is the
    reduced set. MIN selects (never sums) a double, so the cost == min_cost
    equality is exact in both engines. Reference parity anchor: relational
    surface, SURVEY.md section 2.4/2.5."""
    from instructionspipe_spark.session import broadcast_if_small

    lineitem, part, supplier, nation, region = _t(
        spark, sf_dir, "lineitem", "part", "supplier", "nation", "region"
    )
    pslice = part.filter(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") < 10)
    ).select("p_partkey", "p_name")
    eu = (
        supplier.join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(
            F.broadcast(region.filter(F.col("r_name") == "EUROPE")),
            F.col("r_regionkey") == F.col("n_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    costs = (
        lineitem.join(broadcast_if_small(pslice), F.col("p_partkey") == F.col("l_partkey"))
        .join(broadcast_if_small(eu), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("l_partkey", "p_name", "s_name", "s_acctbal", "n_name")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("cost"))
    )
    m = costs.groupBy(F.col("l_partkey").alias("__mk")).agg(F.min("cost").alias("min_cost"))
    return (
        costs.join(
            broadcast_if_small(m),
            (F.col("__mk") == F.col("l_partkey")) & (F.col("cost") == F.col("min_cost")),
        )
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            F.col("l_partkey").alias("p_partkey"),
            "p_name",
            F.round("cost", 6).cast("double").alias("cost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@query(
    "q9_product_type_profit",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
           CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                               - p.p_retailprice * 0.6 * l.l_quantity
                               AS DECIMAL(25,6))), 2) AS DOUBLE) AS sum_profit
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%gear%'
    GROUP BY nation, o_year
    """,
)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: product-type profit by supplier nation and order
    year — the densest join tree in the suite (lineitem joined to FOUR
    other tables, one of them the orders fact). Adapted: supply cost is
    p_retailprice * 0.6 (no partsupp). The p_name LIKE prefilter lands on
    the broadcast part dim and semi-reduces the fact before the
    lineitem-orders shuffle; profit is cast to DECIMAL before SUM on both
    sides so summation order can never flip the hash."""
    lineitem, part, supplier, orders, nation = _t(
        spark, sf_dir, "lineitem", "part", "supplier", "orders", "nation"
    )
    from instructionspipe_spark.session import broadcast_if_small

    gear = part.filter(F.col("p_name").like("%gear%")).select("p_partkey", "p_retailprice")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.lit(0.6) * F.col("l_quantity")
    ).cast("decimal(25,6)")
    return (
        lineitem.join(broadcast_if_small(gear), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(supplier), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.round(F.sum(profit), 2).cast("double").alias("sum_profit"))
    )


@query(
    "q11_important_parts",
    oracle="""
    WITH v AS (
        SELECT l.l_partkey,
               SUM(CAST(l.l_extendedprice * l.l_quantity AS DECIMAL(25,6))) AS val
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n   ON n.n_nationkey = s.s_nationkey
        JOIN region r   ON r.r_regionkey = n.n_regionkey
        WHERE r.r_name = 'ASIA'
        GROUP BY l.l_partkey
    ),
    tot AS (SELECT SUM(val) AS t, COUNT(*) AS n FROM v)
    SELECT v.l_partkey, CAST(ROUND(v.val, 2) AS DOUBLE) AS value
    FROM v, tot
    WHERE v.val * tot.n > 2 * tot.t
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-group value filtered against a GLOBAL scalar
    threshold (HAVING SUM(...) > fraction * SUM(...) over everything).
    Adapted: part value = SUM(extendedprice * quantity) over lineitems
    shipped by ASIA suppliers; the classic fixed fraction is replaced by a
    scale-free one — keep parts whose value exceeds 2x the mean part value
    (val * n > 2 * total), so the row survives identically at every SF.
    The threshold compares exact DECIMAL sums (never order-sensitive
    doubles); the one-row total broadcasts onto the grouped frame, the
    same scalar-subquery plan shape as q22_dormant_customers."""
    lineitem, supplier, nation, region = _t(
        spark, sf_dir, "lineitem", "supplier", "nation", "region"
    )
    asia = (
        supplier.join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(
            F.broadcast(region.filter(F.col("r_name") == "ASIA")),
            F.col("r_regionkey") == F.col("n_regionkey"),
        )
        .select("s_suppkey")
    )
    from instructionspipe_spark.session import broadcast_if_small

    v = (
        lineitem.join(broadcast_if_small(asia), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("l_partkey")
        .agg(
            F.sum((F.col("l_extendedprice") * F.col("l_quantity")).cast("decimal(25,6)")).alias(
                "val"
            )
        )
    )
    tot = v.agg(F.sum("val").alias("t"), F.count(F.lit(1)).alias("n"))
    return (
        v.join(F.broadcast(tot))
        .filter(F.col("val") * F.col("n") > F.lit(2) * F.col("t"))
        .select("l_partkey", F.round("val", 2).cast("double").alias("value"))
    )


@query(
    "q12_late_priority_lines",
    oracle="""
    SELECT l.l_returnflag,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE EXTRACT(year FROM l.l_shipdate) = 1997
      AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
    GROUP BY l.l_returnflag
    """,
)
def q12_late_priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional (CASE WHEN) counts split by order
    priority over a fact-fact join, with a cross-table lateness predicate.
    Adapted: l_returnflag stands in for l_shipmode and "late" is
    l_shipdate > o_orderdate + 90 days (no commit/receipt dates). The year
    filter pushes to the lineitem scan; the lateness predicate is
    cross-table so it evaluates post-join in codegen — exactly the
    pushdown split Catalyst should pick, visible in the plan's
    PushedFilters vs post-join Filter."""
    lineitem, orders = _t(spark, sf_dir, "lineitem", "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        lineitem.filter(F.year("l_shipdate") == 1997)
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "q16_supplier_counts",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#5'
      AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 5, 10, 15, 20, 25, 30, 35, 40, 45)
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def q16_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: COUNT(DISTINCT supplier) per (brand, type, size)
    with a NOT IN exclusion subquery. Adapted: the "complaints" exclusion
    is suppliers with negative account balance (no s_comment). NOT IN
    compiles to a broadcast LEFT ANTI join (the excluded set is tiny and
    bounded by |supplier|); the brand/type/size slice prefilters on the
    broadcast part dim. COUNT DISTINCT expands to the two-phase
    partial-distinct aggregate, so the heavy dedup happens map-side before
    the shuffle."""
    lineitem, part, supplier = _t(spark, sf_dir, "lineitem", "part", "supplier")
    from instructionspipe_spark.session import broadcast_if_small

    p16 = part.filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35, 40, 45)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad = supplier.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        lineitem.join(broadcast_if_small(p16), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(bad), F.col("s_suppkey") == F.col("l_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q20_promotion_suppliers",
    oracle="""
    WITH qty AS (
        SELECT l.l_suppkey, SUM(l.l_quantity) AS total_qty
        FROM lineitem l
        WHERE EXTRACT(year FROM l.l_shipdate) = 1998
          AND EXISTS (SELECT 1 FROM part p
                      WHERE p.p_partkey = l.l_partkey AND p.p_name LIKE 'red%')
        GROUP BY l.l_suppkey
    )
    SELECT s.s_name, n.n_name, q.total_qty
    FROM qty q
    JOIN supplier s ON s.s_suppkey = q.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    WHERE q.total_qty > (SELECT AVG(total_qty) FROM qty)
    """,
)
def q20_promotion_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers who shipped an above-threshold quantity
    of a name-sliced part family in one year — EXISTS compiled to a LEFT
    SEMI join against the part slice, then a scalar-subquery threshold
    over the grouped quantities (classic availqty comparison adapted to a
    scale-free above-average cut: no partsupp). l_quantity is integral, so
    the double SUM/AVG are order-exact in both engines. The semi-join side
    broadcasts; the one-row average broadcasts onto the grouped frame."""
    lineitem, part, supplier, nation = _t(
        spark, sf_dir, "lineitem", "part", "supplier", "nation"
    )
    from instructionspipe_spark.session import broadcast_if_small

    red = part.filter(F.col("p_name").like("red%")).select("p_partkey")
    qty = (
        lineitem.filter(F.year("l_shipdate") == 1998)
        .join(broadcast_if_small(red), F.col("p_partkey") == F.col("l_partkey"), "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
    )
    avg_qty = qty.agg(F.avg("total_qty").alias("__a"))
    return (
        qty.join(F.broadcast(avg_qty))
        .filter(F.col("total_qty") > F.col("__a"))
        .join(broadcast_if_small(supplier), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .select("s_name", "n_name", "total_qty")
    )


@query(
    "q21_waiting_suppliers",
    oracle="""
    SELECT s.s_name, COUNT(*) AS numwait
    FROM lineitem l1
    JOIN orders o   ON o.o_orderkey = l1.l_orderkey
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY)
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 100
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who kept failed orders waiting — the
    EXISTS (another supplier in the order) + NOT EXISTS (another LATE
    supplier in the order) double-correlation. Adapted: "late" is
    l_shipdate > o_orderdate + 60 days. The oracle keeps the literal
    EXISTS/NOT EXISTS text; the Spark plan decorrelates BOTH subqueries
    into one per-order aggregate pass — a row qualifies iff its order has
    >= 2 distinct suppliers and exactly ONE distinct LATE supplier (the
    row's own). That turns two correlated self-joins into a single
    groupBy(orderkey) + join-back co-partitioned on the same key (one
    exchange, reused), the 100 TB-safe form — the self-join rewrite would
    shuffle the fact three times."""
    lineitem, orders, supplier = _t(spark, sf_dir, "lineitem", "orders", "supplier")
    lo = (
        lineitem.join(
            orders.filter(F.col("o_orderstatus") == "F"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .withColumn(
            "__late", F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        )
        .select("l_orderkey", "l_suppkey", "__late")
    )
    per_order = lo.groupBy(F.col("l_orderkey").alias("__ok")).agg(
        F.count_distinct("l_suppkey").alias("__n_supp"),
        F.count_distinct(F.when(F.col("__late"), F.col("l_suppkey"))).alias("__n_late"),
    )
    cand = (
        lo.filter(F.col("__late"))
        .join(per_order, F.col("__ok") == F.col("l_orderkey"))
        .filter((F.col("__n_supp") >= 2) & (F.col("__n_late") == 1))
    )
    return (
        cand.join(F.broadcast(supplier), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


@query(
    "streaming_static_join_equiv",
    oracle="""
    SELECT date_trunc('hour', e.ts) AS window_start,
           c.c_mktsegment,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(e.value AS DECIMAL(20,6))), 2) AS DOUBLE) AS total_value
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY 1, 2
    """,
)
def streaming_static_join_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-equals-batch for the STREAM-STATIC broadcast join — the
    one streaming join mode the stream-stream twins don't cover (Spark
    plans it as a per-micro-batch broadcast hash join against the static
    side; no join state, no watermark interaction on the static side).
    Events stream -> inner join to the static customer dim on
    user_id = c_custkey -> watermarked tumbling window per market segment,
    complete mode; must hash-match the batch join + GROUP BY oracle."""
    from instructionspipe_spark.streaming.jobs import run_stream_to_df

    customer, _events = _t(spark, sf_dir, "customer", "events")  # nanos conf
    static = customer.select("c_custkey", "c_mktsegment")
    raw_schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if raw_schema["ts"].dataType.simpleString() == "bigint":  # legacy nanosAsLong
        ts_ltz = F.timestamp_micros(F.expr("`ts` div 1000")).cast("timestamp_ltz")
    else:
        ts_ltz = F.col("ts").cast("timestamp_ltz")
    stream = stream.withColumn("ts", ts_ltz)
    agg = (
        stream.join(F.broadcast(static), F.col("c_custkey") == F.col("user_id"))
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(20,6)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("window.start").cast("timestamp_ntz").alias("window_start"),
            "c_mktsegment",
            "n_events",
            "total_value",
        )
    )
    return run_stream_to_df(agg, "complete")


def _ivfsq_topk_oracle(n_cells: int = 8, n_probe: int = 2, k: int = 5, rerank: int = 50) -> str:
    """Oracle for the deterministic IVF+SQ8: centroids are the lowest-id
    vectors (the _ivf_topk_oracle cell rule); per-dim min/max over the
    normalized corpus; SQ8 encode = floor((x-mn)/(mx-mn)*255 + 0.5) clamped;
    candidate rank = SYMMETRIC integer code distance (exact in any engine);
    exact-cosine rerank of the shortlist — the exact rules of
    ann_topk(codec="sq8", n_cells=...), by construction."""
    dot = "CAST(list_sum(list_transform(range(1, len(a.__nv) + 1), i -> a.__nv[i] * c.__cent[i])) AS DOUBLE)"
    sq = (
        "CASE WHEN s.mx = s.mn THEN 0 ELSE CAST(LEAST(255.0, GREATEST(0.0,"
        " FLOOR(({x} - s.mn) / (s.mx - s.mn) * 255.0 + 0.5))) AS BIGINT) END"
    )
    return f"""
    WITH v AS (SELECT vec_id, {_NORMALIZE_SQL} AS __nv FROM embeddings),
    cent AS (
        SELECT vec_id AS cell, __nv AS __cent
        FROM v QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= {n_cells}
    ),
    c_assigned AS (
        SELECT a.vec_id, a.__nv, c.cell,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                  ORDER BY ROUND({dot}, 6) DESC, c.cell ASC) AS __ar
        FROM v a CROSS JOIN cent c
    ),
    c_cells AS (SELECT vec_id, __nv, cell FROM c_assigned WHERE __ar = 1),
    q_probes AS (
        SELECT vec_id AS query_id, __nv AS __qnv, cell
        FROM c_assigned WHERE vec_id < 3 AND __ar <= {n_probe}
    ),
    stats AS (
        SELECT t.i AS i, MIN(u.__nv[t.i]) AS mn, MAX(u.__nv[t.i]) AS mx
        FROM v u, UNNEST(range(1, len(u.__nv) + 1)) AS t(i)
        GROUP BY t.i
    ),
    enc_raw AS (
        SELECT c.vec_id, c.cell, t.i, c.__nv[t.i] AS x
        FROM c_cells c, UNNEST(range(1, len(c.__nv) + 1)) AS t(i)
    ),
    enc AS (
        SELECT e.vec_id, e.cell, e.i, {sq.format(x="e.x")} AS code
        FROM enc_raw e JOIN stats s ON s.i = e.i
    ),
    qenc_raw AS (
        SELECT q.query_id, q.cell, t.i, q.__qnv[t.i] AS x
        FROM q_probes q, UNNEST(range(1, len(q.__qnv) + 1)) AS t(i)
    ),
    qenc AS (
        SELECT e.query_id, e.cell, e.i, {sq.format(x="e.x")} AS code
        FROM qenc_raw e JOIN stats s ON s.i = e.i
    ),
    d2 AS (
        SELECT q.query_id, e.vec_id,
               SUM((q.code - e.code) * (q.code - e.code)) AS d2i
        FROM enc e JOIN qenc q ON q.cell = e.cell AND q.i = e.i
        GROUP BY q.query_id, e.vec_id
    ),
    short AS (
        SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY d2i, vec_id) AS rn
            FROM d2
        ) WHERE rn <= {rerank}
    ),
    exact AS (
        SELECT s.query_id, s.vec_id,
               ROUND(CAST(list_sum(list_transform(range(1, len(a.__nv) + 1),
                                                  i -> q.__nv[i] * a.__nv[i])) AS DOUBLE), 4) AS cosine
        FROM short s
        JOIN v a ON a.vec_id = s.vec_id
        JOIN v q ON q.vec_id = s.query_id
    )
    SELECT query_id, vec_id, cosine, rank FROM (
        SELECT query_id, vec_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, vec_id) AS rank
        FROM exact
    ) WHERE rank <= {k}
    """


@query("similarity_ivfsq_topk", oracle=_ivfsq_topk_oracle())
def similarity_ivfsq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + 8-bit scalar quantization ANN (FAISS IVF,SQ8 family),
    oracle-gated via the deterministic data-seeded coarse quantizer —
    completes the quantization family next to similarity_pq_topk /
    similarity_ivfadc_topk. Candidate ranking is the SYMMETRIC integer
    code distance (both sides encoded with the corpus per-dim min/max), so
    the shortlist is exact-integer reproducible with no float rounding
    discipline; the exact-cosine rerank restores quality and fixes the
    emitted top-k (operators/similarity.py ann_topk, codec sq8)."""
    from instructionspipe_spark.operators.similarity import ann_topk

    (embeddings,) = _t(spark, sf_dir, "embeddings")
    queries_df = embeddings.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return ann_topk(
        embeddings, queries_df, k=5, codec="sq8", n_cells=8, n_probe=2, rerank=50
    ).select("query_id", "vec_id", "cosine", "rank")


@query(
    "dynamic_partition_pruning",
    oracle="""
    WITH busy AS (
        SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n
        FROM events WHERE event_type = 'click'
        GROUP BY d ORDER BY n DESC, d LIMIT 10
    )
    SELECT e.event_type, COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(e.value AS DECIMAL(20,6))), 2) AS DOUBLE) AS total_value
    FROM events e JOIN busy b ON CAST(e.ts AS DATE) = b.d
    GROUP BY e.event_type
    """,
)
def dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning, oracle-gated — the runtime sibling of
    partitioned_scan_pruning (which pins the STATIC literal-predicate case).
    Here the pruning set is not known until the dim side runs: the "busy
    dates" dim is the top-10 click days computed from the data, and the
    date-partitioned fact is joined on the partition column. Catalyst
    inserts a DynamicPruningExpression subquery into the fact scan's
    PartitionFilters (reusing the dim's broadcast exchange), so only the 10
    winning date directories are ever listed and read — at 100 TB the
    standard star-join pattern where the selective dim filter cannot be
    folded to literals at plan time (pinned in tests/test_plans.py).
    Hash equality against the unpartitioned batch join proves the runtime
    pruning moves the scan, never the result."""
    (raw,) = _t(spark, sf_dir, "events")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    scratch = _layout_scratch(
        sf_dir,
        "events_by_date_v2",
        raw.withColumn("evt_date", F.to_date("ts")),
        "evt_date",
    )
    events = spark.read.parquet(scratch)
    busy = (
        raw.filter(F.col("event_type") == "click")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "d")
        .limit(10)
    )
    return (
        events.join(F.broadcast(busy), F.col("evt_date") == F.col("d"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(20,6)")), 2)
            .cast("double")
            .alias("total_value"),
        )
    )


_BM25_QUERIES = [
    ("q_join", ["hash", "join", "merge"]),
    ("q_stream", ["stream", "batch", "window"]),
    ("q_dup", ["dup", "scan", "filter"]),
]
_BM25_K1 = 1.2
_BM25_B = 0.75


def _bm25_oracle(k: int = 5, k1: float = _BM25_K1, b: float = _BM25_B) -> str:
    """Oracle for bm25_topk: generated from the same query/parameter
    constants as the Spark expressions — Lucene idf, k1/b saturation,
    per-contribution rounding at 9 then the summed score at 6, doc_id tie
    break. Parity by construction."""
    qvals = ", ".join(
        f"('{qid}', '{t}')" for qid, terms in _BM25_QUERIES for t in terms
    )
    idf = "ln((tot.n_docs - dfq.dft + 0.5) / (dfq.dft + 0.5) + 1.0)"
    tf_part = (
        f"(tf.tfc * {k1 + 1.0!r}) / (tf.tfc + {k1!r} *"
        f" ({1.0 - b!r} + {b!r} * dl.dl / tot.avgdl))"
    )
    return f"""
    WITH toks AS (
        SELECT doc_id, unnest({_TFIDF_TOKS_SQL}) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tfc FROM toks GROUP BY doc_id, term),
    dl AS (SELECT doc_id, SUM(tfc) AS dl FROM tf GROUP BY doc_id),
    dfq AS (SELECT term, COUNT(*) AS dft FROM tf GROUP BY term),
    tot AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
    q(query_id, term) AS (VALUES {qvals}),
    scored AS (
        SELECT q.query_id, tf.doc_id,
               CAST(ROUND(SUM(CAST(ROUND({idf} * {tf_part}, 9)
                                   AS DECIMAL(25, 9))), 6) AS DOUBLE) AS score
        FROM tf
        JOIN q USING (term)
        JOIN dfq USING (term)
        JOIN dl ON dl.doc_id = tf.doc_id, tot
        GROUP BY q.query_id, tf.doc_id
    )
    SELECT query_id, doc_id, rank, score FROM (
        SELECT query_id, doc_id, score,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, doc_id) AS rank
        FROM scored
    ) WHERE rank <= {k}
    """


@query("bm25_retrieval", oracle=_bm25_oracle())
def bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 lexical retrieval, top-5 documents per keyword query
    (operators/textstats.py bm25_topk) — the sparse counterpart of the
    embedding ANN rows and the drop-in first stage for
    rag_context_pipeline's retrieval seam. The query terms join tf as a
    broadcast literal frame, so only queried-term postings leave the scan
    (inverted-index access, bounded by posting lists at 100 TB)."""
    (documents,) = _t(spark, sf_dir, "documents")
    return ops.bm25_topk(
        documents, "doc_id", "text", _BM25_QUERIES, k=5, k1=_BM25_K1, b=_BM25_B
    )


_CDC_MERGED_ORACLE = """
    WITH snap AS (
        SELECT o_orderkey AS k, o_custkey, o_orderstatus, o_totalprice FROM orders
    ),
    raw AS (
        SELECT o_orderkey AS k, 1 AS seq, 'U' AS op, o_custkey,
               'P' AS o_orderstatus, o_totalprice * 1.1 AS o_totalprice
        FROM orders WHERE o_orderkey % 7 = 0
        UNION ALL
        SELECT o_orderkey, 2, 'D', o_custkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 21 = 0
        UNION ALL
        SELECT -o_orderkey - 1, 2, 'U', o_custkey, 'O', 42.0
        FROM orders WHERE o_orderkey % 13 = 0
    ),
    compact AS (
        SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY k
                ORDER BY seq DESC, CAST(op = 'D' AS INT) DESC) AS rn
            FROM raw
        ) WHERE rn = 1
    ),
    merged AS (
        SELECT COALESCE(s.k, c.k) AS o_orderkey,
               CASE WHEN c.k IS NOT NULL THEN c.o_custkey ELSE s.o_custkey END AS o_custkey,
               CASE WHEN c.k IS NOT NULL THEN c.o_orderstatus ELSE s.o_orderstatus END AS o_orderstatus,
               CASE WHEN c.k IS NOT NULL THEN c.o_totalprice ELSE s.o_totalprice END AS o_totalprice,
               c.op AS op
        FROM snap s FULL OUTER JOIN compact c ON c.k = s.k
    )
    SELECT o_orderkey, o_custkey, o_orderstatus,
           CAST(ROUND(CAST(o_totalprice AS DECIMAL(25,6)), 2) AS DOUBLE) AS o_totalprice
    FROM merged WHERE op IS NULL OR op <> 'D'
    """


@query("cdc_merge_apply", oracle=_CDC_MERGED_ORACLE)
def cdc_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC batch apply (lakehouse MERGE INTO semantics, operators/cdc.py):
    a deterministic change feed derived from orders — upserts (price bump
    + status 'P' for keys % 7), deletes overriding a third of them at a
    later sequence (keys % 21), and inserts at fresh negative keys
    (keys % 13) — is compacted last-writer-wins (delete beats upsert on a
    seq tie) and applied to the snapshot as ONE full-outer equi-join.
    Pure-DataFrame MERGE: runs on plain parquet, drops onto Delta/Iceberg
    MERGE INTO unchanged; at 100 TB the join co-partitions with a
    key-bucketed snapshot layout and the change batch broadcasts."""
    from instructionspipe_spark.operators.cdc import apply_changes, latest_change_per_key

    (orders,) = _t(spark, sf_dir, "orders")
    snap = orders.select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    u1 = orders.filter(F.col("o_orderkey") % 7 == 0).select(
        F.col("o_orderkey"),
        F.lit(1).alias("seq"),
        F.lit("U").alias("op"),
        F.col("o_custkey"),
        F.lit("P").alias("o_orderstatus"),
        (F.col("o_totalprice") * F.lit(1.1)).alias("o_totalprice"),
    )
    d2 = orders.filter(F.col("o_orderkey") % 21 == 0).select(
        F.col("o_orderkey"),
        F.lit(2).alias("seq"),
        F.lit("D").alias("op"),
        F.col("o_custkey"),
        F.col("o_orderstatus"),
        F.col("o_totalprice"),
    )
    ins = orders.filter(F.col("o_orderkey") % 13 == 0).select(
        (-F.col("o_orderkey") - 1).alias("o_orderkey"),
        F.lit(2).alias("seq"),
        F.lit("U").alias("op"),
        F.col("o_custkey"),
        F.lit("O").alias("o_orderstatus"),
        F.lit(42.0).alias("o_totalprice"),
    )
    raw = u1.unionByName(d2).unionByName(ins)
    compact = latest_change_per_key(raw, "o_orderkey", "seq").drop("seq")
    out = apply_changes(snap, compact, "o_orderkey")
    # Round through DECIMAL: a * 1.1 price can land on an exact .xx5000
    # decimal, where double-ROUND diverges across engines (binary .9549..
    # rounds down) but decimal HALF_UP agrees (registry rounding contract).
    return out.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice").cast("decimal(25,6)"), 2).cast("double").alias("o_totalprice"),
    )


@query(
    "scd2_event_intervals",
    oracle="""
    WITH pts AS (
        SELECT user_id, event_type, ts, event_id,
               COALESCE(event_type <> LAG(event_type) OVER w, TRUE) AS chg
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    ch AS (SELECT user_id, event_type, ts, event_id FROM pts WHERE chg)
    SELECT user_id, event_type, ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
    FROM ch
    """,
)
def scd2_event_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history build (operators/eventflow.py scd2_intervals):
    per user, each event-type CHANGE (ordered by ts with event_id as the
    equal-timestamp tie break) opens a validity interval; consecutive
    equal values collapse; the current value stays open (valid_to NULL).
    One shuffle on the key, both windows share one sort."""
    from instructionspipe_spark.operators.eventflow import scd2_intervals

    (events,) = _t(spark, sf_dir, "events")
    return scd2_intervals(events, "user_id", "event_type", "ts", "event_id")


@query(
    "funnel_conversion",
    oracle="""
    WITH s1 AS (
        SELECT user_id, MIN(ts) AS t FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, MIN(e.ts) AS t
        FROM events e JOIN s1 ON s1.user_id = e.user_id
        WHERE e.event_type = 'click' AND e.ts > s1.t
        GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, MIN(e.ts) AS t
        FROM events e JOIN s2 ON s2.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s2.t
        GROUP BY e.user_id
    )
    SELECT 'step1_view' AS step, COUNT(*) AS n_users FROM s1
    UNION ALL SELECT 'step2_click', COUNT(*) FROM s2
    UNION ALL SELECT 'step3_purchase', COUNT(*) FROM s3
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel conversion (operators/eventflow.py funnel_counts):
    users who viewed, then clicked STRICTLY AFTER the first view, then
    purchased strictly after that first qualifying click. Each stage is a
    key-bounded MIN aggregate filtered against the previous frontier — no
    per-user event arrays are collected, so a whale user costs an
    aggregate, not a sort (the 100 TB funnel shape)."""
    from instructionspipe_spark.operators.eventflow import funnel_counts

    (events,) = _t(spark, sf_dir, "events")
    return funnel_counts(
        events, "user_id", "event_type", "ts", ["view", "click", "purchase"]
    )


@query(
    "retention_cohorts",
    oracle="""
    WITH firsts AS (
        SELECT user_id, MIN(date_trunc('week', ts)) AS cohort
        FROM events GROUP BY user_id
    )
    SELECT f.cohort AS cohort_week,
           CAST(datediff('day', CAST(f.cohort AS DATE), CAST(date_trunc('week', e.ts) AS DATE)) / 7 AS BIGINT) AS week_offset,
           COUNT(DISTINCT e.user_id) AS n_active
    FROM events e JOIN firsts f ON f.user_id = e.user_id
    GROUP BY 1, 2
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention (operators/eventflow.py retention_matrix):
    cohort = first-seen ISO week per user; each (cohort_week, week_offset)
    cell counts the cohort's distinct users active that week. Two
    key-bounded aggregates; the firsts frame is user-bounded so the join
    broadcasts at test scale and co-partitions on the key at 100 TB."""
    from instructionspipe_spark.operators.eventflow import retention_matrix

    (events,) = _t(spark, sf_dir, "events")
    return retention_matrix(events, "user_id", "ts")


def _zorder_scratch(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the Z-ordered copy of events once per sf_dir (the layout
    rows' ingest-fixture pattern, _layout_scratch sibling): clustered on
    the Morton key of (user_id, value) quantile buckets with 256 KiB row
    groups, so multi-predicate scans skip row groups on min/max stats.
    Idempotent via a _DONE marker; bump the version tag on generator
    changes."""
    from instructionspipe_spark.sources.layout import write_zordered

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sf_name = os.path.basename(os.path.normpath(sf_dir))
    scratch = os.path.join(root, ".layout_scratch", sf_name, "events_zorder_v1")
    done = os.path.join(scratch, "_DONE")
    if not os.path.exists(done):
        events = load_tables(spark, sf_dir, ["events"])["events"]
        write_zordered(
            events, scratch, ["user_id", "value"], bits=4, n_files=8,
            row_group_bytes=1 << 18,
        )
        with open(done, "w") as f:
            f.write("ok")
    return scratch


@query(
    "zorder_multidim_scan",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(20,6))), 2) AS DOUBLE) AS total_value
    FROM events
    WHERE user_id BETWEEN 10 AND 20 AND value BETWEEN 0.0 AND 10.0
    GROUP BY event_type
    """,
)
def zorder_multidim_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering (sources/layout.py, the Delta OPTIMIZE ZORDER BY
    technique) — the third leg of the storage-layout story next to
    bucketed joins and hive partition pruning: events rewritten clustered
    on the Morton interleave of (user_id, value) quantile buckets, so a
    scan filtering BOTH dimensions skips row groups on parquet min/max
    stats — measured 8.5k of 100k rows through the scan at sf0.1 (the
    skipping factor is pinned in tests/test_plans.py). Hash equality
    against the unclustered oracle proves the layout moves the scan,
    never the result."""
    _t(spark, sf_dir, "events")  # nanos conf parity
    scratch = _zorder_scratch(spark, sf_dir)
    events = spark.read.parquet(scratch)
    return (
        events.filter(
            F.col("user_id").between(10, 20) & F.col("value").between(0.0, 10.0)
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(20,6)")), 2)
            .cast("double")
            .alias("total_value"),
        )
    )


@query("streaming_cdc_equiv", oracle=_CDC_MERGED_ORACLE)
def streaming_cdc_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-equals-batch for the CDC MERGE sink (streaming/jobs.py
    stream_cdc_apply): the cdc_merge_apply change feed split CHRONOLOGICALLY
    into two micro-batches — batch 0 carries the seq-1 upserts, batch 1 the
    seq-2 deletes (overriding a third of the upserts) and inserts — each
    applied to a VERSIONED snapshot through the idempotent foreachBatch
    rule (a retried batch reads the newest version strictly below its own
    id and overwrites its own dir). The final snapshot must hash-equal the
    one-shot batch MERGE oracle: sequential per-batch application and
    global last-writer-wins compaction agree whenever (key, seq) is unique
    — the property the CDC replay pytest checks in general."""
    from instructionspipe_spark.streaming.jobs import stream_cdc_apply

    (orders,) = _t(spark, sf_dir, "orders")
    op = os.path.join(sf_dir, "orders.parquet")
    scratch = _stream_twin_inputs(
        sf_dir,
        "cdc_feed_v1",
        [
            (
                "b0.parquet",
                f"""SELECT o_orderkey, 1 AS seq, 'U' AS op, o_custkey,
                    'P' AS o_orderstatus, o_totalprice * 1.1 AS o_totalprice
                    FROM '{op}' WHERE o_orderkey % 7 = 0""",
            ),
            (
                "b1.parquet",
                f"""SELECT o_orderkey, 2 AS seq, 'D' AS op, o_custkey,
                    o_orderstatus, o_totalprice
                    FROM '{op}' WHERE o_orderkey % 21 = 0
                    UNION ALL
                    SELECT -o_orderkey - 1, 2, 'U', o_custkey, 'O', 42.0
                    FROM '{op}' WHERE o_orderkey % 13 = 0""",
            ),
        ],
    )
    schema = spark.read.option("pathGlobFilter", "*.parquet").parquet(scratch).schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", "1")
        .parquet(scratch)
    )
    run_dir = _runner_run_dir(sf_dir, "cdc_state_v1")
    snap = orders.select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    final = stream_cdc_apply(
        stream, snap, "o_orderkey", "seq", "op",
        state_dir=os.path.join(run_dir, "state"),
        checkpoint=os.path.join(run_dir, "ckpt"),
    )
    return final.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice").cast("decimal(25,6)"), 2).cast("double").alias("o_totalprice"),
    )


@query("ivfsq_trained_recall", oracle=_trained_ann_oracle())
def ivfsq_trained_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production IVF+SQ8 configuration (operators/similarity.py
    ann_topk codec sq8, trained=True: spherical KMeans coarse cells, SQ8
    symmetric-integer shortlist of 200, n_probe=4, exact rerank) gated as a bounded recall contract vs
    the exact brute-force baseline both engines compute — the N33 pattern,
    extended to the quantization family's newest member. recall_ok =
    per-query hits >= ceil(0.6 * k); measured: mean 0.957 / min 0.80 at
    sf0.01 and 0.967 / 0.80 at sf0.1 (n_assign=2 multiple assignment is
    load-bearing — single assignment dropped one query below the bound
    when measured in r8)."""
    from instructionspipe_spark.operators.similarity import ann_topk

    return _trained_ann_contract(
        spark, sf_dir,
        lambda emb, q: ann_topk(
            emb, q, k=5, codec="sq8", n_cells=8, n_probe=4, n_assign=2, trained=True,
            seed=42, max_iter=10, rerank=200,
        ),
    )


@query(
    "funnel_windowed",
    oracle="""
    WITH s1 AS (
        SELECT user_id, MIN(ts) AS t FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, MIN(e.ts) AS t
        FROM events e JOIN s1 ON s1.user_id = e.user_id
        WHERE e.event_type = 'click' AND e.ts > s1.t
          AND e.ts <= s1.t + INTERVAL 3 DAY
        GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, MIN(e.ts) AS t
        FROM events e JOIN s2 ON s2.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s2.t
          AND e.ts <= s2.t + INTERVAL 3 DAY
        GROUP BY e.user_id
    )
    SELECT 'step1_view' AS step, COUNT(*) AS n_users FROM s1
    UNION ALL SELECT 'step2_click', COUNT(*) FROM s2
    UNION ALL SELECT 'step3_purchase', COUNT(*) FROM s3
    """,
)
def funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-window funnel (funnel_conversion with max_gap='3 days'):
    each step must land within 3 days of the previous frontier —
    first-qualifying-event greedy, the Amplitude/Mixpanel convention,
    replayed identically by the oracle. Same key-bounded aggregate chain;
    the window predicate is one more filter on the already-joined frame."""
    from instructionspipe_spark.operators.eventflow import funnel_counts

    (events,) = _t(spark, sf_dir, "events")
    return funnel_counts(
        events, "user_id", "event_type", "ts",
        ["view", "click", "purchase"], max_gap="3 days",
    )


@query(
    "user_value_outliers",
    oracle="""
    WITH fences AS (
        SELECT user_id,
               quantile_cont(value, 0.25) AS q1,
               quantile_cont(value, 0.75) AS q3
        FROM events GROUP BY user_id
    )
    SELECT e.user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN e.value > f.q3 + 1.5 * (f.q3 - f.q1)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM events e JOIN fences f ON f.user_id = e.user_id
    GROUP BY e.user_id
    """,
)
def user_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity anomaly counts via Tukey fences: flag events whose value
    exceeds q3 + 1.5*IQR of THAT USER's value distribution. Quantiles are
    exact interpolated order statistics (Spark `percentile` == DuckDB
    `quantile_cont`), so the fence is selection-plus-one-interpolation —
    deterministic across engines with no sum-order sensitivity (the reason
    this row uses IQR fences rather than mean/stddev z-scores: variance is
    an order-sensitive double sum). Plan: one key-bounded quantile
    aggregate joined back on the key — co-partitioned, the fences frame is
    entity-bounded."""
    from instructionspipe_spark.session import broadcast_if_small

    (events,) = _t(spark, sf_dir, "events")
    fences = events.groupBy(F.col("user_id").alias("__uid")).agg(
        F.expr("percentile(value, 0.25)").alias("__q1"),
        F.expr("percentile(value, 0.75)").alias("__q3"),
    )
    fence = F.col("__q3") + F.lit(1.5) * (F.col("__q3") - F.col("__q1"))
    return (
        events.join(broadcast_if_small(fences), F.col("__uid") == F.col("user_id"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("value") > fence, 1).otherwise(0)).alias("n_outliers"),
        )
    )


@query(
    "event_transitions",
    oracle="""
    WITH seq AS (
        SELECT event_type AS from_type,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS to_type
        FROM events
    ),
    c AS (
        SELECT from_type, to_type, COUNT(*) AS n_transitions
        FROM seq WHERE to_type IS NOT NULL
        GROUP BY from_type, to_type
    ),
    tot AS (SELECT from_type, SUM(n_transitions) AS t FROM c GROUP BY from_type)
    SELECT c.from_type, c.to_type, c.n_transitions,
           CAST(ROUND(CAST(c.n_transitions / tot.t AS DECIMAL(25,10)), 6)
                AS DOUBLE) AS probability
    FROM c JOIN tot ON tot.from_type = c.from_type
    """,
)
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-transition matrix (the Markov-chain census of
    product analytics): per user, consecutive event pairs under the
    (ts, event_id) ordering; global transition counts and per-source-state
    probabilities. One window sort on the user key (shared with the SCD2
    row's shape), then a type-pair-bounded aggregate (|types|^2 rows) —
    the probability division is exact-int / exact-int, identical in any
    engine."""
    from instructionspipe_spark.session import broadcast_if_small

    (events,) = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        events.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
    )
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    totals = counts.groupBy(F.col("from_type").alias("__ft")).agg(
        F.sum("n_transitions").alias("__t")
    )
    return (
        counts.join(broadcast_if_small(totals), F.col("__ft") == F.col("from_type"))
        .select(
            "from_type",
            "to_type",
            "n_transitions",
            F.round(
                (F.col("n_transitions") / F.col("__t")).cast("decimal(25,10)"),
                6,
            )
            .cast("double")
            .alias("probability"),
        )
    )


@query(
    "funnel_latency",
    oracle="""
    WITH s1 AS (
        SELECT user_id, MIN(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, MIN(e.ts) AS t2
        FROM events e JOIN s1 ON s1.user_id = e.user_id
        WHERE e.event_type = 'click' AND e.ts > s1.t1
        GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, MIN(e.ts) AS t3
        FROM events e JOIN s2 ON s2.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        GROUP BY e.user_id
    ),
    gaps AS (
        SELECT s1.user_id,
               epoch_us(s2.t2) - epoch_us(s1.t1) AS g12,
               epoch_us(s3.t3) - epoch_us(s2.t2) AS g23
        FROM s1 LEFT JOIN s2 ON s2.user_id = s1.user_id
                LEFT JOIN s3 ON s3.user_id = s1.user_id
    )
    SELECT 'view_to_click' AS stage, COUNT(g12) AS n_converters,
           CAST(ROUND(CAST(quantile_cont(g12, 0.5) / 1000000.0 AS DECIMAL(25,10)), 4) AS DOUBLE) AS p50_s,
           CAST(ROUND(CAST(quantile_cont(g12, 0.9) / 1000000.0 AS DECIMAL(25,10)), 4) AS DOUBLE) AS p90_s
    FROM gaps
    UNION ALL
    SELECT 'click_to_purchase', COUNT(g23),
           CAST(ROUND(CAST(quantile_cont(g23, 0.5) / 1000000.0 AS DECIMAL(25,10)), 4) AS DOUBLE),
           CAST(ROUND(CAST(quantile_cont(g23, 0.9) / 1000000.0 AS DECIMAL(25,10)), 4) AS DOUBLE)
    FROM gaps
    """,
)
def funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distributions (operators/eventflow.py
    funnel_stage_times): per converting user, the gap between consecutive
    funnel frontiers; per stage, the converter count and p50/p90 gap in
    seconds. Gaps are exact integer microseconds; the quantiles are exact
    interpolated order statistics (Spark `percentile` == DuckDB
    `quantile_cont`), so the whole row is selection-exact across engines.
    Same frontier-aggregate chain as funnel_conversion — the latency face
    costs one extra left-join spine over the step-1 completers."""
    from instructionspipe_spark.operators.eventflow import funnel_stage_times

    (events,) = _t(spark, sf_dir, "events")
    t = funnel_stage_times(
        events, "user_id", "event_type", "ts", ["view", "click", "purchase"]
    )
    # timestampdiff works on NTZ directly (unix_micros wants LTZ and a
    # session-tz round-trip; a pure difference should never see a timezone)
    gaps = t.select(
        F.expr("timestampdiff(MICROSECOND, t1, t2)").alias("g12"),
        F.expr("timestampdiff(MICROSECOND, t2, t3)").alias("g23"),
    )
    def stage_row(name: str, g: str) -> DataFrame:
        return gaps.agg(
            F.count(F.col(g)).alias("n_converters"),
            F.round(
                (F.expr(f"percentile({g}, 0.5)") / F.lit(1000000.0)).cast(
                    "decimal(25,10)"
                ),
                4,
            )
            .cast("double")
            .alias("p50_s"),
            F.round(
                (F.expr(f"percentile({g}, 0.9)") / F.lit(1000000.0)).cast(
                    "decimal(25,10)"
                ),
                4,
            )
            .cast("double")
            .alias("p90_s"),
        ).select(F.lit(name).alias("stage"), "n_converters", "p50_s", "p90_s")

    return stage_row("view_to_click", "g12").unionByName(
        stage_row("click_to_purchase", "g23")
    )
