"""SparkSession factory with scale-oriented defaults.

The reference is a single-process asyncio program (SURVEY.md §3.1); our engine
replaces that with a SparkSession configured for a real cluster: AQE on
(runtime re-plan, skew-join splitting, partition coalescing), Arrow for every
Python<->JVM exchange, UTC session time zone so results are
environment-independent, and shuffle partitions sized by env so the same code
runs on local[32] and on a 1000-executor cluster (where one would raise
``spark.sql.shuffle.partitions`` / rely on AQE coalescing).
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(
    app_name: str = "instructionspipe-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    All settings are cluster-safe: on a real deployment the caller passes
    ``master=None`` (inherit spark-submit) and sizes shuffle partitions to
    ~2-3x total cores; AQE coalesces the excess at runtime.
    """
    cpus = int(DEFAULT_CPUS)
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.appName(app_name)
        # Runtime adaptivity: re-plan post-shuffle (partition coalescing,
        # skew-join splitting, dynamic broadcast) — essential at 100 TB where
        # static planning over stale stats misestimates.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for pandas UDFs, toPandas and createDataFrame from pandas.
        # A list of rows still goes through createDataFrame's pickled-row
        # PythonRDD path; the package's own one-row frames (serving) pass a
        # pyarrow.Table instead.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Spark 4 records a Python call site for every DataFrame/Column API
        # call (an active-session lookup, a conf read, a JVM origin set and
        # clear, a stack walk: ~13 py4j round trips per F.col). The site it
        # records is the first frame outside pyspark, which for the columns
        # this package compiles is the package's own helper line, not the
        # caller's code; off, a 3+1 instruction plan builds in about half the
        # time. Read once per process, at the first API call; extra_conf can
        # turn it back on.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Deterministic wall clock: timestamps never depend on host TZ.
        .config("spark.sql.session.timeZone", "UTC")
        # Broadcast threshold: dims (region/nation/supplier/config tables)
        # broadcast instead of shuffling the fact side.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Readable truncated plans in logs.
        .config("spark.sql.debug.maxToStringFields", "200")
        # Some upstream parquet is written with nanosecond timestamps, which
        # Spark refuses by default; read them as long and let the catalog
        # rebuild TimestampType (catalog.load_tables).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_GRAFT_NO_LOCAL_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    # Local-mode driver heap: PySpark's in-process JVM defaults to 1g — a
    # 32-thread local executor outgrows that on large inputs (the sf10
    # scale probe OOMed it), and per-suite memory pressure shows up as
    # timing drift. 16g is ~1/8 of the target box (local[32] / 128 GiB),
    # leaving ample room for the 32 Python workers. Only applied when THIS
    # call launches the JVM (local master, fresh process); on a real
    # cluster spark-submit owns the sizing. SPARK_GRAFT_DRIVER_MEM
    # overrides (the sf10 probe uses 48g).
    if master is None and not os.environ.get("SPARK_GRAFT_NO_LOCAL_MASTER"):
        builder = builder.config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
        )
    # Below CPython 3.12 every Python task re-reads the central directory of
    # each zip on the worker path (pyspark.zip, the spark-core jar) inside
    # pyspark's per-task importlib.invalidate_caches(): 16 pure-Python
    # re-reads, about 0.24 s of every task on 4 vCPUs, when a one-row plan
    # without a Python UDF runs in 0.013 s. The package's daemon skips a
    # re-read while an archive's mtime and size are unchanged
    # (worker_daemon.py). 3.12 made the invalidation lazy, and pyspark
    # requires driver and workers on the same minor version, so 3.12+
    # sessions keep the stock daemon. Workers must import the package at
    # start-up; extra_conf {"spark.python.daemon.module": "pyspark.daemon"}
    # restores the stock one.
    if sys.version_info < (3, 12):
        builder = builder.config(
            "spark.python.daemon.module", "instructionspipe_spark.worker_daemon"
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_parallelism(df, min_partitions: int | None = None):
    """Round-robin repartition when the input has fewer partitions than the
    cluster has slots. Single large unsplittable files (one parquet row
    group, gzip JSONL) otherwise serialize expression-heavy operators onto
    one task; at real scale inputs arrive as many files and this is a no-op.
    Results of every operator in this package are partitioning-independent,
    so this never changes output."""
    n = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    try:
        # JVM-side RDD (lazy val, cached on the Dataset): avoids building the
        # Python-conversion RDD pipeline that ``df.rdd`` constructs per call.
        current = df._jdf.rdd().getNumPartitions()
    except Exception:  # e.g. Spark Connect: no _jdf — fall back to public API
        current = df.rdd.getNumPartitions()
    if current < n:
        return df.repartition(n)
    return df


# Frames persisted by operators/query builders. A builder returns its
# DataFrame *before* any action runs, so it cannot unpersist its own
# intermediates; instead it registers them here and the next registry query
# invocation (or an explicit release_persisted() from a harness) frees them.
# Without this the cached stage of e.g. corpus_prep_pipeline leaks executor
# memory across every subsequent query in a long-lived session.
_PERSISTED: list = []


def managed_persist(df):
    """Persist ``df`` and track it for deferred release."""
    df = df.persist()
    _PERSISTED.append(df)
    return df


def release_persisted() -> None:
    """Unpersist every frame registered by managed_persist (non-blocking)."""
    while _PERSISTED:
        try:
            _PERSISTED.pop().unpersist(blocking=False)
        except Exception:
            pass


class persist_scope:
    """Context manager bounding operator-internal caches for library users.

    The LSH dedup/similarity operators persist narrow banded frames via
    :func:`managed_persist`; inside the registry those are freed when the
    next query builds. A long-lived session calling the operators DIRECTLY
    would otherwise accumulate them — wrap each logical unit of work:

        with persist_scope():
            survivors = minhash_lsh_dedup(df, "id", "text").collect()
        # every frame the operator persisted is now released

    Exit releases ONLY the frames registered inside the scope (LIFO), so
    nesting and surrounding registry-managed caches are unaffected. Consume
    results (collect/write) before exiting: the returned DataFrame's plan
    references the caches, and re-running it after release silently
    recomputes them."""

    def __enter__(self) -> "persist_scope":
        self._mark = len(_PERSISTED)
        return self

    def __exit__(self, *exc) -> None:
        while len(_PERSISTED) > self._mark:
            try:
                _PERSISTED.pop().unpersist(blocking=False)
            except Exception:
                pass


def ping(spark: SparkSession) -> bool:
    """Connection smoke test (SURVEY.md L14 — the reference round-trips "Hi"
    through the LLM before a run, inf.py:60-66; the engine's equivalent is a
    trivial distributed job proving executors answer)."""
    return spark.range(1).count() == 1


_BYTE_SUFFIXES = {
    "b": 1,
    "k": 1024,
    "kb": 1024,
    "m": 1024**2,
    "mb": 1024**2,
    "g": 1024**3,
    "gb": 1024**3,
    "t": 1024**4,
    "tb": 1024**4,
    "p": 1024**5,
    "pb": 1024**5,
}


def parse_byte_string(raw: str, default: int = 10 * 1024 * 1024) -> int:
    """Parse a Spark byte-string conf value (``"10485760b"``, ``"64m"``,
    ``"1gb"``, plain ``"10485760"``) into bytes, mirroring the JVM's
    ``JavaUtils.byteStringAsBytes``. A vanilla session reports the default
    broadcast threshold as ``"10485760b"`` — the bare ``b`` suffix must
    parse, not crash. Unparseable input falls back to ``default`` (Spark's
    10 MB broadcast default) so a hint helper can never kill a query."""
    try:
        s = str(raw).strip().lower()
        for suffix in sorted(_BYTE_SUFFIXES, key=len, reverse=True):
            if s.endswith(suffix):
                return int(s[: -len(suffix)].strip()) * _BYTE_SUFFIXES[suffix]
        return int(s)
    except (ValueError, AttributeError):
        return default


def broadcast_if_small(df, threshold_bytes: int | None = None):
    """Stats-aware broadcast hint: apply ``F.broadcast`` only when the
    optimizer's size estimate for ``df`` fits the session's broadcast
    threshold. A hard-coded hint is a scale bug in both directions — at test
    scale Catalyst left unhinted happily broadcasts a raw fact table it
    should stream; at 100 TB the same forced hint OOMs the driver when the
    'small' side stopped being small.

    The size proxy is the SUM OF LEAF SCAN BYTES of the optimized plan, not
    the root estimate: without CBO column stats Catalyst's join estimates
    are multiplicative (a 35 KB⋈2 KB join "estimates" 14 MB; one more join
    clears any threshold), while leaf bytes are real file sizes. For the
    selective inner equi-joins this hint is used on, output ≤ inputs is the
    right direction, and the failure mode is conservative: big leaves at
    100 TB always disable the hint.
    """
    from pyspark.sql import functions as F

    spark = df.sparkSession
    if threshold_bytes is None:
        raw = str(spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
        threshold_bytes = parse_byte_string(raw)
    if threshold_bytes <= 0:
        return df
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    size = sum(leaves.apply(i).stats().sizeInBytes() for i in range(leaves.size()))
    return F.broadcast(df) if size <= threshold_bytes else df
