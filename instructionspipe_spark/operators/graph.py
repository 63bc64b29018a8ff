"""Near-duplicate clustering: connected components over the LSH pair graph.

The dedup operators (``operators/dedup.py``) answer "which rows lose"; this
module answers "which rows belong together" — transitive near-dup CLUSTER
ids, the shape training-data pipelines need for per-cluster sampling or
survivor election smarter than min-id. The reference's in-memory dedup
(``apps/etl/etl_slimpajama_dc_proc.py:116-158``) has no clustering notion at
all; this is the scale-native generalization.

Algorithm: min-label propagation to a fixed point (each node repeatedly
takes the min label among itself and its neighbors), a driver loop of
DataFrame joins — O(graph diameter) iterations, each one join + one
map-side-partial aggregate over the EDGE frame, which for near-dup graphs
is bounded by the verified-pair count (orders of magnitude smaller than
the corpus; the corpus itself never enters the loop). Near-dup components
are unions of LSH-bucket stars, so their diameter is small (a chain of
overlapping buckets); for adversarially long path graphs the alternating
large-star/small-star formulation (Kiveris et al., "Connected Components
in MapReduce and Beyond" — public algorithm) converges in O(log^2 n)
rounds and can replace the propagation step without changing the API.

Determinism: the component id is the MIN node id of the component —
partitioning-independent, reproducible in any engine (the oracle is a
recursive-CTE min-reachable-label query).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _free_local_checkpoint(df: DataFrame) -> None:
    """Release the block-manager storage behind a ``localCheckpoint``-ed
    DataFrame (its analyzed plan is a LogicalRDD over the persisted,
    lineage-truncated RDD — ``DataFrame.unpersist`` doesn't reach it).
    The frame is UNREADABLE afterwards: lineage was truncated, so only call
    on frames no plan will touch again."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass  # freeing cache is best-effort; never fail the algorithm for it


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``; component =
    min node id reachable. Early-stops when a sweep changes no label; raises
    if ``max_iter`` sweeps didn't converge (diameter > max_iter — switch to
    the star formulation before raising the cap)."""
    half = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # localCheckpoint (eager) everywhere a frame is re-read across sweeps:
    # it materializes AND TRUNCATES LINEAGE. Plain persist keeps the full
    # logical plan, which here embeds the previous sweep's plan several
    # times per iteration — exponential tree growth that OOMs the driver by
    # ~iteration 10 regardless of data size. (Production clusters should
    # set a reliable checkpoint dir and use checkpoint() if executor loss
    # must be survivable mid-algorithm.)
    sym = (
        half.union(half.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        # min label among neighbors, then least(self, neighbors). The agg is
        # map-side partial over the edge frame; the corpus is never touched.
        nbr = (
            sym.join(labels.select(F.col("node").alias("b"), "label"), "b")
            .groupBy("a")
            .agg(F.min("label").alias("__nbr"))
            .select(F.col("a").alias("node"), "__nbr")
        )
        new_labels = (
            labels.join(nbr, "node", "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce(F.col("__nbr"), F.col("label"))).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        # The sweep's count() has completed, so the PREVIOUS labels
        # checkpoint is dead — free its blocks now, or block-manager memory
        # grows linearly with sweeps (max_iter x label-frame size).
        _free_local_checkpoint(labels)
        labels = new_labels
        if changed == 0:
            _free_local_checkpoint(sym)
            # labels itself stays cached: it IS the result the caller reads.
            return labels.select("node", F.col("label").alias("component"))
    _free_local_checkpoint(sym)
    _free_local_checkpoint(labels)
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} sweeps "
        "(graph diameter too large — use the large-star/small-star variant)"
    )


def near_dup_components(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 16,
    bands: int = 4,
    ngram: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Every row labeled with its near-dup cluster id (min doc id of the
    cluster; singletons label themselves). Edges = LSH candidate pairs
    verified at ``jaccard >= threshold`` (same path as minhash_lsh_dedup);
    components are computed on the SMALL pair graph only, then left-joined
    back — the corpus never enters the iterative loop."""
    from instructionspipe_spark.operators.dedup import _jaccard_verified, minhash_lsh_candidates

    pairs = minhash_lsh_candidates(df, id_col, text_col, num_perm=num_perm, bands=bands, ngram=ngram)
    side = (df, id_col, text_col)
    cc = connected_components(_jaccard_verified(pairs, side, side, ngram, threshold), "id_a", "id_b")
    return df.join(cc.withColumnRenamed("node", id_col), id_col, "left").withColumn(
        "component", F.coalesce(F.col("component"), F.col(id_col))
    )
