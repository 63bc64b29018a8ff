"""Similarity search over embedding columns (north-star requirement).

Baseline: brute-force cosine top-k — a broadcast join of the (small) query
set against the corpus, per-row cosine expression, per-query top-k via
window. At 100 TB the corpus side streams through executors once; only the
query set and the k results per query move. It is the exact reference the
recall floors compare against.

Scale path: the ANN index :func:`ann_topk` — a coarse quantizer (centroid
cells, or sign-LSH buckets by random-hyperplane sign bits whose hyperplanes
derive from md5 of coordinate indexes, so no RNG state), a codec (exact,
PQ, SQ8) and one candidates -> shortlist -> exact-rerank path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from instructionspipe_spark.functions.vectors import dot_product, l2_normalize


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    rank_round: int | None = None,
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    Ties broken by corpus id ascending for full determinism; ``rank_round``
    ranks on the cosine ROUNDED to that many decimals, making the ordering
    reproducible across engines whose float summation order differs (two
    near-equal cosines can rank either way at full precision — a
    differential-testing hazard, not a correctness one). Plan: broadcast
    the query side (queries << corpus always), compute cosine in codegen,
    rank with a window partitioned by query — the only shuffle is on
    query_id, whose cardinality = |queries|.
    """
    from instructionspipe_spark.session import ensure_parallelism

    corpus = ensure_parallelism(corpus)
    # Normalize each side once per row; each of the |C|x|Q| pairs is then a
    # single dot product (cosine of unit vectors).
    c = corpus.select(F.col(corpus_id), l2_normalize(F.col(corpus_vec)).alias("__cnv"))
    q = queries.select(F.col(query_id), l2_normalize(F.col(query_vec)).alias("__qnv"))
    joined = c.crossJoin(F.broadcast(q)).select(
        F.col(query_id),
        F.col(corpus_id),
        dot_product(F.col("__qnv"), F.col("__cnv")).alias("cosine"),
    )
    rank_key = F.round(F.col("cosine"), rank_round) if rank_round is not None else F.col("cosine")
    return _rank(joined, query_id, corpus_id, F.desc(rank_key), k)


# ---------------------------------------------------------------------------
# The ANN index (IVF / sign-LSH / PQ / IVFADC / IVF-SQ8) as three parts — a
# coarse quantizer, a codec, and one probe -> shortlist -> rerank path (the
# prune -> shortlist -> verify shape of distributed top-k, REPOSE ICDE 2021).
# ---------------------------------------------------------------------------

#: Largest ``n_cells`` at which the default corpus assignment
#: (``assign_levels=None``) stays FLAT. Flat assignment is O(n * k) dots —
#: the only superlinear term once cells scale with the corpus (r10 probe:
#: alpha 1.16 -> 1.56); two-level routing is O(n * sqrt(k)) but pays a
#: super-centroid stage that only amortizes at large k (measured on
#: SemDeDup: LOSES 2.2x at k=80/cells-2.5k where pairwise dominates, WINS
#: 3.6x at k=800/cells-250). 100 splits the two measured regimes.
FLAT_ASSIGN_MAX_CELLS = 100

#: Decimals of the exact-cosine rerank stage's cosine (emitted and ranked).
_RERANK_ROUND = 4

_CODECS = ("none", "pq", "sq8")


def coarse_centroids(
    nv: DataFrame,
    id_col: str,
    nv_col: str,
    n_cells: int,
    trained: bool = False,
    seed: int = 42,
    max_iter: int = 10,
) -> DataFrame:
    """The coarse quantizer's centroids ``(__cell, __cent)`` over an
    L2-normalized frame.

    Seeded (default): the ``n_cells`` lowest-id vectors, cell id = the
    vector's own id — no model state, so the quantizer is SQL-replayable
    (executes as TakeOrdered, no sort of the full corpus). Trained: one
    ``pyspark.ml`` KMeans fit on the normalized vectors (fixed ``seed``;
    at 100 TB on a sample), cell ids 0..n_cells-1, centroids
    L2-normalized so the dot-product assignment is spherical — over unit
    inputs argmax cos(v, c/|c|) removes the centroid-norm term that a
    raw-centroid dot or a Euclidean distance to raw vectors weighs in
    (ADVICE r6). The fit's k-means|| initialization samples per
    partition, so the trained cells depend on ``nv``'s partitioning as
    well as on ``seed``: pass the frame as it arrives, not one
    repartitioned to the local core count.
    """
    if not trained:
        return nv.orderBy(id_col).limit(n_cells).select(
            F.col(id_col).alias("__cell"), F.col(nv_col).alias("__cent")
        )
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    ml = nv.filter(F.col(nv_col).isNotNull()).select(
        array_to_vector(F.col(nv_col).cast("array<double>")).alias("__mlvec")
    )
    model = KMeans(
        k=n_cells, seed=seed, maxIter=max_iter, featuresCol="__mlvec", predictionCol="__cell"
    ).fit(ml)
    return nv.sparkSession.createDataFrame(
        [(i, [float(x) for x in ctr]) for i, ctr in enumerate(model.clusterCenters())],
        ["__cell", "__cent"],
    ).select("__cell", l2_normalize(F.col("__cent").cast("array<double>")).alias("__cent"))


def _top_cells(
    scored: DataFrame,
    id_col: str,
    nv_col: str,
    keep: list[str],
    cell: str,
    cent: str,
    n: int,
    assign_round: int,
) -> DataFrame:
    """Reduce (row x candidate cell) pairs to each row's top-``n`` cells by
    ROUND(dot, assign_round) descending, lowest cell id on ties (a NULL dot
    ranks last). n = 1 is a two-phase ``min(struct)`` aggregate — map-side
    combine, no window over the corpus, and no arithmetic on the cell id,
    so any orderable id type works; n > 1 is a per-row window, whose
    partitions are one row's candidates, never a hot key."""
    acos = F.round(dot_product(F.col(nv_col), F.col(cent)), assign_round)
    if n == 1:
        best = F.struct(acos.isNull().alias("__null"), (-acos).alias("__neg"), F.col(cell).alias("__k"))
        return (
            scored.groupBy(id_col)
            .agg(F.min(best).alias("__m"), *[F.first(c).alias(c) for c in keep])
            .select(id_col, *keep, F.col("__m.__k").alias(cell))
        )
    w = Window.partitionBy(id_col).orderBy(F.desc("__acos"), F.asc(cell))
    return (
        scored.withColumn("__acos", acos)
        .withColumn("__ar", F.row_number().over(w))
        .filter(F.col("__ar") <= n)
        .select(id_col, *keep, cell)
    )


def assign_cells(
    df: DataFrame,
    id_col: str,
    nv_col: str,
    cent: DataFrame,
    n_cells: int,
    n: int = 1,
    assign_round: int = 6,
    assign_levels: int | None = None,
    super_probes: int = 2,
) -> DataFrame:
    """Every row of the L2-normalized frame ``df`` with each of its top-``n``
    cells of ``cent`` (:func:`coarse_centroids`) as ``__cell``; all of
    ``df``'s columns are kept. The one cell-assignment rule of the ANN index
    and of :func:`~instructionspipe_spark.operators.dedup.semantic_dedup`:
    rank on the dot ROUNDED to ``assign_round`` decimals with the lowest
    cell id winning ties, so engines whose float formatting differs at the
    last ulp still assign identically.

    ``assign_levels``: ``1`` is the flat argmax over every centroid (the
    centroid set is tiny and broadcast; one narrow pass). ``2`` is
    two-level routing: ceil(sqrt(n_cells)) super-centroids (the lowest-id
    centroids; each centroid routes to its nearest super, a super's own
    cell to itself), each row probes its top-``super_probes`` supers and
    takes its best ``n`` children among theirs — O(n * sqrt(k)) dots
    instead of O(n * k). Top-2 supers, not 1: single-probe routing skews
    cell occupancy 4x at the fourth decade (a misrouted vector is forced
    onto its super's best child, and pairwise work is quadratic in the
    hottest cell). Misrouting only changes which CELL a row lands in (the
    same partition trade as ``n_cells`` itself); scores downstream stay
    exact. ``None`` picks 2 when ``n_cells > FLAT_ASSIGN_MAX_CELLS``."""
    import math

    keep = [c for c in df.columns if c != id_col]
    if assign_levels is None:
        assign_levels = 2 if n_cells > FLAT_ASSIGN_MAX_CELLS else 1
    if assign_levels not in (1, 2):
        raise ValueError(f"assign_levels must be None, 1 or 2, got {assign_levels}")
    if assign_levels == 1:
        return _top_cells(
            df.crossJoin(F.broadcast(cent)), id_col, nv_col, keep, "__cell", "__cent", n, assign_round
        )
    n_super = math.isqrt(max(n_cells - 1, 0)) + 1  # ceil(sqrt(n_cells))
    sup = cent.orderBy("__cell").limit(n_super).select(
        F.col("__cell").alias("__super"), F.col("__cent").alias("__scent")
    )
    c2s = _top_cells(
        cent.crossJoin(F.broadcast(sup)), "__cell", "__cent", ["__cent"], "__super", "__scent", 1,
        assign_round,
    )
    vsup = _top_cells(
        df.crossJoin(F.broadcast(sup)), id_col, nv_col, keep, "__super", "__scent", super_probes,
        assign_round,
    )
    # Each cell belongs to exactly one super, so children never duplicate.
    return _top_cells(
        vsup.join(F.broadcast(c2s), "__super"), id_col, nv_col, keep, "__cell", "__cent", n,
        assign_round,
    )


def hyperplane_sign_bits(vec: Column, n_bits: int = 8, bit_offset: int = 0) -> Column:
    """Sign-LSH bucket id: bit ``j`` is the sign of <v, h_j> where
    hyperplane ``h_j``'s coordinate ``i`` is a deterministic pseudo-random
    value in [-0.5, 0.5) derived from md5(j||i). Stateless: any executor (or
    any engine) recomputes identical buckets. ``bit_offset`` shifts the
    global hyperplane index — table ``t`` of a multi-table scheme passes
    ``t * n_bits`` to get ``n_bits`` hyperplanes independent of every other
    table's (table 0 == the single-table bucketing).

    Measured dead end (r5): precomputing the coord matrix driver-side and
    inlining it as literal arrays (zip_with per hyperplane) is 2-3x SLOWER
    than this md5 derivation at 4x4x64 — CreateArray boxes n_bits x dim
    literal doubles per row inside the interpreted higher-order context,
    while JVM md5 streams at millions/sec; a fully unrolled element_at
    chain is worse still (codegen blow-up, broadcast-thread OOM). The md5
    form is also what keeps the DuckDB oracle structurally identical."""
    if n_bits < 1:
        # F.sequence counts down when its end is below its start.
        raise ValueError(f"n_bits must be >= 1, got {n_bits}")

    def coord(j: Column, i: Column) -> Column:
        # first 4 hex chars of md5 -> int in [0, 65536) -> [-0.5, 0.5)
        h = F.md5(F.concat(j.cast("string"), F.lit(":"), i.cast("string")))
        v = F.conv(F.substring(h, 1, 4), 16, 10).cast("long")
        return v.cast("double") / F.lit(65536.0) - F.lit(0.5)

    bits = F.sequence(F.lit(bit_offset), F.lit(bit_offset + n_bits - 1))
    vec_idx = F.sequence(F.lit(0), F.size(vec) - 1)

    def bit_for(j: Column) -> Column:
        proj = F.aggregate(
            vec_idx,
            F.lit(0.0),
            lambda acc, i: acc + F.element_at(vec, i + 1).cast("double") * coord(j, i),
        )
        return F.when(proj >= 0, F.lit(1)).otherwise(F.lit(0))

    return F.aggregate(
        bits, F.lit(0).cast("long"), lambda acc, j: acc * 2 + bit_for(j).cast("long")
    )


def _sign_cells(
    df: DataFrame, vec_col: str, n_bits: int, n_tables: int = 1, multiprobe: bool = False
) -> DataFrame:
    """The sign-LSH quantizer: every row of ``df`` once per table, with that
    table's bucket of the raw vector ``vec_col`` as ``__cell`` (``vec_col``
    is dropped, every other column kept). Table ``t`` hashes with
    hyperplanes ``t*n_bits .. (t+1)*n_bits-1`` and its cell is
    ``t * 2^n_bits + bucket``, so table 0 is the single-table bucketing and
    cells of different tables never meet. ``multiprobe`` adds the
    ``n_bits`` cells one sign flip away (the flips stay inside the table's
    bits): the query-side recall booster for vectors near a hyperplane, at
    (n_bits+1)x the candidates instead of more tables."""
    keep = [c for c in df.columns if c != vec_col]

    def cell(t: int) -> Column:
        return hyperplane_sign_bits(F.col(vec_col), n_bits, t * n_bits) + F.lit(t << n_bits)

    # CASE over the exploded table index: each output row evaluates only ITS
    # table's n_bits hyperplanes, in codegen. (An exploded array of every
    # table's bucket puts all n_tables x n_bits projections under Generate,
    # evaluated interpreted: measured 1.3x slower at 4x4x64.)
    df = df.withColumn("__table", F.explode(F.sequence(F.lit(0), F.lit(n_tables - 1))))
    cells = F.when(F.col("__table") == 0, cell(0))
    for t in range(1, n_tables):
        cells = cells.when(F.col("__table") == t, cell(t))
    out = df.select(*keep, cells.alias("__cell"))
    if multiprobe:
        flips = [F.col("__cell").bitwiseXOR(F.lit(1 << b)) for b in range(n_bits)]
        out = out.select(*keep, F.explode(F.array(F.col("__cell"), *flips)).alias("__cell"))
    return out


def _pq_subvectors(nv: DataFrame, id_col: str, nv_col: str, m: int) -> DataFrame:
    """(id, __j, __sub): the non-null normalized vectors split into ``m``
    equal subvectors. Explodes the cheap subspace INDEX and slices per
    exploded row (Generate input stays trivial; the slice runs in codegen).
    Raises per-row when dim % m != 0 — a silent truncation would quietly
    change every distance."""
    nv = nv.select(F.col(id_col), F.col(nv_col).alias("__nv")).filter(F.col("__nv").isNotNull())
    subdim = (F.size("__nv") / m).cast("int")
    guarded = nv.select(
        id_col,
        "__nv",
        F.when(
            F.size("__nv") % m != 0,
            F.raise_error(F.lit(f"pq: vector dim not divisible by m={m}")),
        ).otherwise(subdim).alias("__sd"),
    )
    return guarded.select(
        id_col,
        "__nv",
        "__sd",
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("__j"),
    ).select(
        id_col,
        "__j",
        F.slice(F.col("__nv"), F.col("__j") * F.col("__sd") + 1, F.col("__sd")).alias("__sub"),
    )


def _pq_l2sq(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _pq_codebook(
    c: DataFrame,
    csub: DataFrame,
    corpus_id: str,
    m: int,
    n_codes: int,
    trained: bool = False,
    seed: int = 42,
    max_iter: int = 10,
) -> DataFrame:
    """The PQ codebook ``(__j, __code, __cw)``. Seeded: subspace ``j``'s
    codewords are the ``j``-th subvectors of the ``n_codes`` lowest-id
    vectors, code = rank of that id (the window is over n_codes rows).
    Trained: one ``pyspark.ml`` KMeans per subspace, seeded ``seed + j``
    (the model is m*n_codes*subdim floats whatever the corpus size)."""
    if not trained:
        seed_ids = (
            c.select(F.col(corpus_id))
            .orderBy(corpus_id)
            .limit(n_codes)
            .withColumn("__code", F.row_number().over(Window.orderBy(corpus_id)) - 1)
        )
        return csub.join(F.broadcast(seed_ids), corpus_id).select(
            "__j", "__code", F.col("__sub").alias("__cw")
        )
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    ml = csub.select("__j", array_to_vector(F.col("__sub").cast("array<double>")).alias("__mlvec"))
    rows = []
    for j in range(m):
        model = KMeans(
            k=n_codes, seed=seed + j, maxIter=max_iter, featuresCol="__mlvec", predictionCol="__cell"
        ).fit(ml.filter(F.col("__j") == j))
        rows += [(j, code, [float(x) for x in ctr]) for code, ctr in enumerate(model.clusterCenters())]
    return c.sparkSession.createDataFrame(rows, ["__j", "__code", "__cw"]).select(
        "__j", "__code", F.col("__cw").cast("array<double>").alias("__cw")
    )


def _pq_codes(
    csub: DataFrame, codebook: DataFrame, corpus_id: str, assign_round: int = 6
) -> DataFrame:
    """(corpus_id, __codes): nearest-codeword index per subspace, assembled
    into an m-element array ordered by subspace. Broadcast join + two-phase
    groupBy.min struct election (map-side combine) + one groupBy on the
    corpus id — and that exchange IS the compressed representation a 100 TB
    pipeline persists (m small ints instead of 4*dim bytes of floats)."""
    enc = (
        csub.join(F.broadcast(codebook), "__j")
        .select(
            corpus_id,
            "__j",
            F.struct(
                F.round(_pq_l2sq(F.col("__sub"), F.col("__cw")), assign_round).alias("__d2"),
                F.col("__code"),
            ).alias("__s"),
        )
        .groupBy(corpus_id, "__j")
        .agg(F.min("__s").alias("__m"))
        .select(corpus_id, "__j", F.col("__m.__code").alias("__code"))
    )
    return enc.groupBy(corpus_id).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("__j", "__code"))), lambda s: s["__code"]
        ).alias("__codes")
    )


def _pq_lut(
    qsub: DataFrame, codebook: DataFrame, query_id: str, m: int, n_codes: int, assign_round: int
) -> DataFrame:
    """(query_id, __lut): each query's asymmetric-distance lookup table,
    ROUND(d2, assign_round) to every codeword, laid out at j*n_codes+code.

    ADC looks the LUT up POSITIONALLY, so it must hold exactly one entry per
    (subspace, code) slot. A codebook with fewer codes per subspace (corpus
    smaller than n_codes, or zero-norm seed rows dropped by _pq_subvectors)
    would silently misalign every distance — an in-plan cardinality check
    per query row raises instead."""
    pairs = F.array_sort(F.collect_list(F.struct("__idx", "__d2")))
    return (
        qsub.join(F.broadcast(codebook), "__j")
        .select(
            query_id,
            (F.col("__j") * n_codes + F.col("__code")).alias("__idx"),
            F.round(_pq_l2sq(F.col("__sub"), F.col("__cw")), assign_round).alias("__d2"),
        )
        .groupBy(query_id)
        .agg(pairs.alias("__pairs"))
        .select(
            query_id,
            F.when(
                F.size("__pairs") != m * n_codes,
                F.raise_error(
                    F.lit(
                        f"pq: codebook cardinality mismatch — expected m*n_codes"
                        f"={m * n_codes} (m={m}, n_codes={n_codes}) entries per "
                        "query LUT; the codebook has a different code count per "
                        "subspace (undersized corpus or dropped zero-norm seed "
                        "rows), which would silently misalign positional ADC "
                        "lookups"
                    )
                ),
            )
            .otherwise(F.transform(F.col("__pairs"), lambda s: s["__d2"]))
            .alias("__lut"),
        )
    )


def _pq_adc(m: int, n_codes: int, rank_round: int | None) -> Column:
    """ADC distance: the sum of the m LUT entries the codes select. The fold
    accumulates in exact DECIMAL: each LUT entry is a rounded double
    (recovered exactly by the decimal cast), and a plain double fold vs an
    arbitrary-order SQL SUM can differ by an ulp, flipping the outer ROUND
    on a .xxxxx5 boundary and with it the shortlist membership (the
    ivfsq_trained_recall escape class)."""
    fold = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0).cast("decimal(38,6)"),
        lambda acc, j: acc
        + F.element_at(
            F.col("__lut"),
            (j * n_codes + F.element_at(F.col("__codes"), (j + 1).cast("int")) + 1).cast("int"),
        ).cast("decimal(25,6)"),
    )
    return (fold if rank_round is None else F.round(fold, rank_round)).cast("double")


def pq_codebook_deterministic(
    corpus: DataFrame,
    m: int = 4,
    n_codes: int = 8,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """The seeded PQ codebook of :func:`ann_topk` as a frame ``(__j, __code,
    __cw)``. Persist next to the codes store — scoring needs both, and codes
    are meaningless under a different codebook."""
    c = corpus.select(F.col(corpus_id), l2_normalize(F.col(corpus_vec)).alias("__cnv"))
    return _pq_codebook(c, _pq_subvectors(c, corpus_id, "__cnv", m), corpus_id, m, n_codes)


def pq_encode(
    corpus: DataFrame,
    codebook: DataFrame,
    m: int = 4,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    assign_round: int = 6,
) -> DataFrame:
    """Encode a corpus against an existing PQ ``codebook`` into the
    persistable codes store ``(corpus_id, __codes)`` — the artifact a
    100 TB pipeline writes ONCE and scans nightly (m small ints per vector,
    64x smaller than the floats at dim=64/m=4). Pass it back to
    :func:`ann_topk` (``codec="pq"``) via ``codes_store`` with the same
    ``codebook``; the raw vectors are then read only for rerank rows."""
    c = corpus.select(F.col(corpus_id), l2_normalize(F.col(corpus_vec)).alias("__cnv"))
    return _pq_codes(_pq_subvectors(c, corpus_id, "__cnv", m), codebook, corpus_id, assign_round)


def _sq_stats(c_nv: DataFrame, vec_col: str = "__cnv") -> DataFrame:
    """Per-dimension min/max of the (normalized) corpus, collected into one
    row of dim-length arrays ``(__mns, __mxs)`` — the whole trained state of
    a scalar quantizer. posexplode → groupBy(dim) is a dim-bounded shuffle
    (|stats| = dim rows regardless of corpus size); the final collect into
    sorted arrays is a single-row struct sort over dim entries."""
    dims = c_nv.select(F.posexplode(F.col(vec_col)).alias("__i", "__x"))
    stats = dims.groupBy("__i").agg(F.min("__x").alias("__mn"), F.max("__x").alias("__mx"))
    return stats.agg(
        F.array_sort(F.collect_list(F.struct("__i", "__mn"))).alias("__a"),
        F.array_sort(F.collect_list(F.struct("__i", "__mx"))).alias("__b"),
    ).select(
        F.transform("__a", lambda s: s["__mn"]).alias("__mns"),
        F.transform("__b", lambda s: s["__mx"]).alias("__mxs"),
    )


def _sq_encode(vec: Column, mns: Column, mxs: Column) -> Column:
    """SQ8 encode: per dimension, code = floor((x - mn) / (mx - mn) * 255
    + 0.5) clamped to [0, 255]; degenerate (mx == mn) dimensions encode 0.
    Pure fixed-order IEEE arithmetic + an exact integer floor, so two
    engines encode bit-identically — no rounding discipline needed."""

    def enc(x: Column, i: Column) -> Column:
        mn = F.element_at(mns, i + 1)
        mx = F.element_at(mxs, i + 1)
        span = mx - mn
        code = F.floor((x - mn) / span * F.lit(255.0) + F.lit(0.5))
        code = F.least(F.lit(255).cast("long"), F.greatest(F.lit(0).cast("long"), code))
        return F.when(span == F.lit(0.0), F.lit(0).cast("long")).otherwise(code)

    return F.transform(vec, enc)


def _rank(scored: DataFrame, query_id: str, corpus_id: str, order: Column, n: int) -> DataFrame:
    """Per-query top-``n`` by ``order``, corpus id ascending on ties. The
    rank <= n filter plans as WindowGroupLimit: per-partition
    pre-truncation before the exchange, skew-safe."""
    w = Window.partitionBy(query_id).orderBy(order, F.asc(corpus_id))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= n)


def ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    codec: str = "none",
    n_cells: int | None = None,
    n_probe: int = 2,
    n_assign: int = 1,
    assign_levels: int | None = None,
    super_probes: int = 2,
    trained: bool = False,
    seed: int = 42,
    max_iter: int = 10,
    n_bits: int | None = None,
    n_tables: int = 1,
    multiprobe: bool = False,
    m: int = 4,
    n_codes: int = 8,
    codebook: DataFrame | None = None,
    codes_store: DataFrame | None = None,
    rerank: int | None = None,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    assign_round: int = 6,
    rank_round: int | None = None,
) -> DataFrame:
    """Approximate top-``k`` by cosine: the IVF / sign-LSH / PQ / IVFADC /
    IVF-SQ8 index family as one coarse quantizer, one codec and one path.

    **Centroid quantizer** (``n_cells``; ``None`` = none). Centroids from
    :func:`coarse_centroids` — the ``n_cells`` lowest-id vectors, or with
    ``trained=True`` a spherical KMeans fit. Every corpus vector goes to
    its top-``n_assign`` cells and every query probes its top-``n_probe``
    cells by :func:`assign_cells`. ``n_assign > 1`` (multiple assignment,
    Jégou et al. 2011 §V-C) indexes boundary vectors in both adjacent
    cells — the dominant recall loss on weakly clustered data — for
    ``n_assign``x the index rows. ``assign_levels``/``super_probes`` route
    the corpus assignment two-level above ``FLAT_ASSIGN_MAX_CELLS``;
    queries are few, so their probe ranking is always flat and exact.

    **Sign-LSH quantizer** (``n_bits``; ``None`` = none; exclusive with the
    centroid quantizer). Data-independent cells: each of ``n_tables``
    tables buckets the RAW vector by ``n_bits`` md5 hyperplane signs
    (:func:`hyperplane_sign_bits`), and a pair is a candidate if it shares
    a bucket in ANY table — the OR-amplification knob (1-(1-p^b)^L) that a
    single table cannot reach on weakly clustered vectors. ``multiprobe``
    also probes each query's one-bit-flip neighbors. On the sf0.01
    embeddings (500 near-random 64-d vectors, the hardest case for LSH),
    4 bits x 4 tables with multiprobe reach mean recall@5 0.97 (min 0.80),
    single-table multiprobe 0.60, and 6 tables 1.00.

    **Codec** — how a candidate pair is scored:

    - ``"none"``: the exact cosine (IVF). ``rank_round`` ranks on the
      cosine rounded to that many decimals (the emitted cosine is not
      rounded), so engines whose summation order differs rank alike.
    - ``"pq"``: product quantization — ``m`` subvector codes per vector
      against an ``n_codes``-word codebook per subspace (seeded from the
      lowest-id vectors, trained with ``trained=True``, or passed as
      ``codebook``), scored by asymmetric distance (ADC) through a
      per-query LUT, ranked on ROUND(adc, ``rank_round``). ``codes_store``
      (from :func:`pq_encode`, with its ``codebook``) skips encoding: the
      scan reads m codes per vector instead of 4*dim bytes.
    - ``"sq8"``: 8-bit scalar quantization with the corpus's per-dim
      min/max; the distance is the SYMMETRIC integer code distance, so the
      shortlist is exact-integer reproducible in any engine.

    **Path.** (1) Candidates: every (query, vector) pair without a coarse
    quantizer, else the equi-join of corpus cells and query probes on the
    cell id (query side broadcast), distinct when ``n_assign > 1`` or
    ``n_tables > 1`` (one table's probes are distinct cells). (2) The
    codec scores the candidates and keeps a top-(``rerank`` or ``k``)
    shortlist per query. (3) With ``rerank``, one exact-cosine stage joins
    the shortlist back to the normalized vectors (raw vectors are read for
    R << corpus rows only) and keeps the top ``k`` by the cosine rounded
    to 4 decimals.

    Output: ``(query_id, corpus_id, score, rank)`` with score ``cosine``
    (codec ``none`` or any ``rerank``) or ``adc_dist`` (pq without
    rerank; sq8 always reranks). Seeded quantizers rank on pre-rounded
    keys with id tie breaks, so the whole path is SQL-replayable (the
    ``similarity_*_topk`` oracle rows); trained ones are gated by recall
    floors (``*_trained_recall``)."""
    from instructionspipe_spark.session import ensure_parallelism, managed_persist

    if codec not in _CODECS:
        raise ValueError(f"codec must be one of {_CODECS}, got {codec!r}")
    if codec == "none" and rerank is not None:
        raise ValueError("rerank reranks a quantized shortlist; codec='none' already ranks exact cosines")
    if codec == "sq8" and rerank is None:
        raise ValueError("codec='sq8' needs rerank: its integer code distance only builds the shortlist")
    if codec != "pq" and (codebook is not None or codes_store is not None):
        raise ValueError("codebook and codes_store belong to codec='pq'")
    if codes_store is not None and codebook is None:
        raise ValueError("codes_store requires the codebook it was encoded with")
    if n_bits is not None and (n_cells is not None or trained or n_assign > 1 or assign_levels is not None):
        raise ValueError(
            "n_bits picks the sign-LSH quantizer; n_cells, trained, n_assign and "
            "assign_levels belong to the centroid quantizer"
        )
    if n_bits is None and (n_tables != 1 or multiprobe):
        raise ValueError("n_tables and multiprobe belong to the sign-LSH quantizer (n_bits)")
    if n_tables < 1:
        raise ValueError(f"n_tables must be >= 1, got {n_tables}")

    def unit(frame: DataFrame, *keep: str) -> DataFrame:
        return frame.select(corpus_id, *keep, l2_normalize(F.col(corpus_vec)).alias("__cnv"))

    # A trained quantizer or codebook fits on the corpus as it arrives:
    # KMeans' k-means|| initialization samples per partition, and the
    # repartition below follows the local core count.
    arrived = unit(corpus)
    parallel = ensure_parallelism(corpus)
    c = unit(parallel)
    qnv = l2_normalize(F.col(query_vec)).alias("__qnv")
    q = queries.select(query_id, qnv)
    coarse = n_cells is not None or n_bits is not None

    # The codec: how each side — the corpus or query frame, with or without
    # its cells — carries what the score reads, the score, and its order.
    if codec == "none":

        def c_side(side: DataFrame) -> DataFrame:
            return side

        q_side = c_side
        score = dot_product(F.col("__qnv"), F.col("__cnv")).alias("cosine")
        order = F.desc(F.col("cosine") if rank_round is None else F.round("cosine", rank_round))
    elif codec == "sq8":
        c = managed_persist(c)  # read by the centroid seed, the stats, the encoding and the rerank
        stats = F.broadcast(_sq_stats(c))

        def sq8(side: DataFrame, nv_col: str, out: str) -> DataFrame:
            return side.crossJoin(stats).select(
                *[x for x in side.columns if x != nv_col],
                _sq_encode(F.col(nv_col), F.col("__mns"), F.col("__mxs")).alias(out),
            )

        def c_side(side: DataFrame) -> DataFrame:
            return sq8(side, "__cnv", "__codes")

        def q_side(side: DataFrame) -> DataFrame:
            return sq8(side, "__qnv", "__qcodes")

        score = F.aggregate(
            F.zip_with(F.col("__qcodes"), F.col("__codes"), lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("__d2")
        order = F.asc("__d2")
    else:
        if codes_store is None:
            csub = _pq_subvectors(c, corpus_id, "__cnv", m)
            if codebook is None and trained:
                fit = _pq_subvectors(arrived, corpus_id, "__cnv", m)
                codebook = _pq_codebook(arrived, fit, corpus_id, m, n_codes, True, seed, max_iter)
            elif codebook is None:
                # Read by two branches (codebook seed + encoding): persist the
                # narrow subvector frame rather than splitting the corpus twice.
                csub = managed_persist(csub)
                codebook = _pq_codebook(c, csub, corpus_id, m, n_codes)
            codes = _pq_codes(csub, codebook, corpus_id, assign_round)
        else:
            codes = codes_store
        lut = _pq_lut(
            _pq_subvectors(q, query_id, "__qnv", m), codebook, query_id, m, n_codes, assign_round
        )

        # Codes and LUTs are keyed by id; without cells they are the sides.
        def c_side(side: DataFrame) -> DataFrame:
            return side.select(corpus_id, "__cell").join(codes, corpus_id) if coarse else codes

        def q_side(side: DataFrame) -> DataFrame:
            return side.select(query_id, "__cell").join(lut, query_id) if coarse else lut

        score = _pq_adc(m, n_codes, rank_round).alias("adc_dist")
        order = F.asc("adc_dist")

    # 1. Candidates.
    if n_bits is not None:
        # Buckets hash the raw vectors, as the SQL oracles do, so the corpus
        # cells re-read the raw corpus (with sq8 too, whose persisted ``c``
        # holds only the normalized vectors).
        c_cells = _sign_cells(unit(parallel, corpus_vec), corpus_vec, n_bits, n_tables)
        q_cells = _sign_cells(
            queries.select(query_id, query_vec, qnv), query_vec, n_bits, n_tables, multiprobe
        )
    elif n_cells is not None:
        cent = coarse_centroids(
            arrived if trained else c, corpus_id, "__cnv", n_cells, trained, seed, max_iter
        )
        c_cells = assign_cells(
            c, corpus_id, "__cnv", cent, n_cells, n_assign, assign_round, assign_levels, super_probes
        )
        q_cells = assign_cells(q, query_id, "__qnv", cent, n_cells, n_probe, assign_round, 1)
    if coarse:
        pairs = c_side(c_cells).join(F.broadcast(q_side(q_cells)), "__cell")
    else:
        pairs = c_side(c).crossJoin(F.broadcast(q_side(q)))
    scored = pairs.select(query_id, corpus_id, score)
    if (n_cells is not None and n_assign > 1) or n_tables > 1:
        # A pair reachable through several shared cells scores once.
        scored = scored.distinct()
    # 2. Shortlist.
    shortlist = _rank(scored, query_id, corpus_id, order, rerank if rerank is not None else k)
    if rerank is None:
        return shortlist
    # 3. Exact-cosine rerank of the shortlist.
    exact = (
        shortlist.select(query_id, corpus_id)
        .join(c, corpus_id)
        .join(F.broadcast(q), query_id)
        .select(
            query_id,
            corpus_id,
            F.round(dot_product(F.col("__cnv"), F.col("__qnv")), _RERANK_ROUND).alias("cosine"),
        )
    )
    return _rank(exact, query_id, corpus_id, F.desc("cosine"), k)
