"""Deduplication family (SURVEY.md G2-G5 + north-star dedup ops).

Reference behaviors re-specified for scale and determinism:

- exact dedup keeps ``v[0]`` per group in input order
  (``apps/etl/etl_sampling_by_key.py:42-47``) — input order does not exist in
  a distributed engine, so the survivor is the row minimizing an explicit
  tie-break key (deterministic under any partitioning);
- MinHash-LSH near-dedup (``apps/etl/etl_slimpajama_dc_proc.py:41-86,147-158``)
  keeps an in-memory LSH index and drops a record if it has more than
  ``most_dup`` *previously inserted* matches — order-dependent and
  single-node. Here: shingle -> MinHash signature -> band buckets -> shared
  bucket candidate pairs -> drop the larger id of each verified pair. The
  result is order-independent and runs as joins/aggregations that shuffle on
  band hashes (uniform by construction, so no skew).

All hashing is md5-based (built-in, available identically in DuckDB) so every
operator here is oracle-checkable.

The MinHash near-duplicate index is five stages, each written once and
shared by every operator of the family:

1. **fingerprint** — :func:`minhash_signature` (``_signed`` frames it as
   ``(__id, __sig)``);
2. **block** — ``_banded_frame``, the one band projection (one row per
   document and band), and ``_under_cap``, the one over-cap bucket filter;
3. **candidates** — ``_sig_band_pairs`` pairs each bucket member with the
   bucket's min-id representative inside one corpus, ``_cross_pairs``
   pairs rows only across two sides;
4. **verify** — ``_jaccard_verified``, exact n-gram Jaccard per pair,
   rounded to 6 digits;
5. **resolve** — per operator: left-anti join of the losers, min-label
   components (``graph.connected_components``), or best-match election.

Each fingerprint has one engine. The shingle fingerprints (MinHash,
SimHash, ``textstats.doc_fingerprint``) are Arrow kernels: normalization
stays a JVM regex, then one Arrow-batched pandas UDF computes the shingles,
their md5 and the signature over a per-batch shingle vocabulary (shingles
are Zipfian, so each distinct shingle is hashed once per batch) with numpy
for the permutation/vote math. Python str slicing is O(1) per code point, so the
kernel is linear in document length; the Catalyst expression form it
replaced located each shingle with ``substr(i, n)``, O(position) on a
UTF8String — O(len^2) per document, 2.9-3.65x slower at sf0.1 and minutes on
one 50k-char document. The md5 itself is ~free: swapping it for xxhash64
measured within noise (+-3%), so the kernels keep md5 and full DuckDB
oracle parity.
"""

from __future__ import annotations

import numpy as np
import pandas as pd  # module-level: pandas_udf type hints must resolve `pd`
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from instructionspipe_spark.functions.text import char_ngrams, shingle_normalize


def exact_dedup(df: DataFrame, keys: list[str], tiebreak: list[str]) -> DataFrame:
    """Keep exactly one row per key group: the row with the smallest
    ``tiebreak`` value. ``dropDuplicates`` would be cheaper by a sort but
    returns an arbitrary row; a deterministic survivor is worth the
    ``row_number`` (still a single shuffle, AQE handles skew)."""
    w = Window.partitionBy(*keys).orderBy(*[F.asc(c) for c in tiebreak])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def multi_key_dedup(df: DataFrame, key_sets: list[list[str]], tiebreak: list[str]) -> DataFrame:
    """Sequential dedup over several key sets (reference
    ``etl_sampling_by_key.py:50-53`` folds dedup over keys)."""
    for keys in key_sets:
        df = exact_dedup(df, keys, tiebreak)
    return df


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

# Universal-hash family over the 48-bit base hash: permutation i is
# h_i(x) = (A[i]*x + B[i]) mod 2^48, with A odd 12-bit and B 48-bit constants
# derived from md5 of the permutation index — deterministic, no RNG state,
# reproducible in any engine (A[i]*x < 2^61 never overflows signed 64-bit).
_MOD = 1 << 48

#: Default hot-bucket cap for CORPUS-side banding buckets
#: (:func:`incremental_minhash_dedup`). A banding bucket holding more
#: members than this is boilerplate mass, not near-dup signal — measured at
#: the sf10 decade, uncapped hot buckets drove 185M candidate pairs with
#: 99.99% failing verification (candidate volume quadratic in corpus size,
#: alpha ~1.4). 64 bounds the largest believable ORGANIC near-dup cluster
#: (measured p99 organic bucket 34-41) and must stay a CONSTANT: a
#: data-derived quantile grows with n and re-admits the quadratic.
#: Scale-safe default since r11; pass ``bucket_cap=None`` for the faithful
#: reference semantics (``etl_slimpajama_dc_proc.py`` has no cap either).
#: Selection rule: SCALE.md "Cap selection".
DEFAULT_BUCKET_CAP = 64

#: Default hot-bucket cap for EVAL-side banding buckets
#: (:func:`cross_corpus_near_dups`). The eval side is the side candidates
#: multiply against (cap x |corpus banded rows| bounds the join LINEAR in
#: corpus size); benchmarks are small and curated, so organic eval buckets
#: are tiny (measured max 8-11, p99 ~7-8) while template-saturated ones run
#: to 71+. Same constant-not-quantile rule as :data:`DEFAULT_BUCKET_CAP`.
DEFAULT_EVAL_BUCKET_CAP = 8


def _perm_constants(num_perm: int) -> tuple[list[int], list[int]]:
    import hashlib

    a = [int(hashlib.md5(f"a{i}".encode()).hexdigest()[:3], 16) | 1 for i in range(num_perm)]
    b = [int(hashlib.md5(f"b{i}".encode()).hexdigest()[:12], 16) for i in range(num_perm)]
    return a, b


def base_hash48(s: Column) -> Column:
    """48-bit integer hash of a string: first 12 hex chars of md5.
    (DuckDB mirror: ``CAST('0x' || substr(md5(s),1,12) AS BIGINT)``.)"""
    return F.conv(F.substring(F.md5(s), 1, 12), 16, 10).cast("long")


# ---------------------------------------------------------------------------
# Arrow shingle kernels
# ---------------------------------------------------------------------------
#
# One pandas UDF per (operator, params): normalized text in, signature out.
# The expensive inner loop — shingle windows, md5, permutations / bit votes —
# runs vectorized in numpy over a per-batch shingle vocabulary. Python str
# slicing counts code points exactly like Spark's substr, and hashlib.md5 of
# the UTF-8 encoding matches Spark/DuckDB md5, so results are bit-identical
# to the DuckDB oracles (asserted in tests/test_param_fuzz.py).

_KERNELS: dict[tuple, object] = {}


def _batch_vocab(norm, ngram: int):
    """Per-doc arrays of shingle-vocabulary indices plus the vocabulary's
    48-bit md5 hashes. ``digest()[:6] big-endian == int(hexdigest[:12], 16)``."""
    import hashlib

    vocab: dict[str, int] = {}
    doc_idx: list = []
    for s in norm:
        if s is None or len(s) < ngram:
            doc_idx.append(None)
            continue
        seen = {s[j : j + ngram] for j in range(len(s) - ngram + 1)}
        idx = np.empty(len(seen), dtype=np.int64)
        for k, sh in enumerate(seen):
            v = vocab.get(sh)
            if v is None:
                v = len(vocab)
                vocab[sh] = v
            idx[k] = v
        doc_idx.append(idx)
    hashes = np.fromiter(
        (int.from_bytes(hashlib.md5(sh.encode()).digest()[:6], "big") for sh in vocab),
        dtype=np.int64,
        count=len(vocab),
    )
    return doc_idx, hashes


def _minhash_kernel(num_perm: int, ngram: int):
    key = ("minhash", num_perm, ngram)
    if key in _KERNELS:
        return _KERNELS[key]
    from pyspark.sql.types import ArrayType, LongType

    a_np = np.array(_perm_constants(num_perm)[0], dtype=np.int64)
    b_np = np.array(_perm_constants(num_perm)[1], dtype=np.int64)

    @F.pandas_udf(ArrayType(LongType()))
    def kernel(norm: pd.Series) -> pd.Series:
        doc_idx, hashes = _batch_vocab(norm, ngram)
        # vocab x num_perm permutation table; a < 2^12 and h < 2^48 keep
        # a*h+b under 2^61 — no int64 overflow.
        perms = (hashes[:, None] * a_np[None, :] + b_np[None, :]) % _MOD
        out = np.full(len(norm), None, dtype=object)
        for i, idx in enumerate(doc_idx):
            if idx is not None:
                out[i] = perms[idx].min(axis=0).tolist()
        return pd.Series(out)

    _KERNELS[key] = kernel
    return kernel


def _jaccard_kernel(ngram: int):
    """Pairwise n-gram Jaccard over two NORMALIZED text columns. NULL (not
    NaN: Spark orders NaN above every double, so ``NaN >= t`` would pass the
    verify filter) when the union is empty."""
    key = ("jaccard", ngram)
    if key in _KERNELS:
        return _KERNELS[key]
    from pyspark.sql.types import DoubleType

    @F.pandas_udf(DoubleType())
    def kernel(a: pd.Series, b: pd.Series) -> pd.Series:
        # Each document appears in several candidate pairs; memoize its
        # shingle set per batch (keyed by the normalized text) so set
        # construction is paid once per distinct doc, not once per pair.
        memo: dict[str, frozenset] = {}

        def shingles(s):
            if s is None or len(s) < ngram:
                return frozenset()
            v = memo.get(s)
            if v is None:
                v = frozenset(s[j : j + ngram] for j in range(len(s) - ngram + 1))
                memo[s] = v
            return v

        out = np.full(len(a), None, dtype=object)
        for i in range(len(a)):
            sa, sb = shingles(a.iat[i]), shingles(b.iat[i])
            inter = len(sa & sb)
            union = len(sa) + len(sb) - inter  # inclusion-exclusion: no union set
            if union:
                out[i] = inter / union
        return pd.Series(out)

    _KERNELS[key] = kernel
    return kernel


def _simhash_kernel(bits: int, ngram: int):
    key = ("simhash", bits, ngram)
    if key in _KERNELS:
        return _KERNELS[key]
    from pyspark.sql.types import LongType

    @F.pandas_udf(LongType())
    def kernel(norm: pd.Series) -> pd.Series:
        doc_idx, hashes = _batch_vocab(norm, ngram)
        bit_tbl = ((hashes[:, None] >> np.arange(bits, dtype=np.int64)) & 1).astype(np.int32)
        powers = np.int64(1) << np.arange(bits, dtype=np.int64)
        out = np.full(len(norm), None, dtype=object)
        for i, idx in enumerate(doc_idx):
            if idx is not None:
                s = bit_tbl[idx].sum(axis=0, dtype=np.int64)
                # vote > 0  <=>  set-bit count * 2 > shingle count
                out[i] = int(((s * 2 > len(idx)).astype(np.int64) * powers).sum())
        return pd.Series(out)

    _KERNELS[key] = kernel
    return kernel


def minhash_signature(text: Column, num_perm: int = 16, ngram: int = 3) -> Column:
    """MinHash signature as ``array<bigint>`` of length ``num_perm``.

    One md5 per distinct shingle, then ``num_perm`` cheap affine
    permutations — the standard tensoring trick, so cost is
    ``|shingles| + num_perm × |shingles|`` integer ops rather than
    ``num_perm × |shingles|`` cryptographic hashes. Per-row computation:
    no shuffle, embarrassingly parallel across rows.

    Empty shingle sets yield a NULL signature (filter short docs first
    — the reference's low-length filter P5 does exactly this).
    """
    return _minhash_kernel(num_perm, ngram)(shingle_normalize(text))


# ---------------------------------------------------------------------------
# The near-duplicate index: fingerprint -> block -> candidates -> verify
# ---------------------------------------------------------------------------


def _signed(df: DataFrame, id_col: str, text_col: str, num_perm: int, ngram: int) -> DataFrame:
    """Fingerprint stage: ``(__id, __sig)``, one row per document."""
    sig = minhash_signature(F.col(text_col), num_perm=num_perm, ngram=ngram)
    return df.select(F.col(id_col).alias("__id"), sig.alias("__sig"))


def _banded_frame(with_sig: DataFrame, num_perm: int, bands: int) -> DataFrame:
    """Block stage, the one band projection: every column of ``with_sig``
    except ``__sig``, plus ``(__band_idx, __band_hash)`` — one row per
    (doc, band). ``__band_hash`` folds the band index into the md5, so it
    alone names a bucket. Stage order matters: explode the cheap band
    INDEX, then hash the signature slice per exploded row (exploding a
    precomputed band-hash array would put the nested lambda under
    Generate, interpreted, ~5x slower). NULL-signature rows (no shingles)
    are dropped: they never pair.

    Raises ``ValueError`` unless ``1 <= bands <= num_perm``: with more
    bands than permutations each band slice is empty, so every document
    would hash into the same bucket and all but the min id would drop."""
    if not 1 <= bands <= num_perm:
        raise ValueError(
            f"minhash banding needs 1 <= bands <= num_perm, got bands={bands} "
            f"with num_perm={num_perm}: an empty band slice puts every "
            "document in one bucket"
        )
    rows_per_band = num_perm // bands
    carried = [c for c in with_sig.columns if c != "__sig"]
    exploded = with_sig.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("__band_idx")
    )
    return exploded.select(
        *carried,
        "__band_idx",
        F.md5(
            F.concat(
                F.col("__band_idx").cast("string"),
                F.lit("|"),
                F.array_join(
                    F.transform(
                        F.slice(F.col("__sig"), F.col("__band_idx") * rows_per_band + 1, rows_per_band),
                        lambda v: v.cast("string"),
                    ),
                    ",",
                ),
            )
        ).alias("__band_hash"),
    ).filter(F.col("__band_hash").isNotNull())


def _under_cap(banded: DataFrame, bucket_cap: int | None) -> DataFrame:
    """Block stage, the one over-cap filter: ``banded`` without the rows of
    any bucket holding more than ``bucket_cap`` members (unchanged when
    ``bucket_cap`` is None). A bucket that large is boilerplate mass, not
    near-dup signal — measured on the sf10 synthetic tier, uncapped hot
    buckets drove 185M candidate pairs of which 99.99% failed exact
    verification, candidate volume quadratic in corpus size. Capping the
    side the candidates multiply against bounds the join linearly in the
    other side. Recall cost: a true pair is missed only if EVERY band it
    collides on is over-cap, i.e. the doc is template-saturated — the
    regime SCALE.md says to template-strip first. The cap changes candidate
    generation only, never verification."""
    if bucket_cap is None:
        return banded
    sizes = banded.groupBy("__band_idx", "__band_hash").agg(F.count(F.lit(1)).alias("__bc"))
    return banded.join(
        sizes.filter(F.col("__bc") <= bucket_cap).select("__band_idx", "__band_hash"),
        ["__band_idx", "__band_hash"],
    )


def _sig_band_pairs(
    with_sig: DataFrame, num_perm: int, bands: int, distinct: bool = True
) -> DataFrame:
    """Candidate stage inside one corpus: ``(id_a, id_b)`` pairs of each
    bucket member with the bucket's min-id representative, from an
    ``(__id, __sig)`` frame.

    ``distinct=False`` skips the pair dedup exchange: callers whose
    downstream already collapses duplicates (the dedup operators distinct
    the LOSER ids) save a shuffle; a pair then appears once per shared band
    (~1.3x rows), which the memoized verification absorbs for less than the
    exchange cost.
    """
    from instructionspipe_spark.session import managed_persist

    # The two-phase representative min below reads the banded frame TWICE
    # (groupBy branch + join-back branch). Persist BANDED, not just the
    # signature frame: re-deriving banded per branch re-runs the explode +
    # per-row md5 over docs x bands rows, which the skew A/B (SKEW.md)
    # measured as the bulk of the two-phase constant factor. Banded is
    # narrow — (id, band_idx, 32-char hash) ~60 B/row — so caching it costs
    # far less than the corpus text it came from (MEMORY_AND_DISK default).
    banded = managed_persist(_banded_frame(with_sig, num_perm, bands))
    # Two-phase min, NOT a window: Window.partitionBy(band, hash) puts every
    # row of a hot bucket on ONE task — a boilerplate-heavy corpus with
    # millions of identical signatures makes that a straggler no AQE can
    # split. groupBy.min gets a map-side partial aggregate (the hot bucket
    # collapses to one row per input task before the exchange), and the
    # join-back is a plain shuffle join AQE's skew handling CAN split.
    reps = banded.groupBy("__band_idx", "__band_hash").agg(F.min("__id").alias("__min_id"))
    pairs = (
        banded.join(reps, ["__band_idx", "__band_hash"])
        .filter(F.col("__id") > F.col("__min_id"))
        .select(F.col("__min_id").alias("id_a"), F.col("__id").alias("id_b"))
    )
    return pairs.distinct() if distinct else pairs


def _cross_pairs(big: DataFrame, small: DataFrame, big_id: str, small_id: str) -> DataFrame:
    """Candidate stage across two sides: ``(big_id, small_id)`` for every
    bucket the two banded frames share. The big side streams once through
    one equi-join on ``(band_idx, band_hash)`` against the small side
    (stats-gated broadcast, so an outgrown small side degrades to a
    sort-merge join instead of a driver OOM); pairs within one side are
    never formed."""
    from instructionspipe_spark.session import broadcast_if_small

    small = small.select(F.col("__id").alias("__small_id"), "__band_idx", "__band_hash")
    return (
        big.join(broadcast_if_small(small), ["__band_idx", "__band_hash"])
        .select(F.col("__id").alias(big_id), F.col("__small_id").alias(small_id))
        .distinct()
    )


def _jaccard_verified(
    pairs: DataFrame,
    a: tuple[DataFrame, str, str],
    b: tuple[DataFrame, str, str],
    ngram: int,
    threshold: float | None = None,
) -> DataFrame:
    """Verify stage: ``pairs``' two id columns, in order, joined to side
    ``a`` and side ``b`` — each ``(frame, id_col, text_col)`` — and scored
    by the Arrow n-gram Jaccard of their normalized texts, rounded to 6
    digits (the value every consumer and oracle compares). With
    ``threshold``, only pairs scoring ``>= threshold`` remain. Returns
    ``(<pair column a>, <pair column b>, jaccard)``.

    Verification joins the (small) pair frame back to the TEXT, not to
    precomputed shingle arrays: a shingle array is ~10x the text it came
    from, so shuffling/persisting it loses to re-deriving shingle sets
    inside the kernel, which memoizes them per batch. The pair frame is
    bounded by the near-duplicate count, so AQE picks a broadcast join and
    the corpus side streams. A side frame passed through
    ``broadcast_if_small`` keeps its hint through the projection."""
    col_a, col_b = pairs.columns

    def normalized(side: tuple[DataFrame, str, str], key: str, alias: str) -> DataFrame:
        frame, id_col, text_col = side
        return frame.select(F.col(id_col).alias(key), shingle_normalize(F.col(text_col)).alias(alias))

    scored = (
        pairs.join(normalized(a, col_a, "__ta"), col_a)
        .join(normalized(b, col_b, "__tb"), col_b)
        .select(
            col_a,
            col_b,
            F.round(_jaccard_kernel(ngram)(F.col("__ta"), F.col("__tb")), 6).alias("jaccard"),
        )
    )
    return scored if threshold is None else scored.filter(F.col("jaccard") >= F.lit(threshold))


# ---------------------------------------------------------------------------
# Resolve inside one corpus
# ---------------------------------------------------------------------------


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 16,
    bands: int = 4,
    ngram: int = 3,
) -> DataFrame:
    """Candidate near-duplicate pairs ``(id_a < id_b)`` sharing >= 1 LSH band.

    Each bucket member is paired with the bucket's min-id representative
    only — |bucket|-1 pairs instead of the all-pairs |bucket|^2/2. This is
    the property that keeps near-dedup alive at 100 TB: boilerplate-heavy
    corpora produce mega-buckets (5k synthetic docs already yield 2.9M
    all-pairs candidates), and representative pairing makes candidate count
    linear in input size while still dropping every bucket member that
    verifies against the representative. Plan shape: narrow projection ->
    persist (__id, __band_idx, __band_hash) -> two-phase min over
    (band_idx, band_hash) (map-side partial agg + AQE-splittable join-back;
    skew-immune, see _sig_band_pairs) -> filter.

    Persist lifecycle: intermediates are cached via
    ``session.managed_persist`` and freed by the NEXT registry-query build;
    direct library callers in a long-lived session should wrap calls in
    ``session.persist_scope()`` (or call ``release_persisted()``) after
    consuming the result.
    """
    from instructionspipe_spark.session import ensure_parallelism

    df = ensure_parallelism(df)
    return _sig_band_pairs(_signed(df, id_col, text_col, num_perm, ngram), num_perm, bands)


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 16,
    bands: int = 4,
    ngram: int = 3,
    threshold: float | None = None,
) -> DataFrame:
    """Drop near-duplicates: for every candidate pair (optionally verified at
    ``jaccard >= threshold``, the 6-digit-rounded score), the row with the
    larger id is removed. The survivor choice (min id) replaces the
    reference's insertion-order rule with a deterministic one. Left-anti
    join keeps the plan shuffle-minimal.

    Persist lifecycle: intermediates are cached via
    ``session.managed_persist`` and freed by the NEXT registry-query build;
    direct library callers in a long-lived session should wrap calls in
    ``session.persist_scope()`` (or call ``release_persisted()``) after
    consuming the result.
    """
    from instructionspipe_spark.session import ensure_parallelism

    df = ensure_parallelism(df)
    # distinct=False: the loser-id set is distinct'd below, so deduping the
    # pair frame here would only add an exchange.
    pairs = _sig_band_pairs(
        _signed(df, id_col, text_col, num_perm, ngram), num_perm, bands, distinct=False
    )
    if threshold is not None:
        side = (df, id_col, text_col)
        pairs = _jaccard_verified(pairs, side, side, ngram, threshold)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def _lsh_greedy_filter(membership: DataFrame, most_dup: int, id_type) -> DataFrame:
    """Losers of the reference's sequential LSH-index greedy
    (``etl_slimpajama_dc_proc.py:147-158``) over a ``(__id, __bucket)``
    membership frame: processing ids ASCENDING, a doc is dropped when more
    than ``most_dup`` previously-KEPT docs share >= 1 bucket with it;
    kept docs are inserted into the index, dropped docs are not.

    Distribution strategy: decisions only interact within a connected
    component of the bucket-sharing graph, so components run in parallel
    and only the (bounded, near-dup-sized) component itself is sequential.
    Components are ``graph.connected_components`` over the bucket-STAR
    edges (member <-> bucket-min representative — linear in membership,
    same connectivity as the all-pairs graph, no quadratic pair
    materialization), labeled by min node id. Sweeps are bounded by
    component diameter — near-dup clusters are bucket-stars, so 2-3 in
    practice.

    Returns a 1-column frame ``__loser`` of dropped ids."""
    from instructionspipe_spark.operators.graph import connected_components
    from instructionspipe_spark.session import managed_persist

    membership = membership.select("__id", "__bucket").distinct()
    reps = membership.groupBy("__bucket").agg(
        F.min("__id").alias("__rep"), F.count(F.lit(1)).alias("__n")
    )
    # singleton buckets contribute no neighbors: drop them before anything
    mem = managed_persist(
        membership.join(reps.filter(F.col("__n") >= 2).select("__bucket", "__rep"), "__bucket")
    )
    star = mem.filter(F.col("__id") != F.col("__rep"))
    labels = connected_components(star, "__rep", "__id", max_iter=50)

    grouped = mem.select("__id", "__bucket").join(
        labels.select(F.col("node").alias("__id"), F.col("component").alias("__comp")), "__id"
    )
    out_schema = T.StructType([T.StructField("__loser", id_type)])
    K = int(most_dup)

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        kept_by_bucket: dict = {}
        dropped = []
        for doc_id, grp in pdf.groupby("__id", sort=True):
            nbrs: set = set()
            buckets = grp["__bucket"].unique()
            for b in buckets:
                s = kept_by_bucket.get(b)
                if s:
                    nbrs.update(s)
            if len(nbrs) <= K:
                for b in buckets:
                    kept_by_bucket.setdefault(b, set()).add(doc_id)
            else:
                dropped.append(doc_id)
        return pd.DataFrame({"__loser": pd.Series(dropped, dtype=pdf["__id"].dtype)})

    return grouped.groupBy("__comp").applyInPandas(greedy, schema=out_schema)


def minhash_lsh_dedup_most_dup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    most_dup: int = 0,
    num_perm: int = 16,
    bands: int = 4,
    ngram: int = 3,
) -> DataFrame:
    """MinHash-LSH near-dedup with the reference's ``most_dup`` knob
    (``etl_slimpajama_dc_proc.py:147-158``): accept a doc while at most
    ``most_dup`` previously-kept docs share an LSH bucket with it —
    exact insertion-order greedy semantics under ascending ``id_col``
    (the reference's file order; dropped docs never enter the index, so a
    doc whose only matches were themselves dropped survives).

    This is the faithful-semantics sibling of :func:`minhash_lsh_dedup`
    (which uses order-free pair-drop semantics and optional exact-jaccard
    verification): candidates here are banding-only, exactly like the
    reference's ``MinHashLshManagement.query_with_n_grams``. Scale shape:
    linear bucket membership (no pair materialization), per-component
    sequential greedy via ``applyInPandas`` — component size is the bound,
    and a boilerplate-heavy corpus should strip templates first (SCALE.md)
    exactly as for every banded dedup here."""
    from instructionspipe_spark.session import ensure_parallelism

    df = ensure_parallelism(df)
    # __band_hash already folds the band index into the md5, so it IS the
    # bucket key (same construction as the DuckDB oracle's bucket).
    banded = _banded_frame(_signed(df, id_col, text_col, num_perm, ngram), num_perm, bands)
    losers = _lsh_greedy_filter(
        banded.select("__id", F.col("__band_hash").alias("__bucket")),
        most_dup,
        df.schema[id_col].dataType,
    )
    return df.join(
        losers.select(F.col("__loser").alias(id_col)), id_col, "left_anti"
    )


def lsh_bucket_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 16,
    bands: int = 4,
    ngram: int = 3,
    top_k: int = 10,
) -> DataFrame:
    """LSH health check: the ``top_k`` largest band buckets with their
    member counts — run BEFORE a near-dedup pass to spot mega-buckets (a
    bucket holding 30% of the corpus means boilerplate that deserves
    template stripping / word_block_dedup first, and predicts where the
    two-phase representative election will be earning its keep).

    Output: ``(band_idx, band_hash, n_docs, rank)``; rank orders buckets
    within each band by size desc (ties by hash asc).

    Scale shape: the same single banding pass the dedup operators run, then
    ONE count aggregation with map-side partials (the mega-bucket itself
    collapses per task) over (band, hash); the per-band top-k window is
    rank-limited, so Spark's WindowGroupLimit keeps each map task to k rows
    per band before the exchange.
    """
    from instructionspipe_spark.session import ensure_parallelism

    d = ensure_parallelism(df)
    banded = _banded_frame(_signed(d, id_col, text_col, num_perm, ngram), num_perm, bands)
    sizes = banded.groupBy("__band_idx", "__band_hash").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    w = Window.partitionBy("__band_idx").orderBy(F.desc("n_docs"), F.asc("__band_hash"))
    return (
        sizes.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(
            F.col("__band_idx").alias("band_idx"),
            F.col("__band_hash").alias("band_hash"),
            "n_docs",
            "rank",
        )
    )


# ---------------------------------------------------------------------------
# Resolve across two sides: decontamination and incremental admission
# ---------------------------------------------------------------------------


def cross_corpus_near_dups(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    eval_id_col: str | None = None,
    eval_text_col: str | None = None,
    num_perm: int = 16,
    bands: int = 4,
    ngram: int = 3,
    threshold: float = 0.5,
    bucket_cap: int | None = DEFAULT_EVAL_BUCKET_CAP,
) -> DataFrame:
    """Fuzzy decontamination: (corpus_id, eval_id, jaccard) for every
    corpus row whose text is a MinHash near-duplicate (``jaccard >=
    threshold``) of an eval/benchmark row — the fuzzy complement of the
    exact n-gram ``contamination_screen`` (which misses lightly edited or
    truncated contamination).

    ``bucket_cap`` (DEFAULT ON since r11 at
    :data:`DEFAULT_EVAL_BUCKET_CAP`; pass ``bucket_cap=None`` for the
    faithful uncapped reference semantics) is this operator's instance of
    the hot-bucket
    law (r10 probe: alpha 1.27 over sf1 -> sf10 on the template-heavy
    synthetic, same class as incremental_minhash_dedup's measured r9 law):
    an EVAL-side banding bucket holding more than ``cap`` eval rows is
    boilerplate mass (benchmark headers, shared prompt templates), and
    every corpus row colliding with it fans out cap+ candidates. Capping
    the EVAL side — the side the candidates multiply against — bounds
    candidate volume at cap x |corpus banded rows|: LINEAR in corpus size
    no matter how hot the corpus's own buckets are, which is the side a
    decontamination run cannot control. Recall: a contaminated pair is
    missed only if every band it collides on is over-cap on the EVAL side,
    i.e. the benchmark row is itself template-saturated — strip benchmark
    boilerplate first (SCALE.md cap-selection rule).

    Scale contract mirrors contamination_screen: the eval side is SMALL
    (benchmarks are thousands of rows, the corpus is billions), so its
    banded frame broadcasts and the corpus streams through one equi-join on
    (band_idx, band_hash) — candidates only ACROSS sides, never the
    corpus-vs-corpus pair explosion. Verification is one Arrow jaccard per
    candidate, bounded by the true contamination count. The broadcast is
    STATS-GATED (``broadcast_if_small``), not forced: a user decontaminating
    against an eval side that outgrew the session broadcast threshold gets a
    sort-merge join, not a driver OOM.

    Persist lifecycle: intermediates are cached via
    ``session.managed_persist`` and freed by the NEXT registry-query build;
    direct library callers in a long-lived session should wrap calls in
    ``session.persist_scope()`` (or call ``release_persisted()``) after
    consuming the result.
    """
    from instructionspipe_spark.session import (
        broadcast_if_small,
        ensure_parallelism,
        managed_persist,
    )

    eval_id_col = eval_id_col or id_col
    eval_text_col = eval_text_col or text_col
    corpus = ensure_parallelism(corpus)
    cb = _banded_frame(_signed(corpus, id_col, text_col, num_perm, ngram), num_perm, bands)
    # Persisted: with a cap, the bucket census and the candidate join both
    # read the eval signatures.
    eval_sig = managed_persist(_signed(eval_df, eval_id_col, eval_text_col, num_perm, ngram))
    eb = _under_cap(_banded_frame(eval_sig, num_perm, bands), bucket_cap)
    pairs = _cross_pairs(cb, eb, "corpus_id", "eval_id")
    return _jaccard_verified(
        pairs,
        (corpus, id_col, text_col),
        (broadcast_if_small(eval_df), eval_id_col, eval_text_col),
        ngram,
        threshold,
    )


def minhash_band_store(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 16,
    bands: int = 4,
    ngram: int = 3,
) -> DataFrame:
    """The persistable MinHash-LSH signature store: one ``(__id, __band_idx,
    __band_hash)`` row per (document, band). This is the frame a 100 TB
    pipeline writes to parquet ONCE per corpus and appends per increment, so
    :func:`incremental_minhash_dedup` never re-signs the accumulated corpus
    — each nightly batch pays signatures only for its own rows plus one
    streamed equi-join against the store. NULL-signature docs (no shingles)
    are absent by construction: they never pair.

    The signing parameters are stamped into the output as constant columns
    (``__num_perm``, ``__bands``, ``__ngram``): band hashes from different
    parameterizations are incompatible — joining them yields zero candidates
    SILENTLY — so consumers (:func:`incremental_minhash_dedup`) verify the
    stamp in-plan and raise instead of admitting every batch row."""
    return _banded_frame(_signed(df, id_col, text_col, num_perm, ngram), num_perm, bands).select(
        "*",
        F.lit(num_perm).cast("int").alias("__num_perm"),
        F.lit(bands).cast("int").alias("__bands"),
        F.lit(ngram).cast("int").alias("__ngram"),
    )


def _validated_band_store(
    store: DataFrame, num_perm: int, bands: int, ngram: int
) -> DataFrame:
    """Verify a band store's stamped signing parameters match the consumer's,
    in-plan: a mismatched store joins on incompatible band hashes and yields
    zero candidates SILENTLY (every batch row admitted as kept=true), so the
    check is a ``raise_error`` wrapped around the join key — distributed, no
    extra action, fails the job on the first mismatched row. Pre-stamp stores
    (no ``__num_perm`` column) pass through unchecked for compatibility; the
    result carries only the join/identity columns either way."""
    if "__num_perm" not in store.columns:
        return store
    # eqNullSafe, not ==: a NULL stamp under plain equality makes stamp_ok
    # NULL, ~NULL is NULL, and when() falls through to otherwise — the
    # corrupt row would pass validation silently, the exact failure mode
    # this check exists to kill. Null-safe equality makes NULL != literal.
    stamp_ok = (
        F.col("__num_perm").eqNullSafe(F.lit(num_perm))
        & F.col("__bands").eqNullSafe(F.lit(bands))
        & F.col("__ngram").eqNullSafe(F.lit(ngram))
    )
    msg = (
        "minhash band store parameter mismatch: store was signed with "
        "different (num_perm, bands, ngram) than this consumer expects "
        f"(num_perm={num_perm}, bands={bands}, ngram={ngram}); band hashes "
        "are incompatible and would silently produce zero candidates"
    )
    return store.select(
        "__id",
        "__band_idx",
        F.when(~stamp_ok, F.raise_error(F.lit(msg)))
        .otherwise(F.col("__band_hash"))
        .alias("__band_hash"),
    )


def incremental_minhash_dedup(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    batch_id_col: str | None = None,
    batch_text_col: str | None = None,
    num_perm: int = 16,
    bands: int = 4,
    ngram: int = 3,
    threshold: float = 0.5,
    corpus_store: DataFrame | None = None,
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Incremental near-dedup: admit a NEW batch against an accumulated
    corpus. One row per batch record — ``(batch_id, dup_of, jaccard,
    kept)`` where ``dup_of`` is the best-matching corpus id (max verified
    jaccard, min id on ties — deterministic in any engine via the
    pre-rounded score), NULL + ``kept=true`` when no corpus row clears
    ``threshold``. The reference dedups only whole static corpora
    (``apps/etl/etl_slimpajama_dc_proc.py``); incremental admission is what
    a continuously-crawling 100 TB pipeline actually runs nightly.

    Scale shape: the CORPUS side is the big one and streams exactly once —
    through one equi-join on ``(band_idx, band_hash)`` against the batch's
    banded frame (stats-gated broadcast). Pass ``corpus_store`` (a persisted
    :func:`minhash_band_store` frame read back from parquet) and the corpus
    text is never re-signed; verification re-reads only the candidate
    corpus rows. Candidates exist only ACROSS sides — batch-vs-batch and
    corpus-vs-corpus pairs are never formed. Best-match election is a
    two-phase ``groupBy.max`` on a ``(jaccard, -id)`` struct (map-side
    combine; a hot batch row matching millions of boilerplate corpus rows
    collapses per input task, never on one window task).

    ``bucket_cap`` defaults ON (:data:`DEFAULT_BUCKET_CAP` — the scale-safe
    production shape; the r9/r10 probes measured the uncapped join alpha
    ~1.4 over sf1 -> sf10 on template-heavy corpora). Pass
    ``bucket_cap=None`` for the faithful uncapped reference semantics.

    Persist lifecycle: the batch signature frame is cached via
    ``session.managed_persist`` and freed by the NEXT registry-query build;
    direct library callers in a long-lived session should wrap calls in
    ``session.persist_scope()`` (or call ``release_persisted()``) after
    consuming the result.
    """
    from instructionspipe_spark.session import (
        broadcast_if_small,
        ensure_parallelism,
        managed_persist,
    )

    batch_id_col = batch_id_col or id_col
    batch_text_col = batch_text_col or text_col
    corpus = ensure_parallelism(corpus)
    if corpus_store is None:
        corpus_store = minhash_band_store(
            corpus, id_col, text_col, num_perm=num_perm, bands=bands, ngram=ngram
        )
    corpus_store = _under_cap(_validated_band_store(corpus_store, num_perm, bands, ngram), bucket_cap)
    batch_sig = managed_persist(_signed(batch, batch_id_col, batch_text_col, num_perm, ngram))
    pairs = _cross_pairs(corpus_store, _banded_frame(batch_sig, num_perm, bands), "corpus_id", "batch_id")
    verified = _jaccard_verified(
        pairs,
        (corpus, id_col, text_col),
        (broadcast_if_small(batch), batch_id_col, batch_text_col),
        ngram,
        threshold,
    )
    best = verified.groupBy("batch_id").agg(
        F.max(F.struct(F.col("jaccard"), (-F.col("corpus_id")).alias("__neg_id"))).alias("__m")
    )
    return (
        batch.select(F.col(batch_id_col).alias("batch_id"))
        .join(best, "batch_id", "left")
        .select(
            F.col("batch_id").alias(batch_id_col),
            (-F.col("__m.__neg_id")).alias("dup_of"),
            F.col("__m.jaccard").alias("jaccard"),
            F.col("__m").isNull().alias("kept"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(text: Column, bits: int = 32, ngram: int = 3) -> Column:
    """SimHash fingerprint as a BIGINT built from ``bits`` bit-votes.

    Each distinct shingle contributes +1/-1 per bit of its 48-bit base hash;
    the fingerprint bit is 1 when the vote sum is positive. One md5 per
    shingle, then one vectorized vote reduction in the Arrow kernel —
    per-row computation, no shuffle, mirrored in SQL with ``>>`` and ``%``.

    Empty shingle sets (text shorter than ``ngram``, empty, or NULL) yield a
    NULL fingerprint, NOT 0 — an all-zero fingerprint would silently collapse
    every short-but-different document into one dedup survivor. NULL rows
    pass through both dedup operators untouched (the same contract as the
    NULL MinHash signature); run the low-length filter (P5) first to drop
    them explicitly.
    """
    if not 1 <= bits <= 48:
        raise ValueError(
            f"simhash bits={bits}: the per-shingle base hash is 48-bit "
            "(md5 slice, see base_hash48), so fingerprints support at most "
            "48 voted bit positions"
        )
    return _simhash_kernel(bits, ngram)(shingle_normalize(text))


def simhash_dedup(
    df: DataFrame, id_col: str, text_col: str, bits: int = 32, ngram: int = 3
) -> DataFrame:
    """Exact-fingerprint SimHash dedup: rows with identical simhash collapse
    to the min-id survivor. (Hamming-radius matching: simhash_near_dedup.)"""
    from instructionspipe_spark.session import ensure_parallelism

    df = ensure_parallelism(df)
    with_fp = df.withColumn("__fp", simhash(F.col(text_col), bits=bits, ngram=ngram))
    # NULL fingerprints (sub-ngram texts) are not comparable: they pass
    # through; only rows with a real fingerprint deduplicate.
    nulls = with_fp.filter(F.col("__fp").isNull()).drop("__fp")
    deduped = exact_dedup(with_fp.filter(F.col("__fp").isNotNull()), ["__fp"], [id_col]).drop("__fp")
    return deduped.unionByName(nulls)


def simhash_band_buckets(fp: Column, bands: int, bits_per_band: int) -> Column:
    """LSH over fingerprint bits: array of ``bands`` integer buckets, band b
    = bits [b*bits_per_band, (b+1)*bits_per_band) of the fingerprint."""
    mask = (1 << bits_per_band) - 1
    return F.array(
        *[F.shiftright(fp, b * bits_per_band).bitwiseAND(F.lit(mask)) for b in range(bands)]
    )


def simhash_near_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 32,
    bands: int = 4,
    radius: int = 3,
    ngram: int = 3,
) -> DataFrame:
    """Hamming-radius SimHash near-dedup: docs whose fingerprints differ in
    <= ``radius`` bits collapse to the min-id survivor.

    LSH on bit-bands: a pair within ``radius`` differing bits has, by
    pigeonhole, at least one of ``bands`` bands fully intact whenever
    ``radius < bands`` — so candidate recall is EXACT (no false negatives),
    unlike MinHash banding which is probabilistic. Candidates pair each
    bucket member with the bucket's min-id representative (linear in bucket
    size, same scale guarantee as minhash_lsh_candidates); verification is
    one ``bit_count(xor)`` per pair. Plan: per-row fingerprint kernel ->
    explode ``bands`` ints -> one shuffle on (band, bucket) -> popcount
    filter -> left-anti join.

    Replaces the reference's order-dependent in-memory near-dedup
    (``apps/etl/etl_slimpajama_dc_proc.py:116-158``) with a deterministic,
    shuffle-bounded formulation.

    Persist lifecycle: intermediates are cached via
    ``session.managed_persist`` and freed by the NEXT registry-query build;
    direct library callers in a long-lived session should wrap calls in
    ``session.persist_scope()`` (or call ``release_persisted()``) after
    consuming the result.
    """
    if radius >= bands:
        raise ValueError(
            f"simhash_near_dedup needs radius < bands for exact recall "
            f"(pigeonhole), got radius={radius}, bands={bands}"
        )
    from instructionspipe_spark.session import ensure_parallelism, managed_persist

    bits_per_band = bits // bands
    # Persisted: the two-phase representative min reads the banded frame
    # twice (groupBy + join-back); caching (id, fp) — 16 bytes/doc — keeps
    # the simhash kernel single-pass. (Unlike the minhash path, banding
    # here is a bit-shift per row, so persisting dfp rather than the
    # bands-times-larger banded frame is the right trade.)
    #
    # Constant pinned (r5 A/B at sf0.1, 5-rep medians, release between runs):
    # persist-dfp 0.98 s ≈ persist-banded 0.94 s ≈ dfp+broadcast-reps 1.00 s
    # ≈ both 1.01 s — placement is inside noise, no accidental
    # double-materialization. The Arrow fingerprint kernel alone is 0.31 s;
    # the rest is band-shuffle + join-back + anti-join. The old window
    # formulation REBUILT under the same harness measures 1.47 s — the r3
    # "0.72 s" it was compared against was a last-warm-run sample, not a
    # cold-build median, so the reported r4 regression was methodology; the
    # shipped two-phase path is faster locally AND skew-safe (SKEW.md).
    dfp = managed_persist(
        ensure_parallelism(df).select(
            F.col(id_col).alias("__id"),
            simhash(F.col(text_col), bits=bits, ngram=ngram).alias("__fp"),
        )
    )
    # NB: no isNotNull prefilter on __fp — Catalyst would push it through
    # the projection by SUBSTITUTING the whole fingerprint expression into
    # the predicate (recomputing it per row, 6x measured). NULL-fp rows are
    # harmless: their pairs fail the bit_count(xor) predicate (NULL), so
    # they never lose.
    banded = dfp.select(
        "__id",
        "__fp",
        F.posexplode(simhash_band_buckets(F.col("__fp"), bands, bits_per_band)).alias(
            "__band_idx", "__bucket"
        ),
    )
    # Two-phase min (groupBy partial agg + join-back) instead of a window:
    # same skew rationale as _sig_band_pairs — a bucket holding millions of
    # identical fingerprints must not land on a single window task.
    reps = banded.groupBy("__band_idx", "__bucket").agg(
        F.min(F.struct("__id", "__fp")).alias("__rep")
    )
    pairs = (
        banded.join(reps, ["__band_idx", "__bucket"])
        .filter(F.col("__id") > F.col("__rep.__id"))
        .filter(
            F.bit_count(F.col("__fp").bitwiseXOR(F.col("__rep.__fp"))) <= F.lit(radius)
        )
        .select(F.col("__id").alias(id_col))
        .distinct()
    )
    return df.join(pairs, id_col, "left_anti")


# ---------------------------------------------------------------------------
# N-gram Jaccard pairs + embedding near-dup
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str | None = None,
    min_jaccard: float = 0.0,
    ngram: int = 3,
) -> DataFrame:
    """All pairs (id_a < id_b) with their n-gram Jaccard similarity.

    ``block_col`` is the blocking key (only rows sharing it are compared) —
    mandatory at scale; the unblocked form is O(n^2) and only for tests.
    """
    from instructionspipe_spark.session import ensure_parallelism

    df = ensure_parallelism(df)
    sh = df.select(
        F.col(id_col).alias("__id"),
        *( [F.col(block_col).alias("__blk")] if block_col else [] ),
        F.array_distinct(char_ngrams(F.col(text_col), n=ngram)).alias("__sh"),
    ).withColumn("__n", F.size("__sh"))
    # The pair stage is O(block^2) BY DESIGN (jaccard_pairs_lsh is the
    # linear scale path); what matters is the constant and the spread.
    # |union| = |A| + |B| - |intersection| over distinct arrays, so one
    # array_intersect replaces intersect+union (the union built a second
    # hash set per candidate pair — measured ~2x on the sf0.1 en block).
    # The min_jaccard filter deliberately stays a post-join Filter Catalyst
    # pushes into the join condition; the division semantics (double
    # compare, not a cleared-denominator integer form) must match the
    # oracle's exactly.
    a, b = sh.alias("a"), sh.alias("b")
    cond = F.col("a.__id") < F.col("b.__id")
    if block_col:
        cond = cond & (F.col("a.__blk") == F.col("b.__blk"))
    inter = F.size(F.array_intersect(F.col("a.__sh"), F.col("b.__sh")))
    union = F.col("a.__n") + F.col("b.__n") - inter
    jac = F.when(
        union > 0, inter.cast("double") / union.cast("double")
    )
    return (
        a.join(b, cond)
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= F.lit(min_jaccard))
    )


def word_ngram_hash_ids(
    df: DataFrame, id_col: str, text_col: str, ngram_words: int = 5
) -> DataFrame:
    """Distinct word-``n``-gram 48-bit hashes per document: (id, __h) rows.

    The contamination-screen primitive. Expression-only, and shaped for the
    interpreted-Generate trap: the explode input is the cheap position
    sequence; the n-gram string (concat over a token slice) and its hash
    are computed AFTER the explode, inside codegen. Shuffle cost is one
    distinct on (id, hash) — 8-byte keys, uniform."""
    from instructionspipe_spark.functions.text import shingle_normalize
    from instructionspipe_spark.session import ensure_parallelism

    df = ensure_parallelism(df)
    toks = F.filter(F.split(shingle_normalize(F.col(text_col)), " "), lambda t: t != "")
    cnt = F.size(F.col("__toks"))
    # sequence(1, 0) is DESCENDING [1, 0], not empty — guard short docs.
    seq = F.when(
        cnt >= ngram_words, F.sequence(F.lit(1), cnt - F.lit(ngram_words - 1))
    ).otherwise(F.array().cast("array<int>"))
    exploded = (
        df.select(F.col(id_col), toks.alias("__toks"))
        .select(F.col(id_col), F.col("__toks"), F.explode(seq).alias("__i"))
    )
    gram = F.concat_ws(" ", F.slice(F.col("__toks"), F.col("__i"), ngram_words))
    return exploded.select(F.col(id_col), base_hash48(gram).alias("__h")).distinct()


def contamination_screen(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram_words: int = 5,
    min_shared: int = 3,
) -> DataFrame:
    """Train/eval contamination screen: for every (train doc, eval doc)
    pair, count the distinct word-n-grams they share; report pairs at or
    above ``min_shared`` — the standard pre-training hygiene check that a
    benchmark's text leaked into the corpus.

    Scale shape: the eval side is benchmarks (tiny vs a 100 TB corpus), so
    its hash set broadcasts; the corpus streams through one equi-join on
    the 8-byte n-gram hash, then one aggregate keyed by the (train, eval)
    pair — bounded by true overlap, never corpus x eval. The broadcast is
    stats-gated (``broadcast_if_small``): an eval side over the session
    threshold degrades to a sort-merge join instead of a driver OOM."""
    from instructionspipe_spark.session import broadcast_if_small

    t = word_ngram_hash_ids(train, id_col, text_col, ngram_words).withColumnRenamed(
        id_col, "train_id"
    )
    e = word_ngram_hash_ids(eval_df, id_col, text_col, ngram_words).withColumnRenamed(
        id_col, "eval_id"
    )
    return (
        t.join(broadcast_if_small(e), "__h")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def embedding_near_dup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    block_col: str | None = None,
) -> DataFrame:
    """Cosine near-duplicate pairs over an embedding column; keep-min-id
    dedup composes via a left-anti join exactly like minhash_lsh_dedup.
    At scale, block first (LSH / IVF bucket from operators.similarity).

    Vectors are unit-normalized per ROW before the pairwise join, so each
    pair costs one dot product — norms are never recomputed per pair."""
    from instructionspipe_spark.functions.vectors import dot_product, l2_normalize
    from instructionspipe_spark.session import ensure_parallelism

    df = ensure_parallelism(df)
    cols = [F.col(id_col).alias("__id"), l2_normalize(F.col(vec_col)).alias("__nv")]
    if block_col:
        cols.append(F.col(block_col).alias("__blk"))
    v = df.select(*cols)
    a, b = v.alias("a"), v.alias("b")
    cond = F.col("a.__id") < F.col("b.__id")
    if block_col:
        cond = cond & (F.col("a.__blk") == F.col("b.__blk"))
    return (
        a.join(b, cond)
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            dot_product(F.col("a.__nv"), F.col("b.__nv")).alias("cosine"),
        )
        .filter(F.col("cosine") >= F.lit(threshold))
    )


# ---------------------------------------------------------------------------
# Corpus-wide exact block dedup (C4-style)
# ---------------------------------------------------------------------------

def _word_block_frames(
    df: DataFrame, id_col: str, text_col: str, block_words: int
) -> tuple[DataFrame, DataFrame]:
    """Shared block machinery for word_block_dedup / template_block_strip:
    ``base`` = (__id, __w, __nb) per doc, ``hashed`` = (__id, __bi, __btext,
    __h) per block. Stage order per the Generate rule: explode the
    cheap block index, slice/concat/hash per exploded row in codegen.

    Survivor election downstream is min(struct(__id, __bi)) — lexicographic
    on the raw columns, so any orderable id type (long, string, decimal)
    works with no packed-key overflow at any id magnitude."""
    if block_words < 1:
        raise ValueError(f"word block dedup needs block_words >= 1, got {block_words}")
    from instructionspipe_spark.session import ensure_parallelism

    df = ensure_parallelism(df)
    words = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
    nb_raw = F.ceil(F.size("__w") / F.lit(block_words)).cast("long")
    base = df.select(F.col(id_col).alias("__id"), words.alias("__w")).select(
        "__id",
        "__w",
        nb_raw.alias("__nb"),
    )
    # sequence(0, -1) would be DESCENDING, not empty — guard zero-block docs.
    blocks = base.filter(F.col("__nb") > 0).select(
        "__id",
        "__w",
        F.explode(F.sequence(F.lit(0).cast("long"), F.col("__nb") - 1)).alias("__bi"),
    ).select(
        "__id",
        "__bi",
        F.concat_ws(
            " ", F.slice(F.col("__w"), (F.col("__bi") * block_words + 1).cast("int"), block_words)
        ).alias("__btext"),
    )
    hashed = blocks.select(
        "__id",
        "__bi",
        "__btext",
        F.md5(F.col("__btext")).alias("__h"),
    )
    return base, hashed


def _reassemble_blocks(base: DataFrame, kept: DataFrame, id_col: str) -> DataFrame:
    """Rebuild documents from surviving blocks in block order; docs whose
    every block was cut come back as ''."""
    reassembled = kept.groupBy("__id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__bi", "__btext"))),
                lambda s: s["__btext"],
            ),
            " ",
        ).alias("text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    return (
        base.select("__id", F.col("__nb").alias("n_blocks"))
        .join(reassembled, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce(F.col("text"), F.lit("")).alias("text"),
            "n_blocks",
            F.coalesce(F.col("n_kept"), F.lit(0).cast("long")).alias("n_kept"),
        )
    )


def word_block_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_words: int = 8,
) -> DataFrame:
    """C4-style corpus-wide exact block dedup: split each document into
    consecutive ``block_words``-word blocks; every block TEXT that occurs
    more than once in the corpus survives only at its FIRST occurrence
    (minimal ``(doc_id, block_idx)``) and is cut everywhere else; documents
    are reassembled from their surviving blocks in order.

    The C4 pipeline (Raffel et al. 2020, §2.2) does this at the
    three-sentence granularity; fixed word windows are the
    tokenizer/punctuation-free equivalent, deterministic across engines.

    Output: ``(id_col, text, n_blocks, n_kept)`` — ``text`` is the
    reassembled document ('' when every block was cut), ``n_blocks``/
    ``n_kept`` the before/after block counts (0 for empty/whitespace docs).

    Scale shape: explode cheap block INDEXES (the slice + join happens on
    exploded rows, in codegen, not under Generate); one shuffle keyed by the
    block md5 (uniform by construction); survivor election is the same
    two-phase groupBy-min + join-back as the LSH representatives — a
    boilerplate block occurring 10^9 times collapses map-side, never on one
    task; reassembly is one groupBy on the doc id. No pairwise anything.
    """
    base, hashed = _word_block_frames(df, id_col, text_col, block_words)
    # Two-phase first-occurrence election on min(struct(__id, __bi)):
    # partial-aggregates map-side like the packed-long variant, but is exact
    # for any orderable id type and cannot overflow at any id magnitude.
    first = hashed.groupBy("__h").agg(
        F.min(F.struct("__id", "__bi")).alias("__first")
    )
    kept = (
        hashed.join(first, "__h")
        .filter(
            (F.col("__id") == F.col("__first.__id"))
            & (F.col("__bi") == F.col("__first.__bi"))
        )
        .select("__id", "__bi", "__btext")
    )
    return _reassemble_blocks(base, kept, id_col)


def template_block_strip(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_words: int = 8,
    max_doc_frequency: int = 2,
) -> DataFrame:
    """Boilerplate template removal: cut every ``block_words``-word block
    whose text appears in MORE than ``max_doc_frequency`` distinct documents
    — headers, footers, cookie banners, licence blurbs — from EVERY
    document (no survivor, unlike :func:`word_block_dedup`'s
    first-occurrence rule: a block that common is template, not content).
    The action the ``frequent_ngrams`` / ``lsh_bucket_stats`` diagnostics
    point at; RefinedWeb/C4-style pipelines run exactly this before
    near-dedup so mega-buckets never form.

    Output: ``(id_col, text, n_blocks, n_kept)`` like word_block_dedup.

    Scale shape: same single block explode (cheap index first, slice+hash
    in codegen); the doc-frequency census is a two-level aggregate —
    distinct (block, doc) collapses map-side, then one count per block md5
    (uniform shuffle keys); the filter join is block-keyed, reassembly one
    groupBy on the doc id. A template block in 10^9 docs collapses per
    input task, never on one reducer.
    """
    base, hashed = _word_block_frames(df, id_col, text_col, block_words)
    freq = (
        hashed.select("__h", "__id")
        .distinct()
        .groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__df"))
    )
    kept = (
        hashed.join(freq, "__h")
        .filter(F.col("__df") <= max_doc_frequency)
        .select("__id", "__bi", "__btext")
    )
    return _reassemble_blocks(base, kept, id_col)


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int = 8,
    threshold: float = 0.92,
    round_digits: int = 6,
    trained: bool = False,
    seed: int = 42,
    max_iter: int = 10,
    assign_levels: int | None = None,
    super_probes: int = 2,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): embedding-space near-duplicate removal
    — cluster the corpus into ``n_cells`` coarse cells, form cosine pairs
    ONLY within a cell, and cut every vector that has a smaller-id neighbor
    above ``threshold`` (deterministic stand-in for the paper's
    keep-one-per-semantic-cluster rule; the reference has no embedding
    operators at all). This is the semantic complement to MinHash — it
    catches paraphrases and re-encodings that share no shingles.

    The cells are the ANN index's coarse quantizer
    (:func:`~instructionspipe_spark.operators.similarity.coarse_centroids`
    and :func:`~instructionspipe_spark.operators.similarity.assign_cells`):
    default seeded (cells = the ``n_cells`` lowest-id vectors; fully
    SQL-expressible, oracle-checkable) or ``trained=True`` (spherical
    KMeans — the production configuration); each vector goes to its one
    best cell by ROUND(cos, ``round_digits``), lowest cell id on ties.

    Output: one row per non-null-normalizable input vector —
    ``(id_col, cell, kept, dup_of, cosine)`` where ``dup_of`` is the
    smallest same-cell id above threshold (NULL + kept=true otherwise).

    Scale shape: pairs exist only WITHIN a cell (the SemDeDup design point:
    at 100 TB n_cells is ~1e5, cells are ~1e4 rows, so the within-cell
    pairwise is bounded while cross-cell pairs — overwhelmingly non-dups —
    are never formed); the cell assignment is a broadcast of n_cells
    centroids + a two-phase groupBy-min argmax (map-side combine, no
    window over the corpus); the loser election is the dedup family's
    two-phase ``groupBy(id_b).min(id_a)`` + one join back. Boundary pairs
    split across cells are missed by construction — the documented
    SemDeDup trade (raise n_cells overlap via a second clustering pass if
    that loss matters).

    ``assign_levels`` / ``super_probes`` choose flat or two-level
    routing (see ``assign_cells``); the default ``None`` routes two-level
    only when ``n_cells > FLAT_ASSIGN_MAX_CELLS``, so a naive caller at
    production cell counts gets the scale-safe plan while small-k callers
    keep the exactly-flat assignment. Two-level routing changes only the
    PARTITION at super-cell boundaries (the same documented SemDeDup
    boundary trade as n_cells), never the verified cosine of an emitted
    pair, and stays SQL-replayable (`semantic_dedup_two_level` oracle row).
    """
    from instructionspipe_spark.functions.vectors import dot_product, l2_normalize
    from instructionspipe_spark.operators.similarity import assign_cells, coarse_centroids
    from instructionspipe_spark.session import ensure_parallelism, managed_persist

    def unit(frame: DataFrame) -> DataFrame:
        return frame.select(
            F.col(id_col).alias("__id"), l2_normalize(F.col(vec_col)).alias("__nv")
        ).filter(F.col("__nv").isNotNull())

    v = unit(ensure_parallelism(df))
    # Trained cells are fitted on the input as it arrives (see coarse_centroids).
    cent = coarse_centroids(
        unit(df) if trained else v, "__id", "__nv", n_cells, trained, seed, max_iter
    )
    assigned = managed_persist(
        assign_cells(
            v, "__id", "__nv", cent, n_cells, 1, round_digits, assign_levels, super_probes
        ).select("__id", "__cell", "__nv")
    )
    a, b = assigned.alias("a"), assigned.alias("b")
    pairs = (
        a.join(b, (F.col("a.__cell") == F.col("b.__cell")) & (F.col("a.__id") < F.col("b.__id")))
        .select(
            F.col("a.__id").alias("__id_a"),
            F.col("b.__id").alias("__id_b"),
            F.round(dot_product(F.col("a.__nv"), F.col("b.__nv")), round_digits).alias("__cos"),
        )
        .filter(F.col("__cos") >= F.lit(threshold))
    )
    losers = pairs.groupBy("__id_b").agg(
        F.min(F.struct("__id_a", "__cos")).alias("__l")
    )
    return (
        assigned.join(losers, assigned["__id"] == losers["__id_b"], "left")
        .select(
            F.col("__id").alias(id_col),
            F.col("__cell").alias("cell"),
            F.col("__l").isNull().alias("kept"),
            F.col("__l.__id_a").alias("dup_of"),
            F.col("__l.__cos").alias("cosine"),
        )
    )


# ---------------------------------------------------------------------------
# Sliding-window (suffix-array-style) span dedup — Lee et al. 2021,
# "Deduplicating Training Data Makes Language Models Better"
# (arXiv:2107.06499). The paper's ExactSubstr dedup builds a suffix array,
# which does not distribute; the standard cluster-scale approximation is
# sliding k-token window hashing — every duplicated substring of >= k tokens
# is covered by at least one duplicated k-gram window, so removing
# repeated-window occurrences removes the long duplicated substrings the
# suffix array would find (plus a bounded fringe of < k-1 tokens).
# word_block_dedup (above) cuts NON-overlapping fixed blocks and misses any
# duplicate that straddles a block boundary at a different offset; the
# sliding window is offset-invariant.
# ---------------------------------------------------------------------------


def _span_frames(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> tuple[DataFrame, DataFrame]:
    """Shared sliding-span machinery: ``base`` = (__id, __w, __n) per doc,
    ``spans`` = (__id, __i, __h) per k-token window (1-based start position;
    __h = md5 of the space-joined window text). Stage order per the Generate
    rule: explode the cheap start INDEX, slice/join/hash per exploded row in
    codegen — never materialize the k-token strings under Generate.

    Hashing to a fixed-width md5 before the shuffle keeps the exchange
    payload bounded (32 hex chars) regardless of token lengths; md5 (not
    xxhash64) because the DuckDB oracle computes the identical digest, so
    parity is structural."""
    if k < 2:
        raise ValueError(
            f"span dedup: window size k ({k}) must be >= 2 — a 1-token "
            "window degenerates to exact token dedup"
        )
    from instructionspipe_spark.session import ensure_parallelism

    df = ensure_parallelism(df)
    words = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
    base = df.select(
        F.col(id_col).alias("__id"), words.alias("__w")
    ).select("__id", "__w", F.size("__w").cast("long").alias("__n"))
    # sequence(1, 0) would be DESCENDING, not empty — guard short docs.
    spans = (
        base.filter(F.col("__n") >= k)
        .select(
            "__id",
            "__w",
            F.explode(
                F.sequence(F.lit(1).cast("long"), F.col("__n") - (k - 1))
            ).alias("__i"),
        )
        .select(
            "__id",
            "__i",
            F.md5(
                F.concat_ws(" ", F.slice(F.col("__w"), F.col("__i").cast("int"), k))
            ).alias("__h"),
        )
    )
    # Both consumers read base twice (tokens + final length join) and spans
    # twice (first-occurrence election + dropper join). The plan trees
    # differ per branch so ReuseExchange never dedups them, and an
    # unpersisted spans re-slices and re-md5s every window per branch —
    # measured 4 scans and a 1.19 fourth-decade exponent at 5M docs
    # (persisting brings it to ~1.0). MEMORY_AND_DISK: the span frame is
    # fixed-width (id, i, 32-hex hash), so even a disk-spilled read beats
    # recomputing the window hash pass.
    from instructionspipe_spark.session import managed_persist

    return managed_persist(base), managed_persist(spans)


def span_dedup_stats(
    df: DataFrame, id_col: str, text_col: str, k: int = 12
) -> DataFrame:
    """Per-document duplicated-span census: for every document, how many of
    its sliding ``k``-token windows occur MORE than once in the corpus
    (counting all occurrences, intra-document repeats included — Lee et al.
    dedup any span occurring >= 2 times anywhere).

    Output: ``(id_col, n_spans, n_dup_spans, dup_frac)``; docs shorter than
    ``k`` tokens have 0 spans and dup_frac 0.0. Run this BEFORE
    :func:`span_dedup` to size the cut (the diagnostic-first pattern of
    lsh_bucket_stats).

    Scale shape: one explode of window indexes; the census is a groupBy on
    the span md5 — partial aggregation collapses a boilerplate span occurring
    10^9 times map-side, so the shuffle carries one row per DISTINCT span;
    the count joins back span-keyed (AQE handles residual skew), and the
    per-doc rollup is one groupBy on the doc id. No pairwise anything,
    no windows over hot keys.
    """
    base, spans = _span_frames(df, id_col, text_col, k)
    counts = spans.groupBy("__h").agg(F.count(F.lit(1)).alias("__c"))
    per_doc = (
        spans.join(counts, "__h")
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.when(F.col("__c") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_spans"),
        )
    )
    n_spans = F.coalesce(F.col("n_spans"), F.lit(0).cast("long"))
    n_dup = F.coalesce(F.col("n_dup_spans"), F.lit(0).cast("long"))
    return (
        base.select("__id")
        .join(per_doc, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            n_spans.alias("n_spans"),
            n_dup.alias("n_dup_spans"),
            F.round(
                F.when(n_spans == 0, F.lit(0.0)).otherwise(
                    n_dup.cast("double") / n_spans
                ),
                4,
            ).alias("dup_frac"),
        )
    )


def span_dedup(
    df: DataFrame, id_col: str, text_col: str, k: int = 12
) -> DataFrame:
    """Sliding-window exact span dedup: every ``k``-token window text that
    occurs more than once in the corpus survives only at its FIRST
    occurrence (minimal ``(doc_id, position)``); every token position
    covered by any other occurrence of a duplicated window is removed, and
    documents are reassembled from the surviving tokens in order.

    Deterministic masking rule (identical in the DuckDB oracle): a token
    position is cut iff it lies inside >= 1 non-first occurrence of a
    duplicated window — including self-overlapping repeats ("a a a a ...")
    inside one document. Docs shorter than ``k`` pass through unchanged.

    Output: ``(id_col, text, n_tokens, n_removed)``.

    Scale shape: window-index explode + md5 shuffle as in
    :func:`span_dedup_stats`; first-occurrence election is the same
    two-phase groupBy-min(struct) + join-back as word_block_dedup — a hot
    boilerplate span collapses map-side, never on one task. The coverage
    explode multiplies only NON-FIRST duplicated occurrences by k (bounded
    by the duplicated mass, not the corpus); kept-token election is one
    left-anti join on (doc, position) and reassembly one groupBy on the doc
    id.
    """
    base, spans = _span_frames(df, id_col, text_col, k)
    elected = spans.groupBy("__h").agg(
        F.count(F.lit(1)).alias("__c"),
        F.min(F.struct("__id", "__i")).alias("__first"),
    )
    droppers = (
        spans.join(elected.filter(F.col("__c") > 1), "__h")
        .filter(
            ~(
                (F.col("__id") == F.col("__first.__id"))
                & (F.col("__i") == F.col("__first.__i"))
            )
        )
        .select("__id", "__i")
    )
    covered = droppers.select(
        "__id",
        F.explode(
            F.sequence(F.col("__i"), F.col("__i") + (k - 1))
        ).alias("__pos"),
    ).distinct()
    toks = base.select(
        "__id",
        F.posexplode("__w").alias("__p0", "__tok"),
    ).select("__id", (F.col("__p0") + 1).cast("long").alias("__pos"), "__tok")
    kept = toks.join(covered, ["__id", "__pos"], "left_anti")
    reassembled = kept.groupBy("__id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__tok"))),
                lambda s: s["__tok"],
            ),
            " ",
        ).alias("text"),
        F.count(F.lit(1)).alias("__n_kept"),
    )
    return (
        base.select("__id", F.col("__n").alias("n_tokens"))
        .join(reassembled, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce(F.col("text"), F.lit("")).alias("text"),
            "n_tokens",
            (
                F.col("n_tokens")
                - F.coalesce(F.col("__n_kept"), F.lit(0).cast("long"))
            ).alias("n_removed"),
        )
    )
