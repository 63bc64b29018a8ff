"""Parameter-space differential fuzz: the oracle GENERATORS in registry.py
are functions of the operator parameters — so the driver-gate methodology
extends beyond the gated defaults. Each case builds the Spark operator and
the DuckDB oracle for the SAME parameter combo and diffs values, locking
the whole (num_perm, bands, threshold / bits, radius / n, seed) space, not
one point of it. Runs at sf0.001 (500 docs) to stay fast.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import assert_df_equal

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def documents(spark):
    from instructionspipe_spark import load_tables

    return load_tables(spark, SF_DIR)["documents"]


@pytest.mark.parametrize(
    "num_perm,bands,threshold",
    [(8, 2, 0.3), (16, 8, 0.7), (8, 4, 0.5)],
)
def test_minhash_dedup_param_space(spark, documents, duck, num_perm, bands, threshold):
    from instructionspipe_spark.operators.dedup import minhash_lsh_dedup
    from instructionspipe_spark.registry import _minhash_dedup_oracle

    got = minhash_lsh_dedup(
        documents, "doc_id", "text", num_perm=num_perm, bands=bands, threshold=threshold
    ).select("doc_id", "lang")
    assert_df_equal(got, duck.query(_minhash_dedup_oracle(num_perm, bands, threshold)))


@pytest.mark.parametrize("bits,bands,radius", [(48, 6, 2), (16, 4, 1), (32, 8, 5)])
def test_simhash_near_dedup_param_space(spark, documents, duck, bits, bands, radius):
    from instructionspipe_spark.operators.dedup import simhash_near_dedup
    from instructionspipe_spark.registry import _simhash_near_dedup_oracle

    got = simhash_near_dedup(
        documents, "doc_id", "text", bits=bits, bands=bands, radius=radius
    ).select("doc_id", "lang")
    assert_df_equal(got, duck.query(_simhash_near_dedup_oracle(bits, bands, radius)))


# -- sequence packing: capacity sweep vs the window-sum oracle ---------------
# Degenerate (capacity 1), tiny, around-typical, and larger-than-corpus
# capacities — 20 points locking the start/end-bin arithmetic including
# zero-token documents and exact-boundary fills.
@pytest.mark.parametrize(
    "capacity",
    [1, 2, 3, 5, 8, 16, 32, 64, 100, 128, 200, 256, 384, 512, 777, 1000, 2048, 4096, 10000, 100000],
)
def test_pack_token_stream_param_space(spark, documents, duck, capacity):
    from instructionspipe_spark.operators.packing import pack_token_stream
    from instructionspipe_spark.operators.textstats import token_count
    from instructionspipe_spark.registry import _sequence_packing_oracle

    with_tok = documents.select(
        "doc_id", "lang", token_count(F.col("text")).alias("n_tokens")
    )
    got = pack_token_stream(with_tok, "doc_id", "n_tokens", "lang", capacity=capacity)
    assert_df_equal(got, duck.query(_sequence_packing_oracle(capacity)))


# -- greedy first-fit packing: (capacity, subset) grid vs recursive CTE ------
# modulus controls docs-per-group (the sequential recursion depth); capacity
# spans always-overflow (64) to everything-fits (1024). 20 points.
@pytest.mark.parametrize("capacity", [64, 128, 256, 512, 1024])
@pytest.mark.parametrize("modulus", [3, 5, 7, 11])
def test_pack_greedy_param_space(spark, documents, duck, capacity, modulus):
    from instructionspipe_spark.operators.packing import pack_greedy_firstfit
    from instructionspipe_spark.operators.textstats import token_count
    from instructionspipe_spark.registry import _greedy_packing_oracle

    subset = documents.filter(F.col("doc_id") % modulus == 0).select(
        "doc_id", "lang", token_count(F.col("text")).alias("n_tokens")
    )
    got = pack_greedy_firstfit(subset, "doc_id", "n_tokens", "lang", capacity=capacity)
    assert_df_equal(got, duck.query(_greedy_packing_oracle(capacity, modulus)))


# -- multi-probe LSH: n_bits x k sweep vs the brute-force recall floor ------
# Invariants per point: (1) a query drawn from the corpus always finds
# itself at rank 1 (its own bucket is always probed), (2) multi-probe
# candidates are a superset of single-bucket candidates, so its recall
# against the exact brute-force top-k never drops below the single-probe
# recall. 20 points.
@pytest.fixture(scope="module")
def embeddings(spark):
    from instructionspipe_spark import load_tables

    return load_tables(spark, SF_DIR)["embeddings"]


@pytest.mark.parametrize("k", [5, 10])
@pytest.mark.parametrize("n_bits", [1, 2, 3, 4, 5, 6, 7, 8, 10, 12])
def test_multiprobe_recall_param_space(spark, embeddings, n_bits, k):
    from instructionspipe_spark.operators.similarity import ann_topk, brute_force_topk

    q = embeddings.limit(8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )

    def topk_sets(df):
        rows = df.select("query_id", "vec_id").collect()
        out: dict = {}
        for r in rows:
            out.setdefault(r["query_id"], set()).add(r["vec_id"])
        return out

    exact = topk_sets(brute_force_topk(embeddings, q, k))
    single = topk_sets(ann_topk(embeddings, q, k, n_bits=n_bits))
    multi = topk_sets(ann_topk(embeddings, q, k, n_bits=n_bits, multiprobe=True))

    for qid, truth in exact.items():
        # (1) self-match: the query vector itself is always rank-1 reachable
        assert qid in multi.get(qid, set()), f"query {qid} lost its own vector"
        # (2) recall floor: multi-probe >= single-probe against exact top-k
        r_single = len(single.get(qid, set()) & truth) / len(truth)
        r_multi = len(multi.get(qid, set()) & truth) / len(truth)
        assert r_multi >= r_single - 1e-9, (
            f"n_bits={n_bits} k={k} query {qid}: multiprobe recall {r_multi} "
            f"< single-probe {r_single}"
        )


# -- adversarial skew: a boilerplate-heavy corpus must not funnel into one
# window task. 60% of rows share ONE text (=> one hot LSH bucket holding
# 720 identical signatures); the representative must come from a map-side
# partial aggregate + joinable exchange, never Window.partitionBy(bucket).
@pytest.fixture(scope="module")
def skewed_docs(spark):
    n = 1200
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(
            F.col("id") % 5 < 3,
            F.lit("identical boilerplate header repeated verbatim across the corpus " * 4),
        )
        .otherwise(
            F.concat(
                F.lit("unique payload "),
                F.md5(F.col("id").cast("string")),
                F.lit(" "),
                F.md5((F.col("id") + 7919).cast("string")),
            )
        )
        .alias("text"),
    )


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_minhash_dedup_adversarial_skew(spark, skewed_docs):
    from instructionspipe_spark.operators.dedup import minhash_lsh_dedup

    got = minhash_lsh_dedup(
        skewed_docs, "doc_id", "text", num_perm=16, bands=4, threshold=0.5
    )
    plan = _physical_plan(got)
    assert "Window" not in plan, "LSH representative must not be a window (skew straggler)"
    assert "partial_min" in plan, "representative min must partial-aggregate map-side"
    rows = got.collect()
    boiler = [r for r in rows if r["text"].startswith("identical boilerplate")]
    assert len(boiler) == 1 and boiler[0]["doc_id"] == 0, "720 identical docs must collapse to min id"
    # md5-distinct payloads share ~1% trigram jaccard — far under threshold.
    assert len(rows) == 1 + 1200 * 2 // 5


def test_simhash_near_dedup_adversarial_skew(spark, skewed_docs):
    from instructionspipe_spark.operators.dedup import simhash_near_dedup

    got = simhash_near_dedup(skewed_docs, "doc_id", "text", bits=32, bands=8, radius=3)
    plan = _physical_plan(got)
    assert "Window" not in plan, "bucket representative must not be a window"
    assert "partial_min" in plan
    rows = got.collect()
    boiler = [r for r in rows if r["text"].startswith("identical boilerplate")]
    assert len(boiler) == 1 and boiler[0]["doc_id"] == 0
    # Unique payloads have ~independent fingerprints (P[hamming<=3 of 32] ~ 1e-6
    # per pair) — allow at most a couple of accidental near-dup collapses.
    assert len(rows) >= 1 + 1200 * 2 // 5 - 3


# -- ANN absolute recall gate (VERDICT r4 item 8): the LSH/IVF variants are
# deterministic-correct vs their own oracles, but a parameter regression
# (fewer tables, more bits) would silently degrade QUALITY. Lock an absolute
# floor against exact brute-force on the sf0.01 embeddings — 500 near-random
# 64-d vectors, the hardest case for LSH. Everything is deterministic (md5
# hyperplanes, fixed data), so the measured 0.971 mean / 0.80 min recall@5
# at 4 bits x 4 tables with multiprobe is exact, not statistical; floors sit just
# under it so only a real parameter/algorithm change can trip them.
def _topk_sets(df) -> dict:
    out: dict = {}
    for r in df.select("query_id", "vec_id").collect():
        out.setdefault(r["query_id"], set()).add(r["vec_id"])
    return out


def test_ann_recall_floor(spark):
    from instructionspipe_spark.operators.similarity import ann_topk, brute_force_topk

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 37 == 0).limit(16).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    truth = _topk_sets(brute_force_topk(emb, q, k=5))
    got = _topk_sets(ann_topk(emb, q, k=5, n_bits=4, n_tables=4, multiprobe=True))
    recalls = [len(got.get(qid, set()) & t) / len(t) for qid, t in truth.items()]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.9, f"multitable mean recall@5 {mean_recall:.3f} < 0.9 floor"
    assert min(recalls) >= 0.8, f"multitable min recall@5 {min(recalls):.3f} < 0.8 floor"


# -- adversarial skew for the similarity bucket joins (VERDICT r4 item 9):
# 60% of corpus vectors are bit-identical => ONE sign-LSH bucket holds 60%
# of every band frame. The per-query top-k window would be the straggler —
# but Spark 3.5+'s WindowGroupLimit rewrite runs a PARTIAL top-k per map
# task before the exchange (each task forwards <= k rows per query), so the
# hot bucket collapses map-side exactly like the dedup family's two-phase
# min. Assert the rewrite is present (both Partial and Final) and the
# answers stay exact under the skew.
@pytest.fixture(scope="module")
def skewed_embeddings(spark):
    n, dim = 2000, 16
    # 60% share one literal vector; the rest get deterministic md5-derived
    # coordinates (near-orthogonal noise).
    hot = F.array(*[F.lit(0.25 * ((i % 3) - 1)) for i in range(dim)])
    rand = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.conv(
            F.substring(F.md5(F.concat(F.col("id").cast("string"), F.lit(":"), i.cast("string"))), 1, 4),
            16, 10,
        ).cast("double") / F.lit(65536.0) - F.lit(0.5),
    )
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.when(F.col("id") % 5 < 3, hot).otherwise(rand).cast("array<float>").alias("embedding"),
    )


@pytest.mark.parametrize("variant", ["bucketed", "multitable"])
def test_similarity_bucket_skew(spark, skewed_embeddings, variant):
    import time

    from instructionspipe_spark.operators.similarity import ann_topk

    emb = skewed_embeddings
    # query 0 IS a hot vector: its bucket holds 1200 identical embeddings.
    q = emb.filter(F.col("vec_id").isin(0, 1, 7)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    tables = dict(n_tables=4, multiprobe=True) if variant == "multitable" else {}
    out = ann_topk(emb, q, k=5, n_bits=4, **tables)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("WindowGroupLimit") >= 2, (
        "per-query top-k must partial-aggregate map-side (WindowGroupLimit "
        "Partial+Final) so a hot bucket cannot land on one window task"
    )
    t0 = time.perf_counter()
    rows = out.collect()
    elapsed = time.perf_counter() - t0
    assert elapsed < 60, f"skewed top-k took {elapsed:.1f}s — hot bucket straggler?"
    # Hot-bucket queries rank the 1200 identical vectors by id: cosine 1.0,
    # ids 0,1,2,3,4 (vec_id % 5 < 3 => 0,1,2 hot; 3,4 not; next hot are 5,6,7).
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"], r["cosine"]))
    hot_top = sorted(by_q[0])
    assert [v for _, v, _ in hot_top] == [0, 1, 2, 5, 6]
    assert all(abs(c - 1.0) < 1e-6 for _, _, c in hot_top)


@pytest.mark.parametrize("n,seed", [(5, 11), (50, 0)])
def test_weighted_sample_param_space(spark, documents, duck, n, seed):
    from instructionspipe_spark.operators.sampling import weighted_sample
    from instructionspipe_spark.operators.textstats import _lower_tokens, quality_score_from_tokens
    from instructionspipe_spark.registry import _weighted_sample_oracle

    toked = documents.select(
        "doc_id", "lang", "text", _lower_tokens(F.col("text")).alias("__toks")
    )
    weighted = toked.select(
        "doc_id", "lang", quality_score_from_tokens(F.col("text"), F.col("__toks")).alias("quality")
    )
    got = weighted_sample(weighted, "quality", n, seed=seed, id_cols=["doc_id"], group_cols=["lang"])
    assert_df_equal(got, duck.query(_weighted_sample_oracle(n, seed)))


# -- word-block dedup: block-size sweep vs the same-parameter oracle --------
# Locks the slice arithmetic (last partial block, sub-block docs), the
# packed survivor key, and reassembly ordering across the block_words space,
# not just the gated default of 8.
@pytest.mark.parametrize("block_words", [1, 2, 5, 16, 64])
def test_word_block_dedup_param_space(spark, documents, duck, block_words):
    from instructionspipe_spark.operators.dedup import word_block_dedup
    from instructionspipe_spark.registry import _word_block_dedup_oracle

    got = word_block_dedup(documents, "doc_id", "text", block_words=block_words)
    assert_df_equal(got, duck.query(_word_block_dedup_oracle(block_words)))


# -- LM block manifest: capacity sweep vs the same-parameter oracle ---------
@pytest.mark.parametrize("capacity", [1, 7, 64, 512, 100000])
def test_lm_block_manifest_param_space(spark, documents, duck, capacity):
    from instructionspipe_spark.operators.packing import lm_block_manifest
    from instructionspipe_spark.operators.textstats import token_count
    from instructionspipe_spark.registry import _lm_block_manifest_oracle

    with_tok = documents.select(
        "doc_id", "lang", token_count(F.col("text")).alias("n_tokens")
    )
    got = lm_block_manifest(with_tok, "doc_id", "n_tokens", "lang", capacity=capacity)
    assert_df_equal(got, duck.query(_lm_block_manifest_oracle(capacity)))


def test_pq_recall_floor(spark):
    """Trained-codebook PQ + exact rerank (operators/similarity.py ann_topk)
    holds a recall floor vs brute force — parameter regressions surface as
    QUALITY failures, not just determinism ones. Measured at these params
    (m=4, n_codes=32, rerank=200, sf0.01/2000 vecs): mean 0.971, min 0.80;
    floors leave margin for none (KMeans seed is fixed — the run is
    deterministic) but document intent."""
    from instructionspipe_spark.operators.similarity import ann_topk, brute_force_topk
    from instructionspipe_spark.session import release_persisted

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 37 == 0).limit(16).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    truth = _topk_sets(brute_force_topk(emb, q, k=5))
    got = _topk_sets(ann_topk(
        emb, q, k=5, codec="pq", trained=True, seed=42, max_iter=10,
        m=4, n_codes=32, rank_round=6, rerank=200,
    ))
    release_persisted()
    recalls = [len(got.get(qid, set()) & t) / len(t) for qid, t in truth.items()]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.9, f"pq mean recall@5 {mean_recall:.3f} < 0.9 floor"
    assert min(recalls) >= 0.7, f"pq min recall@5 {min(recalls):.3f} < 0.7 floor"


def test_pq_deterministic_self_retrieval(spark):
    """Every query retrieves itself at rank 1 with cosine 1.0 after rerank,
    and a seed query (vec_id < n_codes, i.e. its subvectors ARE codewords)
    has ADC distance exactly 0 to itself in the no-rerank path."""
    from instructionspipe_spark.operators.similarity import ann_topk
    from instructionspipe_spark.session import release_persisted

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id").isin(0, 7, 123)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = ann_topk(emb, q, k=5, codec="pq", m=4, n_codes=8, rank_round=6, rerank=50).collect()
    release_persisted()
    r1 = {r["query_id"]: r for r in out if r["rank"] == 1}
    assert set(r1) == {0, 7, 123}
    for qid, r in r1.items():
        assert r["vec_id"] == qid and r["cosine"] == 1.0
    adc = ann_topk(emb, q, k=5, codec="pq", m=4, n_codes=8, rank_round=6).collect()
    release_persisted()
    seed_self = [r for r in adc if r["query_id"] == 7 and r["vec_id"] == 7]
    assert seed_self and seed_self[0]["adc_dist"] == 0.0


def test_ivfadc_recall_floor(spark):
    """Trained IVFADC (KMeans cells + per-subspace codebooks + rerank) holds
    a recall floor vs brute force. Measured at cells=8/probe=4/codes=32/
    rerank=200 on sf0.01 with the spherical coarse quantizer: single
    assignment mean 0.829 / min 0.60 — the coarse-cell probe is the ceiling
    on these UNCLUSTERED synthetic embeddings (candidate-set recall ==
    final recall; ADC+rerank loses nothing). Multiple assignment
    (n_assign=2: each corpus vector indexed under its 2 nearest cells)
    recovers the boundary losses: measured mean 0.943 / min 0.80 for 2×
    the code rows."""
    from instructionspipe_spark.operators.similarity import ann_topk, brute_force_topk
    from instructionspipe_spark.session import release_persisted

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 37 == 0).limit(16).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    truth = _topk_sets(brute_force_topk(emb, q, k=5))
    got = _topk_sets(
        ann_topk(
            emb, q, k=5, codec="pq", n_cells=8, n_probe=4, n_assign=1, trained=True,
            seed=42, max_iter=10, m=4, n_codes=32, rank_round=6, rerank=200,
        )
    )
    release_persisted()
    recalls = [len(got.get(qid, set()) & t) / len(t) for qid, t in truth.items()]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.75, f"ivfadc mean recall@5 {mean_recall:.3f} < 0.75 floor"
    assert min(recalls) >= 0.3, f"ivfadc min recall@5 {min(recalls):.3f} < 0.3 floor"

    got2 = _topk_sets(
        ann_topk(
            emb, q, k=5, codec="pq", n_cells=8, n_probe=4, n_assign=2, trained=True,
            seed=42, max_iter=10, m=4, n_codes=32, rank_round=6, rerank=200,
        )
    )
    release_persisted()
    recalls2 = [len(got2.get(qid, set()) & t) / len(t) for qid, t in truth.items()]
    mean2 = sum(recalls2) / len(recalls2)
    assert mean2 >= 0.9, f"ivfadc n_assign=2 mean recall@5 {mean2:.3f} < 0.9 floor"
    assert min(recalls2) >= 0.6, f"ivfadc n_assign=2 min recall@5 {min(recalls2):.3f} < 0.6 floor"


def test_ivfadc_probe_all_equals_pq(spark):
    """Probing every cell degenerates IVFADC to plain PQ over the full
    corpus — the two code paths must agree EXACTLY (same codebook seeds,
    same rounding, same tie breaks), which pins the candidate-join
    restriction as lossless."""
    from instructionspipe_spark.operators.similarity import ann_topk
    from instructionspipe_spark.session import release_persisted

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 97 == 0).limit(8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    pq = {(r["query_id"], r["vec_id"], r["rank"]) for r in
          ann_topk(emb, q, k=5, codec="pq", m=4, n_codes=8, rank_round=6, rerank=60).collect()}
    release_persisted()
    ivf = {(r["query_id"], r["vec_id"], r["rank"]) for r in
           ann_topk(
               emb, q, k=5, codec="pq", n_cells=8, n_probe=8, n_assign=1, m=4, n_codes=8,
               rank_round=6, rerank=60,
           ).collect()}
    release_persisted()
    assert pq == ivf


def test_incremental_dedup_adversarial_skew(spark, skewed_docs):
    """Hot-batch-row admission: a batch where 60% of rows share ONE
    boilerplate text, admitted against a corpus that also contains it —
    every boilerplate batch row must collapse to the same corpus survivor
    through the two-phase struct-max election (map-side partial aggregate,
    never a per-batch-row window over millions of matches), and the
    verdicts stay exact."""
    from instructionspipe_spark.operators.dedup import incremental_minhash_dedup
    from instructionspipe_spark.session import release_persisted

    corpus = skewed_docs.filter(F.col("doc_id") % 2 == 0)
    batch = skewed_docs.filter(F.col("doc_id") % 2 == 1).selectExpr(
        "doc_id + 100000 AS doc_id", "text"
    )
    # bucket_cap=None: this test pins the UNCAPPED hot-key election path —
    # the ~360-row boilerplate bucket is exactly what the r11 default cap
    # (64) excludes, so the faithful shape must be requested explicitly.
    out = incremental_minhash_dedup(
        corpus, batch, "doc_id", "text", threshold=0.5, bucket_cap=None
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "partial_max" in plan, "best-match election must partial-aggregate map-side"
    rows = out.collect()
    release_persisted()
    assert len(rows) == batch.count()
    # corpus boilerplate survivor: doc_id 0 holds the min id among the
    # boilerplate corpus rows; EVERY boilerplate batch row elects exactly it.
    boiler_ids = {
        r["doc_id"] for r in batch.collect() if r["text"].startswith("identical boilerplate")
    }
    for r in rows:
        if r["doc_id"] in boiler_ids:
            assert not r["kept"] and r["dup_of"] == 0 and r["jaccard"] == 1.0
        else:
            # md5-distinct payloads share ~1% trigram jaccard — all kept
            assert r["kept"]


# -- most_dup greedy: parameter sweep vs the sequential recursive oracle -----
@pytest.mark.parametrize("num_perm,bands,most_dup", [(8, 2, 0), (8, 4, 1), (16, 4, 2)])
def test_most_dup_param_space(spark, documents, duck, num_perm, bands, most_dup):
    from instructionspipe_spark.operators.dedup import minhash_lsh_dedup_most_dup
    from instructionspipe_spark.registry import _most_dup_oracle

    got = minhash_lsh_dedup_most_dup(
        documents, "doc_id", "text", most_dup=most_dup, num_perm=num_perm, bands=bands
    ).select("doc_id", "lang")
    assert_df_equal(got, duck.query(_most_dup_oracle(num_perm, bands, most_dup)))


# -- config-runner fuzz (VERDICT r7 #8): randomized reference-shaped configs -
# Random pipes (1-3 map instructions, optional reduce, random optional keys,
# string-pipe indirection at random subdir depth) must behave exactly like a
# direct run_pipeline over the same records, with all three sinks consistent.
@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_run_config_fuzz(spark, tmp_path, seed):
    import json
    import random

    from instructionspipe_spark.plans.compiler import run_pipeline
    from instructionspipe_spark.plans.instructions import Pipeline
    from instructionspipe_spark.plans.llm_kernel import MockLlm
    from instructionspipe_spark.plans.runner import run_config
    from instructionspipe_spark.sources.io import read_jsonl

    rng = random.Random(seed)
    input_cols = ["a", "b"]
    maps = []
    for i in range(rng.randint(1, 3)):
        d = {"name": f"m{i}", "scope": rng.sample(input_cols, rng.randint(1, 2)),
             "content": f"do thing {i}"}
        if rng.random() > 0.5:
            d["role"] = "worker"
        if rng.random() > 0.5:
            d["output_fmt"] = "markdown"
        maps.append(d)
    stages = [maps]
    if rng.random() > 0.3:
        stages.append([{"name": "red", "scope": [m["name"] for m in maps],
                        "content": "merge everything"}])

    cfg_dir = tmp_path / "cfg"
    cfg_dir.mkdir()
    if rng.random() > 0.5:  # string-pipe indirection at random depth
        sub = cfg_dir
        for lvl in range(rng.randint(0, 2)):
            sub = sub / f"d{lvl}"
            sub.mkdir()
        (sub / "pipe.json").write_text(json.dumps(stages))
        pipe_val = str((sub / "pipe.json").relative_to(cfg_dir))
    else:
        pipe_val = stages

    records = []
    for i in range(6):
        records.append({
            "rid": i,
            "a": f"alpha {rng.randrange(100)}" if rng.random() > 0.2 else "",
            "b": f"beta {rng.randrange(100)}" if rng.random() > 0.2 else None,
        })
    in_path = tmp_path / "in.jsonl"
    in_path.write_text("\n".join(json.dumps(r) for r in records))
    cfg = {"pipe": pipe_val, "in_data_path": str(in_path),
           "out_data_path": str(tmp_path / "out"),
           "chatml_path": str(tmp_path / "chatml"), "llms": []}
    cfg_path = cfg_dir / "config.json"
    cfg_path.write_text(json.dumps(cfg))

    out = run_config(spark, str(cfg_path), llm=MockLlm())
    want = run_pipeline(
        read_jsonl(spark, str(in_path)), Pipeline.from_dict({"pipe": stages}), MockLlm()
    )
    assert {r["rid"]: r["result"] for r in out.collect()} == \
           {r["rid"]: r["result"] for r in want.collect()}
    # sink consistency: results rows, chatml rows per (record, instruction),
    # meta joins results 1:1 on session_id
    written = spark.read.json(str(tmp_path / "out"))
    assert written.count() == len(records)
    n_instr = sum(len(s) for s in stages)
    assert spark.read.json(str(tmp_path / "chatml")).count() == len(records) * n_instr
    meta = spark.read.json(str(tmp_path / "chatml") + ".meta.jsonl")
    assert meta.select("session_id").join(written, "session_id").count() == len(records)


# Judge CLI twin under random field mappings: missing name column -> the
# reference's out["name"]="n/a" fallback (eval_with_facts.py:676-677),
# missing gt fields -> typed NULL doubles, extra_cols with missing names and
# fixed-name collisions skipped, max_sample_size honored, metrics consistent.
@pytest.mark.parametrize("seed", [0, 1, 2])
def test_run_judge_config_fuzz(spark, tmp_path, seed):
    import json
    import random

    from instructionspipe_spark.plans.runner import run_judge_config

    rng = random.Random(seed)
    has_name, has_gt = rng.random() > 0.5, rng.random() > 0.5
    cap = rng.random() > 0.5
    rows = []
    for i in range(8):
        r = {"rid": i, "src": f"source text {i}", "gen": f"generated {i}",
             "instr": "judge this", "extra1": i * 2}
        if has_name:
            r["name"] = rng.choice(["n1", "n2"])
        if has_gt:
            r["gtf"] = float(rng.randint(0, 1))
        rows.append(r)
    in_path = tmp_path / "cases.jsonl"
    in_path.write_text("\n".join(json.dumps(r) for r in rows))
    cfg = {
        "in_data_path": str(in_path),
        "out_data_path": str(tmp_path / "judged"),
        "in_text_field": "src", "out_text_field": "gen",
        "instruction_field": "instr",
        "llms": [{"model": m} for m in ("j1", "j2")][: rng.randint(1, 2)],
        # one real, one absent, one fixed-name collision, one duplicate
        "extra_cols": ["extra1", "missing_col", "factuality", "extra1"],
    }
    if has_gt:
        cfg["gt_factuality_field"] = "gtf"
    if cap:
        cfg["max_sample_size"] = 5
    p = tmp_path / "judge.json"
    p.write_text(json.dumps(cfg))

    results, metrics = run_judge_config(spark, str(p))
    cols = results.columns
    assert cols.count("factuality") == 1 and cols.count("name") == 1
    assert cols.count("extra1") == 1 and "missing_col" not in cols
    got = results.collect()
    assert len(got) == (5 if cap else 8)
    assert all(0.0 <= r["factuality"] <= 1.0 and 0.0 <= r["eligibility"] <= 1.0 for r in got)
    if has_name:
        assert {r["name"] for r in got} <= {"n1", "n2"}
    else:
        assert {r["name"] for r in got} == {"n/a"}
    if has_gt:
        assert all(r["gt_factuality"] is not None for r in got)
    else:
        assert all(r["gt_factuality"] is None for r in got)
    m = metrics.collect()
    assert {r["name"] for r in m} == {r["name"] for r in got}
    assert sum(r["n"] for r in m) == len(got)


def test_run_judge_config_requires_llms(spark, tmp_path):
    import json

    from instructionspipe_spark.plans.runner import run_judge_config

    p = tmp_path / "no_llms.json"
    p.write_text(json.dumps({
        "in_data_path": str(tmp_path / "x.jsonl"), "out_data_path": str(tmp_path / "o"),
        "in_text_field": "a", "out_text_field": "b", "instruction_field": "c",
    }))
    with pytest.raises(ValueError, match="llms"):
        run_judge_config(spark, str(p))


# -- multibyte oracle parity (r8 hunt, committed): the gated corpus is
# ASCII-ish, so Spark-vs-DuckDB agreement on non-Latin scripts, emoji,
# fullwidth forms, zero-width chars and combining marks was unpinned —
# the two regex/hash engines could classify \p{L} differently and no
# gate would notice. These lock normalization and every shingle
# fingerprint (minhash, simhash, doc_fingerprint) against the registry's
# DuckDB oracles, on the edge rows too: astral-plane letters,
# punctuation-only (empty after normalization), empty, NULL, sub-ngram
# and one ~10k-char document.
def _long_document() -> str:
    import random

    rng = random.Random(5)
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "theta", "kappa"]
    return " ".join(rng.choice(words) + str(rng.randint(0, 9999)) for _ in range(1500))


_MULTIBYTE_TEXTS = [
    "héllo wörld — ünïcode!! tëst häppens",
    "日本語のテキスト、句読点。テストです",
    "emoji 🎉 and text ✨ mixed together here",
    "combining é acute vs é precomposed",
    "ｆｕｌｌｗｉｄｔｈ　ＬＡＴＩＮ　ｃｈａｒｓ",
    "числа 123 и буквы ЯЁ вместе с текстом",
    "ZERO​WIDTH​SPACE test",  # U+200B between words
    "NBSP separated words",  # U+00A0 separators
    "한국어 텍스트 중복 제거 테스트 문장입니다",
    "ASCII control\ttab\nnewline mixed with ümlauts",
    "𐌰𐌱𐌲 gothic letters 𐌰𐌱𐌲",  # astral-plane \p{L}
    "!!! ... ???",  # punctuation-only -> empty after normalize
    "",
    None,
    "ab",  # sub-ngram
    _long_document(),
]


def _multibyte_frames(spark, id_col: str):
    """The texts as a Spark frame and a DuckDB connection with the same
    rows registered as ``documents``."""
    import duckdb
    import pandas as pd

    ids = list(range(len(_MULTIBYTE_TEXTS)))
    df = spark.createDataFrame(list(zip(ids, _MULTIBYTE_TEXTS)), f"{id_col} long, text string")
    con = duckdb.connect()
    con.register("documents", pd.DataFrame({id_col: ids, "text": _MULTIBYTE_TEXTS}))
    return df, con


def test_multibyte_normalization_oracle_parity(spark, duck):
    from pyspark.sql import functions as F

    from instructionspipe_spark.functions.text import shingle_normalize
    from instructionspipe_spark.registry import _norm_sql

    df, con = _multibyte_frames(spark, "id")
    got = {r["id"]: r["v"] for r in df.select("id", shingle_normalize(F.col("text")).alias("v")).collect()}
    want = {r[0]: r[1] for r in con.sql(f"SELECT id, {_norm_sql('text')} FROM documents").fetchall()}
    assert got == want


def test_multibyte_minhash_oracle_parity(spark, duck):
    from pyspark.sql import functions as F

    from instructionspipe_spark.operators.dedup import minhash_signature, simhash
    from instructionspipe_spark.operators.textstats import doc_fingerprint
    from instructionspipe_spark.registry import ORACLES, _minhash_base_cte, _simhash_oracle

    df, con = _multibyte_frames(spark, "doc_id")
    cases = [
        (
            minhash_signature(F.col("text"), num_perm=8),
            "WITH" + _minhash_base_cte(8) + " SELECT doc_id, __sig FROM sig",
        ),
        (simhash(F.col("text"), bits=32), _simhash_oracle(32)),
        (simhash(F.col("text"), bits=48), _simhash_oracle(48)),
        (doc_fingerprint(F.col("text")), ORACLES["doc_fingerprints"]),
    ]
    for fingerprint, oracle in cases:
        got = {r[0]: r[1] for r in df.select("doc_id", fingerprint).collect()}
        want = {r[0]: r[1] for r in con.sql(oracle).fetchall()}
        assert got == want, oracle[:60]


def test_multibyte_char_entropy_reference(spark):
    """char_entropy == a pure-Python Counter + log2 reference at 6 digits
    on the same rows (NULL -> NULL, empty -> 0.0)."""
    import math
    from collections import Counter

    from pyspark.sql import functions as F

    from instructionspipe_spark.operators.textstats import char_entropy

    df, _ = _multibyte_frames(spark, "id")
    got = {r["id"]: r["h"] for r in df.select("id", F.round(char_entropy(F.col("text")), 6).alias("h")).collect()}
    for i, text in enumerate(_MULTIBYTE_TEXTS):
        if text is None:
            assert got[i] is None
            continue
        counts = Counter(text)
        want = -sum(c / len(text) * math.log2(c / len(text)) for _, c in sorted(counts.items()))
        # one 6th-digit step of slack: the JVM's log2 is log(x)/log(2)
        assert math.isclose(got[i], round(want, 6), abs_tol=1e-6), (i, got[i], want)
