"""Unit tests for the operator surface (SURVEY.md §2.2-2.7 + north-star ops)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_exact_dedup_deterministic_survivor(spark):
    from instructionspipe_spark.operators.dedup import exact_dedup, multi_key_dedup

    df = spark.createDataFrame(
        [("k1", 3, "c"), ("k1", 1, "a"), ("k1", 2, "b"), ("k2", 9, "z")], ["k", "i", "v"]
    )
    out = exact_dedup(df, ["k"], ["i"]).orderBy("k").collect()
    assert [(r["k"], r["v"]) for r in out] == [("k1", "a"), ("k2", "z")]
    # multi-key fold: dedup by v then by k
    out2 = multi_key_dedup(df, [["v"], ["k"]], ["i"]).orderBy("k").collect()
    assert [(r["k"], r["v"]) for r in out2] == [("k1", "a"), ("k2", "z")]


def test_minhash_similar_collide_dissimilar_dont(spark):
    """Port of the reference's only unit test (etl_slimpajama_dc_proc.py:88-100):
    near-duplicate sentences must collide in LSH; unrelated text must not."""
    from instructionspipe_spark.operators.dedup import minhash_lsh_dedup

    a = "The quick brown fox jumps over the lazy dog near the river bank today"
    b = "The quick brown fox jumps over the lazy dog near the river bank"  # near-dup of a
    c = "Completely different content about quantum computing and linear algebra"
    df = spark.createDataFrame([(1, a), (2, b), (3, c)], ["id", "text"])
    kept = minhash_lsh_dedup(df, "id", "text", threshold=0.5).select("id").collect()
    ids = sorted(r["id"] for r in kept)
    assert ids == [1, 3]  # b dropped (larger id of the near-dup pair), c kept


def test_simhash_hamming_property(spark):
    from instructionspipe_spark.operators.dedup import simhash

    a = "The quick brown fox jumps over the lazy dog near the river bank today"
    b = "The quick brown fox jumps over the lazy dog near the river bank"
    c = "Completely different content about quantum computing and linear algebra"
    df = spark.createDataFrame([(1, a), (2, b), (3, c)], ["id", "text"])
    sigs = {r["id"]: r["s"] for r in df.select("id", simhash(F.col("text")).alias("s")).collect()}
    ham_ab = bin(sigs[1] ^ sigs[2]).count("1")
    ham_ac = bin(sigs[1] ^ sigs[3]).count("1")
    assert ham_ab < ham_ac


def test_capped_group_sample(spark):
    from instructionspipe_spark.operators.sampling import capped_group_sample

    rows = [("g1", i) for i in range(10)] + [("g2", i) for i in range(2)]
    df = spark.createDataFrame(rows, ["k", "v"])
    out = capped_group_sample(df, ["k"], max_group_size=3, seed=2)
    counts = {r["k"]: r["count"] for r in out.groupBy("k").count().collect()}
    assert counts == {"g1": 3, "g2": 2}
    # determinism: same seed -> same sample, regardless of partitioning
    again = capped_group_sample(df.repartition(7), ["k"], max_group_size=3, seed=2)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_seeded_head_deterministic(spark):
    from instructionspipe_spark.operators.sampling import seeded_head

    df = spark.createDataFrame([(i,) for i in range(100)], ["id"])
    a = [r["id"] for r in seeded_head(df, 5, seed=42, id_cols=["id"]).collect()]
    b = [r["id"] for r in seeded_head(df.repartition(13), 5, seed=42, id_cols=["id"]).collect()]
    assert a == b and len(a) == 5


def test_grouped_split_no_leakage(spark):
    from instructionspipe_spark.operators.splitting import grouped_split

    rows = [(f"k{i % 20}", i) for i in range(200)]
    df = spark.createDataFrame(rows, ["k", "v"])
    out = grouped_split(df, "k", {"train": 0.6, "val": 0.2, "test": 0.2}, seed=42)
    # every key in exactly one split
    per_key = out.groupBy("k").agg(F.countDistinct("split").alias("n")).collect()
    assert all(r["n"] == 1 for r in per_key)
    # all three splits materialize and rows are conserved
    split_counts = {r["split"]: r["count"] for r in out.groupBy("split").count().collect()}
    assert set(split_counts) == {"train", "val", "test"}
    assert sum(split_counts.values()) == 200


def test_asof_join_backward_and_forward(spark):
    from instructionspipe_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("a", 10), ("a", 20), ("a", 5), ("b", 10)], ["k", "t"]
    )
    right = spark.createDataFrame(
        [("a", 8, "r8"), ("a", 15, "r15"), ("b", 30, "r30")], ["k", "t", "val"]
    )
    back = asof_join(
        left, right.withColumnRenamed("t", "rt"), "k", "t", "rt", ["val"], "backward"
    )
    got = {(r["k"], r["t"]): r["val"] for r in back.collect()}
    assert got == {("a", 5): None, ("a", 10): "r8", ("a", 20): "r15", ("b", 10): None}
    fwd = asof_join(
        left, right.withColumnRenamed("t", "rt"), "k", "t", "rt", ["val"], "forward"
    )
    got_f = {(r["k"], r["t"]): r["val"] for r in fwd.collect()}
    assert got_f == {("a", 5): "r8", ("a", 10): "r15", ("a", 20): None, ("b", 10): "r30"}


def test_asof_join_rejects_column_collision(spark):
    from instructionspipe_spark.operators.asof import asof_join

    df = spark.createDataFrame([("a", 1, "x")], ["k", "t", "val"])
    with pytest.raises(ValueError, match="collide"):
        asof_join(df, df, "k", "t", "t", ["val"])


def test_range_join_binned_equals_unbinned(spark):
    from instructionspipe_spark.operators.asof import range_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (2, "2024-01-01 01:00:00")], ["lid", "ts"]
    ).withColumn("ts", F.to_timestamp("ts"))
    right = spark.createDataFrame(
        [(10, "2024-01-01 00:30:00"), (11, "2024-01-01 00:59:00"), (12, "2024-01-01 01:30:00")],
        ["rid", "ts"],
    ).withColumn("ts", F.to_timestamp("ts"))
    lower, upper = F.expr("INTERVAL 0 SECONDS"), F.expr("INTERVAL 1 HOURS")
    plain = range_join(left, right, "ts", "ts", lower, upper)
    binned = range_join(left, right, "ts", "ts", lower, upper, bin_seconds=600)
    key = lambda rows: sorted((r["lid"], r["rid"]) for r in rows)
    assert key(plain.collect()) == key(binned.collect()) == [(1, 10), (1, 11), (2, 12)]


def test_brute_force_topk(spark):
    from instructionspipe_spark.operators.similarity import brute_force_topk

    qs = spark.createDataFrame([(0, [1.0, 0.0])], ["query_id", "query_vec"])
    docs = spark.createDataFrame(
        [(1, [1.0, 0.1]), (2, [0.0, 1.0]), (3, [0.9, 0.0]), (4, [-1.0, 0.0])],
        ["vec_id", "embedding"],
    )
    out = brute_force_topk(docs, qs, k=2).collect()
    ranked = [r["vec_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert ranked == [3, 1]  # cosine(3)=1.0 exact; ties broken by id asc
    assert all(r["query_id"] == 0 for r in out)


def test_text_stats(spark):
    from instructionspipe_spark.operators.textstats import text_stats

    df = spark.createDataFrame(
        [(1, "The cat and the dog are in the house with a mouse."), (2, "zzz qqq")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in text_stats(df, "text").collect()}
    assert out[1]["n_words"] == 12
    assert out[1]["n_tokens"] >= 12
    assert out[1]["quality"] > out[2]["quality"]
    assert out[1]["lang_detected"] == "en"
    assert out[2]["lang_detected"] == "und"


def test_scope_projection(spark, tables):
    from instructionspipe_spark.operators.projection import scope_project

    df = tables["documents"]
    out = scope_project(df, ["text", "lang"], keep=["doc_id"])
    assert set(out.columns) == {"doc_id", "text", "lang"}


def test_group_counts_matches_duck(spark, tables, duck):
    from instructionspipe_spark.operators.grouping import group_counts
    from tests.conftest import assert_df_equal

    out = group_counts(tables["documents"], ["lang"])
    assert_df_equal(
        out, duck.query("SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang")
    )


def test_distribution_check_sorted(spark):
    from instructionspipe_spark.operators.grouping import distribution_check

    df = spark.createDataFrame(
        [("a",)] * 5 + [("b",)] * 2 + [("c",)] * 2, ["k"]
    )
    rows = [(r["k"], r["cnt"]) for r in distribution_check(df, ["k"]).collect()]
    assert rows == [("a", 5), ("b", 2), ("c", 2)]  # desc count, key tiebreak


def test_hash_split_leak_free_and_proportional(spark):
    from instructionspipe_spark.operators.splitting import hash_split

    rows = [(f"k{i % 200}", i) for i in range(2000)]
    df = spark.createDataFrame(rows, ["k", "v"])
    out = hash_split(df, "k", {"train": 0.8, "val": 0.1, "test": 0.1}, seed=42)
    per_key = out.groupBy("k").agg(F.countDistinct("split").alias("n")).collect()
    assert all(r["n"] == 1 for r in per_key)  # leak-free
    counts = {r["split"]: r["count"] for r in out.groupBy("split").count().collect()}
    assert sum(counts.values()) == 2000
    assert counts["train"] > counts.get("val", 0) and counts["train"] > counts.get("test", 0)
    # deterministic under repartitioning
    again = hash_split(df.repartition(7), "k", {"train": 0.8, "val": 0.1, "test": 0.1}, seed=42)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_lsh_bucketed_topk_subset_of_brute(spark, tables):
    """Sign-LSH ANN: results must be a subset of the corpus with correct
    cosine values (vs brute force) and the exact nearest hit for a query
    vector identical to a corpus vector (same bucket by construction)."""
    from instructionspipe_spark.operators.similarity import ann_topk, brute_force_topk

    emb = tables["embeddings"]
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    approx = ann_topk(emb, queries, k=5, n_bits=4)
    exact = brute_force_topk(emb, queries, k=5)
    a = {(r["query_id"], r["vec_id"]): round(r["cosine"], 6) for r in approx.collect()}
    e = {(r["query_id"], r["vec_id"]): round(r["cosine"], 6) for r in exact.collect()}
    # identical vector is always in the same bucket -> rank-1 self hit
    for q in (0, 1, 2):
        assert a[(q, q)] == e[(q, q)] == 1.0
    # every approx cosine equals the exact cosine for that pair
    for pair, cos in a.items():
        if pair in e:
            assert cos == e[pair]


def test_salted_aggregate_matches_direct(spark):
    from instructionspipe_spark.operators.skew import salted_aggregate

    rows = [("hot", i) for i in range(500)] + [("cold", i) for i in range(10)]
    df = spark.createDataFrame(rows, ["k", "v"])
    salted = salted_aggregate(
        df, ["k"], {"n": ("count", "*"), "total": ("sum", "v"), "mx": ("max", "v")}, salt_buckets=8
    )
    got = {r["k"]: (r["n"], r["total"], r["mx"]) for r in salted.collect()}
    assert got == {"hot": (500, sum(range(500)), 499), "cold": (10, sum(range(10)), 9)}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unsupported"):
        salted_aggregate(df, ["k"], {"a": ("avg", "v")})


def test_ivf_topk_finds_self_and_orders(spark, tables):
    from instructionspipe_spark.operators.similarity import ann_topk, brute_force_topk

    emb = tables["embeddings"]
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )

    def ivf():
        return ann_topk(
            emb, queries, k=5, codec="none", n_cells=4, n_probe=2, trained=True,
            seed=42, max_iter=10,
        )

    approx = ivf()
    exact = brute_force_topk(emb, queries, k=5)
    a = {(r["query_id"], r["vec_id"]): round(r["cosine"], 6) for r in approx.collect()}
    e = {(r["query_id"], r["vec_id"]): round(r["cosine"], 6) for r in exact.collect()}
    for q in (0, 1, 2):
        assert a[(q, q)] == 1.0  # identical vector always in the probed cell
    for pair, cos in a.items():
        if pair in e:
            assert cos == e[pair]  # cosines agree with brute force
    # determinism
    again = {(r["query_id"], r["vec_id"]) for r in ivf().collect()}
    assert again == set(a)


def test_simhash_near_dedup_behavior(spark):
    from instructionspipe_spark.operators.dedup import simhash_near_dedup

    base = "the quick brown fox jumps over the lazy dog again and again " * 3
    rows = [
        (1, base),
        (2, base),                      # identical -> hamming 0, dropped
        (3, base.replace("lazy", "hazy")),  # near-dup -> small hamming
        (4, "completely different content about spark shuffles and parquet files"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    kept = sorted(r["doc_id"] for r in simhash_near_dedup(df, "doc_id", "text").collect())
    assert 1 in kept and 4 in kept  # min-id survivor + unrelated doc survive
    assert 2 not in kept  # identical text always collapses
    assert len(kept) <= 3
    import pytest as _pytest

    with _pytest.raises(ValueError, match="pigeonhole"):
        simhash_near_dedup(df, "doc_id", "text", bands=2, radius=3)


def test_parse_markdown_sections_roundtrip(spark, tables):
    """UDTF lateral join (§2.11): kv_markdown -> parse_markdown_sections
    roundtrips headers and bodies."""
    from instructionspipe_spark.operators.projection import (
        parse_markdown_sections,
        scope_markdown,
    )

    docs = tables["documents"].limit(5)
    md = scope_markdown(docs, ["text", "lang"]).select("doc_id", "input_md")
    out = parse_markdown_sections(md, "input_md", keep=["doc_id"])
    rows = out.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append((r["section_idx"], r["header"]))
    src = {r["doc_id"]: (r["text"], r["lang"]) for r in docs.collect()}
    for doc_id, sections in by_doc.items():
        headers = [h for _, h in sorted(sections)]
        assert headers == ["text", "lang"]
    # body fidelity
    got = {(r["doc_id"], r["header"]): r["body"] for r in rows}
    for doc_id, (text, lang) in src.items():
        assert got[(doc_id, "text")] == text.strip()
        assert got[(doc_id, "lang")] == lang
    # empty/None handling: no rows for null markdown
    from pyspark.sql import functions as F

    nul = md.withColumn("input_md", F.lit(None).cast("string"))
    assert parse_markdown_sections(nul, "input_md", keep=["doc_id"]).count() == 0


def test_simhash_null_fingerprint_short_texts(spark):
    """Sub-ngram / empty / NULL texts get a NULL fingerprint and pass
    through both simhash dedup operators — an all-zero fingerprint would
    collapse every short-but-different doc into one survivor."""
    from instructionspipe_spark.operators.dedup import (
        simhash,
        simhash_dedup,
        simhash_near_dedup,
    )

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, ""), (4, None), (5, "real content here ok"), (6, "real content here ok")],
        ["doc_id", "text"],
    )
    fps = {r["doc_id"]: r["fp"] for r in df.select("doc_id", simhash(F.col("text")).alias("fp")).collect()}
    assert fps[1] is None and fps[3] is None and fps[4] is None
    assert fps[5] is not None and fps[5] == fps[6]
    assert sorted(r["doc_id"] for r in simhash_near_dedup(df, "doc_id", "text").collect()) == [1, 2, 3, 4, 5]
    assert sorted(r["doc_id"] for r in simhash_dedup(df, "doc_id", "text").collect()) == [1, 2, 3, 4, 5]


def test_minhash_null_signature_short_texts(spark):
    """Sub-ngram texts get a NULL MinHash signature (not an array of NULLs)
    and never become LSH candidates — even without jaccard verification,
    where a shared all-NULL band hash would collapse them all."""
    from instructionspipe_spark.operators.dedup import minhash_lsh_dedup, minhash_signature

    df = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, ""), (4, None), (5, "the same long document text"), (6, "the same long document text")],
        ["doc_id", "text"],
    )
    sigs = {r["doc_id"]: r["s"] for r in df.select("doc_id", minhash_signature(F.col("text"), num_perm=4).alias("s")).collect()}
    assert sigs[1] is None and sigs[3] is None and sigs[4] is None
    assert sigs[5] is not None and sigs[5] == sigs[6]
    # no-threshold dedup: only the exact-duplicate long doc collapses
    kept = sorted(r["doc_id"] for r in minhash_lsh_dedup(df, "doc_id", "text").collect())
    assert kept == [1, 2, 3, 4, 5]


def _assert_oracle_identical(spark, rows, cases):
    """Each (Spark column, DuckDB SQL over ``documents``) pair yields the
    same value per doc_id on ``rows`` — the Spark and DuckDB engines are
    bit-identical on the integer/hash kernels."""
    import duckdb
    import pandas as pd

    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(3)
    con = duckdb.connect()
    con.register("documents", pd.DataFrame({"doc_id": [r[0] for r in rows], "text": [r[1] for r in rows]}))
    try:
        for column, oracle in cases:
            got = {r[0]: r[1] for r in df.select("doc_id", column).collect()}
            want = {r[0]: r[1] for r in con.sql(oracle).fetchall()}
            assert got == want, oracle[:60]
    finally:
        con.close()


def _shingle_cases(bits):
    from instructionspipe_spark.operators.dedup import minhash_signature, simhash
    from instructionspipe_spark.registry import _minhash_base_cte, _simhash_oracle

    return [(minhash_signature(F.col("text"), num_perm=8), "WITH" + _minhash_base_cte(8) + " SELECT doc_id, __sig FROM sig")] + [
        (simhash(F.col("text"), bits=b), _simhash_oracle(b)) for b in bits
    ]


def test_shingle_engines_identical(spark):
    """The Arrow shingle kernels and the DuckDB oracles must be bit-identical
    for minhash signatures and simhash fingerprints — on unicode (incl.
    non-Latin scripts where \\p{L} keeps characters a naive \\w would strip),
    punctuation-only, whitespace-heavy, empty, NULL, and astral-plane
    inputs."""
    rows = [
        (1, "The quick brown fox -- jumps!  over\tthe lazy dog."),
        (2, "  múltiple   ESPACIOS  y acentós  "),
        (3, "日本語のテキストでシングルを作る"),
        (4, "!!! ... ???"),  # punctuation-only -> empty after normalize
        (5, ""),
        (6, None),
        (7, "ab"),  # sub-ngram
        (8, "𐌰𐌱𐌲 gothic letters 𐌰𐌱𐌲"),  # astral-plane \p{L}
        (9, "mixed 123 numbers and WORDS"),
        (10, "the same long document text"),
    ]
    _assert_oracle_identical(spark, rows, _shingle_cases([32, 48]))


def test_shingle_kernels_large_document(spark):
    """A large document (~10k chars) must match the oracles and not blow
    the Arrow batch."""
    import random

    rng = random.Random(5)
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "theta", "kappa"]
    big = " ".join(rng.choice(words) + str(rng.randint(0, 9999)) for _ in range(1500))
    _assert_oracle_identical(spark, [(1, big), (2, "small doc here")], _shingle_cases([32]))


def test_doc_fingerprint_engines_identical(spark):
    """doc_fingerprint equals the doc_fingerprints DuckDB oracle (8-grams)
    and a hashlib reference at both window sizes."""
    import hashlib
    import re

    from instructionspipe_spark.operators.textstats import doc_fingerprint
    from instructionspipe_spark.registry import ORACLES

    rows = [
        (1, "The quick brown fox JUMPS over   the lazy dog"),
        (2, "short"),
        (3, ""),
        (4, None),
        (5, "日本語のテキスト with mixed content"),
    ]
    _assert_oracle_identical(spark, rows, [(doc_fingerprint(F.col("text")), ORACLES["doc_fingerprints"])])

    df = spark.createDataFrame(rows, "doc_id long, text string")
    for ngram in (8, 4):
        got = {r[0]: r[1] for r in df.select("doc_id", doc_fingerprint(F.col("text"), ngram=ngram)).collect()}
        for doc_id, text in rows:
            if text is None:
                assert got[doc_id] is None
                continue
            norm = re.sub(r"\s+", " ", text.lower()).strip()
            grams = [norm[i : i + ngram] for i in range(max(len(norm) - ngram + 1, 1))]
            assert got[doc_id] == min(hashlib.md5(g.encode()).hexdigest() for g in grams), (ngram, doc_id)


def test_weighted_sample_properties(spark):
    """Efraimidis-Spirakis sampler: deterministic across partitionings,
    excludes zero/negative weights, returns n per group, and across many
    seeds picks high-weight rows far more often than low-weight ones."""
    from instructionspipe_spark.operators.sampling import weighted_sample

    rows = [(i, "g", 10.0 if i < 5 else 0.1) for i in range(50)] + [
        (100, "g", 0.0),
        (101, "g", -1.0),
    ]
    df = spark.createDataFrame(rows, "id long, grp string, w double")
    base = sorted(
        r["id"] for r in weighted_sample(df, "w", 5, seed=3, id_cols=["id"], group_cols=["grp"]).collect()
    )
    assert len(base) == 5 and 100 not in base and 101 not in base
    again = sorted(
        r["id"]
        for r in weighted_sample(df.repartition(7), "w", 5, seed=3, id_cols=["id"], group_cols=["grp"]).collect()
    )
    assert base == again
    heavy_hits = 0
    for seed in range(12):
        picked = [
            r["id"] for r in weighted_sample(df, "w", 5, seed=seed, id_cols=["id"], group_cols=["grp"]).collect()
        ]
        heavy_hits += sum(1 for i in picked if i < 5)
    # 5 heavy rows at weight 10 vs 45 light at 0.1: heavy dominate the draw
    assert heavy_hits >= 12 * 3, heavy_hits
    # ungrouped path: TakeOrdered top-n
    top = weighted_sample(df, "w", 3, seed=1, id_cols=["id"]).count()
    assert top == 3


def test_token_count_hf_gated(spark):
    """token_count_hf raises a clear ImportError without `transformers`,
    and counts real tokens when the library is present."""
    from instructionspipe_spark.operators.textstats import token_count_hf

    try:
        import transformers  # noqa: F401

        has = True
    except ImportError:
        has = False
    if not has:
        with pytest.raises(ImportError, match="transformers"):
            token_count_hf("text")
    else:  # pragma: no cover - env without transformers skips this branch
        df = spark.createDataFrame([(1, "hello world")], ["id", "text"])
        n = df.select(token_count_hf("text").alias("n")).first()["n"]
        assert n >= 2


def test_lsh_multiprobe_superset_of_single(spark, tables):
    """Multi-probe candidates strictly contain the single-probe bucket's, so
    per-query top-k cosine mass can only improve; the identical-vector
    self-hit stays rank 1."""
    from instructionspipe_spark.operators.similarity import ann_topk

    emb = tables["embeddings"]
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    single = ann_topk(emb, queries, k=5, n_bits=4).collect()
    multi = ann_topk(emb, queries, k=5, n_bits=4, multiprobe=True).collect()
    best_s = {r["query_id"]: r["cosine"] for r in single if r["rank"] == 1}
    best_m = {(r["query_id"]): r["cosine"] for r in multi if r["rank"] == 1}
    for qid, c in best_s.items():
        assert best_m[qid] >= c - 1e-9
    assert all(abs(best_m[q] - 1.0) < 1e-6 for q in best_m)  # self-hit rank 1


def test_repetition_stats_fractions(spark):
    """Known word histograms -> exact top/dup fractions; empty, punct-only
    and NULL texts survive with zeroed stats instead of vanishing."""
    from instructionspipe_spark.operators.textstats import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "the the the cat", "en"),  # 4 words, 2 distinct, top=3
            (2, "a b c d", "en"),  # no repetition
            (3, "", "en"),
            (4, "...!!!", "en"),
            (5, None, "en"),
        ],
        ["doc_id", "text", "lang"],
    )
    out = {r["doc_id"]: r.asDict() for r in repetition_stats(df).collect()}
    assert len(out) == 5
    assert out[1]["n_words"] == 4 and out[1]["n_distinct_words"] == 2
    assert out[1]["top_word_fraction"] == 0.75
    assert out[1]["dup_word_fraction"] == 0.5
    assert out[2]["dup_word_fraction"] == 0.0 and out[2]["n_words"] == 4
    assert out[2]["top_word_fraction"] == 0.25
    for d in (3, 4, 5):
        assert out[d]["n_words"] == 0 and out[d]["top_word_fraction"] == 0.0


def test_contamination_screen_finds_planted_overlap(spark):
    """A train doc that embeds an eval doc's sentence shares its word-5-grams;
    an unrelated train doc reports nothing."""
    from instructionspipe_spark.operators.dedup import contamination_screen, word_ngram_hash_ids

    leak = "the standardized benchmark question about ancient roman aqueduct engineering"
    train = spark.createDataFrame(
        [
            (10, f"some corpus document that quotes {leak} verbatim in the middle"),
            (11, "a totally unrelated document about deep sea hydrothermal vents"),
        ],
        ["doc_id", "text"],
    )
    ev = spark.createDataFrame([(90, leak)], ["doc_id", "text"])
    out = contamination_screen(train, ev, min_shared=3).collect()
    assert [(r["train_id"], r["eval_id"]) for r in out] == [(10, 90)]
    # the leaked sentence has len(tokens)-4 distinct 5-grams; all are shared
    n_tokens = len(leak.split())
    assert out[0]["n_shared"] == n_tokens - 4
    # the primitive: short docs (< n words) produce zero grams, not a crash
    short = spark.createDataFrame([(1, "too few words")], ["doc_id", "text"])
    assert word_ngram_hash_ids(short, "doc_id", "text", ngram_words=5).count() == 0


def test_stratified_sample_properties(spark):
    """Fraction 1 keeps a stratum wholly, 0 drops it, and the draw is
    invariant to partitioning."""
    from instructionspipe_spark.operators.sampling import stratified_sample

    rows = [(i, "a" if i % 2 else "b") for i in range(200)]
    df = spark.createDataFrame(rows, ["id", "s"])
    out = stratified_sample(df, "s", {"a": 1.0, "b": 0.0}, seed=3, id_cols=["id"])
    got = sorted(r["id"] for r in out.collect())
    assert got == [i for i in range(200) if i % 2]
    half = stratified_sample(df, "s", {"a": 0.5}, seed=3, id_cols=["id"], default_fraction=0.0)
    again = stratified_sample(
        df.repartition(13), "s", {"a": 0.5}, seed=3, id_cols=["id"], default_fraction=0.0
    )
    assert sorted(map(tuple, half.collect())) == sorted(map(tuple, again.collect()))
    n = half.count()
    assert 25 <= n <= 75  # ~Binomial(100, .5)


def test_temperature_mixture_rates(spark):
    """alpha=1 reproduces uniform global-rate sampling; alpha=0.5 gives the
    small source a strictly higher rate; rates never exceed 1."""
    from instructionspipe_spark.operators.sampling import temperature_mixture_sample

    rows = [(i, "big") for i in range(900)] + [(i + 1000, "small") for i in range(100)]
    df = spark.createDataFrame(rows, ["id", "src"])
    flat = temperature_mixture_sample(
        df, "src", target_rows=100, alpha=1.0, seed=1, id_cols=["id"], rate_col="rate"
    )
    rates = {r["src"]: r["rate"] for r in flat.select("src", "rate").distinct().collect()}
    assert rates["big"] == rates["small"] == 0.1
    temp = temperature_mixture_sample(
        df, "src", target_rows=100, alpha=0.5, seed=1, id_cols=["id"], rate_col="rate"
    )
    trates = {r["src"]: r["rate"] for r in temp.select("src", "rate").distinct().collect()}
    assert trates["small"] > trates["big"]
    assert all(0 < v <= 1 for v in trates.values())
    # expected totals stay ~target under both temperatures
    assert 60 <= flat.count() <= 140 and 60 <= temp.count() <= 140


def test_assign_shards_balanced_and_stable(spark):
    from instructionspipe_spark.operators.splitting import assign_shards

    df = spark.createDataFrame([(i,) for i in range(1600)], ["id"])
    out = assign_shards(df, 16, ["id"], seed=5)
    counts = {r["shard"]: r["count"] for r in out.groupBy("shard").count().collect()}
    assert set(counts) == set(range(16))
    assert max(counts.values()) < 3 * min(counts.values())  # uniform-ish
    again = assign_shards(df.repartition(7), 16, ["id"], seed=5)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_chunk_text_boundaries(spark):
    """Exact-fit, one-over, empty, NULL, and reconstruction invariants."""
    from instructionspipe_spark.operators.chunking import chunk_count, chunk_text

    df = spark.createDataFrame(
        [(0, "a" * 512), (1, "b" * 513), (2, ""), (3, None), (4, "short"), (5, "c" * 1000)],
        ["doc_id", "text"],
    )
    rows = chunk_text(df, "doc_id", "text", chunk_chars=512, overlap=64).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert len(by_doc[0]) == 1 and len(by_doc[0][0]["chunk_text"]) == 512
    assert len(by_doc[1]) == 2  # 513 chars -> second chunk of overlap+1
    assert by_doc[1][1]["chunk_start"] == 449 and len(by_doc[1][1]["chunk_text"]) == 65
    assert 2 not in by_doc and 3 not in by_doc  # empty/NULL -> no rows
    assert len(by_doc[4]) == 1 and by_doc[4][0]["chunk_text"] == "short"
    # stride coverage: consecutive chunks overlap by exactly 64 chars
    c5 = sorted(by_doc[5], key=lambda r: r["chunk_idx"])
    assert [r["chunk_start"] for r in c5] == [1, 449, 897]
    assert c5[0]["chunk_text"][448:] == c5[1]["chunk_text"][:64]
    # counts agree with the expression twin
    counts = {
        r["doc_id"]: r["n"]
        for r in df.select("doc_id", chunk_count(F.col("text"), 512, 64).alias("n")).collect()
    }
    assert counts == {0: 1, 1: 2, 2: 0, 3: 0, 4: 1, 5: 3}


def test_tfidf_top_terms_basic(spark):
    """Rare term outranks ubiquitous term; k bounds output; ties by term."""
    from instructionspipe_spark.operators.textstats import tfidf_top_terms

    df = spark.createDataFrame(
        [
            (0, "common common common rare"),
            (1, "common stuff here"),
            (2, "common things there"),
        ],
        ["doc_id", "text"],
    )
    rows = tfidf_top_terms(df, "doc_id", "text", k=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append((r["rnk"], r["term"], r["tfidf"]))
    top0 = sorted(by_doc[0])
    # 'rare' (df=1) must beat 'common' (df=3) despite tf 1 vs 3:
    # 3*ln(4/4)=0 < 1*ln(4/2)
    assert top0[0][1] == "rare" and top0[0][2] > 0
    assert top0[1][1] == "common" and top0[1][2] == 0.0
    assert all(len(v) <= 2 for v in by_doc.values())


def test_connected_components_basic(spark):
    """Two components + transitive chaining + determinism (min-id label)."""
    from instructionspipe_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8), (3, 4)], ["src", "dst"]
    )
    got = {r["node"]: r["component"] for r in connected_components(edges, "src", "dst").collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 8: 7}


def test_connected_components_frees_sweep_checkpoints(spark):
    """Each sweep's dead labels checkpoint is unpersisted: after a
    multi-sweep run only the RESULT frame's blocks remain cached (plus any
    pre-existing cache), not one frame per sweep."""
    from instructionspipe_spark.operators.graph import connected_components

    sc = spark.sparkContext
    before = len(sc._jsc.sc().getRDDStorageInfo())
    path = spark.createDataFrame([(i, i + 1) for i in range(12)], ["src", "dst"])
    cc = connected_components(path, "src", "dst")  # ~12 sweeps on a path graph
    assert cc.count() == 13
    after = len(sc._jsc.sc().getRDDStorageInfo())
    assert after - before <= 1, f"sweep checkpoints leaked: {after - before} frames cached"


def test_connected_components_nonconvergence_raises(spark):
    """A path graph needs diameter sweeps; a tight max_iter must raise, not
    silently return wrong labels."""
    import pytest

    from instructionspipe_spark.operators.graph import connected_components

    path = spark.createDataFrame([(i, i + 1) for i in range(12)], ["src", "dst"])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(path, "src", "dst", max_iter=3)
    # and with enough sweeps the same graph collapses to one component
    got = {r["node"]: r["component"] for r in connected_components(path, "src", "dst").collect()}
    assert set(got.values()) == {0} and len(got) == 13


def test_near_dup_components_singletons(spark):
    """Docs with no near-dups label themselves; duplicates share min id."""
    from instructionspipe_spark.operators.graph import near_dup_components

    text = "a long enough shared boilerplate passage for reliable minhash signatures"
    df = spark.createDataFrame(
        [(10, text), (11, text), (12, "completely different content about oceans and tides")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["component"] for r in near_dup_components(df, "doc_id", "text").collect()}
    assert got[10] == 10 and got[11] == 10 and got[12] == 12


def test_unigram_doc_logprob_ranks_gibberish_low(spark):
    from instructionspipe_spark.operators.textstats import unigram_doc_logprob

    common = "the cat sat on the mat and the dog sat too"
    df = spark.createDataFrame(
        [(0, common), (1, common), (2, common), (3, "zxqvw kjhgf poiuy qwert"), (4, ""), (5, None)],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in unigram_doc_logprob(df, "doc_id", "text").collect()}
    # gibberish (all hapax tokens) must score strictly below the common docs
    assert rows[3]["mean_logprob"] < rows[0]["mean_logprob"]
    assert rows[0]["mean_logprob"] == rows[1]["mean_logprob"] == rows[2]["mean_logprob"]
    # token-less docs are absent, not scored
    assert 4 not in rows and 5 not in rows
    assert rows[0]["n_tokens"] == 11


def test_cross_corpus_near_dups_fuzzy(spark):
    """Lightly edited contamination matches; unrelated text doesn't."""
    from instructionspipe_spark.operators.dedup import cross_corpus_near_dups

    base = "the quick brown fox jumps over the lazy dog near the quiet river bank again and again"
    corpus = spark.createDataFrame(
        [(0, base + " with a small trailing edit"), (1, "entirely unrelated text about spacecraft telemetry systems")],
        ["doc_id", "text"],
    )
    ev = spark.createDataFrame([(100, base)], ["eval_id", "eval_text"])
    rows = cross_corpus_near_dups(
        corpus, ev, "doc_id", "text", "eval_id", "eval_text", threshold=0.5
    ).collect()
    assert [(r["corpus_id"], r["eval_id"]) for r in rows] == [(0, 100)]
    assert 0.5 <= rows[0]["jaccard"] < 1.0


def test_persist_scope_releases_operator_caches(spark):
    """ADVICE r4: library callers invoking LSH operators directly (no
    registry query to trigger the deferred release) can bound the cache
    lifetime with session.persist_scope; exit frees exactly the frames the
    scope registered, leaving outer registrations alone."""
    from instructionspipe_spark import session as S
    from instructionspipe_spark.operators.dedup import minhash_lsh_dedup

    docs = spark.createDataFrame(
        [(i, f"document {i} body text " * 3) for i in range(20)], ["doc_id", "text"]
    )
    outer = S.managed_persist(spark.range(3))
    n_outer = len(S._PERSISTED)
    with S.persist_scope():
        minhash_lsh_dedup(docs, "doc_id", "text", threshold=0.5).count()
        assert len(S._PERSISTED) > n_outer, "operator should register caches"
        inner = S._PERSISTED[-1]
        assert inner.storageLevel.useMemory
    assert len(S._PERSISTED) == n_outer, "scope exit frees only its own frames"
    assert not inner.storageLevel.useMemory, "inner frame unpersisted"
    assert outer.storageLevel.useMemory, "outer registration untouched"
    S.release_persisted()


def test_word_block_dedup_semantics(spark):
    """C4-style block dedup: first occurrence (min doc, min position)
    survives, later duplicates are cut — including within one document —
    and edge docs (empty, NULL, shorter than one block) pass through."""
    from instructionspipe_spark.operators.dedup import word_block_dedup

    A = "a b c d"       # block of 4 words with block_words=4
    B = "e f g h"
    docs = spark.createDataFrame(
        [
            (0, f"{A} {B}"),           # first occurrence of A and B
            (1, f"{B} {A} x y"),       # both blocks cut; tail block "x y" kept
            (2, f"{A} {A}"),           # duplicate within the SAME doc: cut
            (3, ""),                   # empty: 0 blocks
            (4, None),                 # NULL text
            (5, "z"),                  # sub-block doc
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in word_block_dedup(docs, "doc_id", "text", block_words=4).collect()}
    assert (rows[0]["text"], rows[0]["n_blocks"], rows[0]["n_kept"]) == (f"{A} {B}", 2, 2)
    assert (rows[1]["text"], rows[1]["n_blocks"], rows[1]["n_kept"]) == ("x y", 3, 1)
    assert (rows[2]["text"], rows[2]["n_blocks"], rows[2]["n_kept"]) == ("", 2, 0)
    assert (rows[3]["text"], rows[3]["n_blocks"], rows[3]["n_kept"]) == ("", 0, 0)
    assert rows[4]["text"] == "" and rows[4]["n_blocks"] is None and rows[4]["n_kept"] == 0
    assert (rows[5]["text"], rows[5]["n_blocks"], rows[5]["n_kept"]) == ("z", 1, 1)


def test_word_block_dedup_two_phase_plan(spark):
    """Survivor election must be the skew-safe groupBy-min + join-back, not
    a window over the block hash (a boilerplate block repeated across the
    corpus would land on one window task)."""
    from instructionspipe_spark.operators.dedup import word_block_dedup

    docs = spark.createDataFrame([(i, "same text " * 4) for i in range(50)], "doc_id long, text string")
    out = word_block_dedup(docs, "doc_id", "text")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "partial_min" in plan
    rows = out.collect()
    assert sum(r["n_kept"] for r in rows) == 1 and rows[0] is not None


def test_lsh_bucket_stats_finds_mega_bucket(spark):
    """A boilerplate-heavy corpus must surface its mega-bucket at rank 1 in
    every band, with the count matching the duplicate population."""
    from pyspark.sql import functions as F

    from instructionspipe_spark.operators.dedup import lsh_bucket_stats

    docs = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, F.lit("the same boilerplate text repeated " * 3))
        .otherwise(F.concat(F.lit("unique "), F.md5(F.col("id").cast("string"))))
        .alias("text"),
    )
    rows = lsh_bucket_stats(docs, "doc_id", "text", top_k=3).collect()
    assert {r["band_idx"] for r in rows} == {0, 1, 2, 3}
    for b in range(4):
        top = next(r for r in rows if r["band_idx"] == b and r["rank"] == 1)
        assert top["n_docs"] >= 50, f"band {b} missed the 50-doc mega-bucket"


def test_frequent_word_ngrams_counts(spark):
    from pyspark.sql import functions as F

    from instructionspipe_spark.operators.textstats import frequent_word_ngrams

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma alpha beta gamma"), (1, "alpha beta gamma"), (2, "x"), (3, None)],
        "doc_id long, text string",
    )
    rows = {r["ngram"]: r for r in frequent_word_ngrams(docs, "text", id_col="doc_id", ngram_words=3, top_k=5).collect()}
    top = rows["alpha beta gamma"]
    # doc 0 contributes 2 occurrences (positions 1 and 4), doc 1 one more
    assert (top["n_occurrences"], top["n_docs"], top["rank"]) == (3, 2, 1)
    assert "x" not in rows  # shorter than the n-gram window


def test_char_entropy_edges(spark):
    import math

    from pyspark.sql import functions as F

    from instructionspipe_spark.operators.textstats import (
        char_entropy,
        distinct_char_count,
    )

    df = spark.createDataFrame(
        [(1, "aab"), (2, ""), (3, None), (4, "ab c"), (5, "aaaa"), (6, "abcdefgh")],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            F.round(char_entropy(F.col("text")), 6).alias("h"),
            distinct_char_count(F.col("text")).alias("nd"),
        ).collect()
    }
    assert rows[1]["h"] == round(-(2 / 3 * math.log2(2 / 3) + 1 / 3 * math.log2(1 / 3)), 6)
    assert rows[2]["h"] == 0.0 and rows[2]["nd"] == 0  # empty
    assert rows[3]["h"] is None and rows[3]["nd"] is None  # null
    assert rows[4]["h"] == 2.0 and rows[4]["nd"] == 4  # uniform over 4
    assert rows[5]["h"] == 0.0 and rows[5]["nd"] == 1  # single char
    assert rows[6]["h"] == 3.0 and rows[6]["nd"] == 8  # uniform over 8


def test_incremental_minhash_dedup(spark, tmp_path):
    from pyspark.sql import functions as F

    from instructionspipe_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_band_store,
    )
    from instructionspipe_spark.session import release_persisted

    base = (
        "the quick brown fox jumps over the lazy dog and keeps on running "
        "through the quiet green field toward the river bend every morning"
    )
    corpus = spark.createDataFrame(
        [
            (1, base),
            (2, base.replace("morning", "evening")),  # near-dup family
            (3, "completely different corpus text about spark physical plans "
                "and adaptive query execution strategies at terabyte scale"),
        ],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [
            (101, base),  # exact dup of 1 (and near 2) -> dup_of must be 1
            (102, "a genuinely novel document mentioning nothing shared with "
                  "any corpus entry whatsoever, discussing alpine botany"),
            (103, ""),  # empty -> no shingles -> kept
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in incremental_minhash_dedup(corpus, batch, "doc_id", "text").collect()
    }
    release_persisted()
    assert set(out) == {101, 102, 103}
    assert out[101]["kept"] is False and out[101]["dup_of"] == 1
    assert out[101]["jaccard"] == 1.0
    assert out[102]["kept"] is True and out[102]["dup_of"] is None
    assert out[103]["kept"] is True and out[103]["jaccard"] is None

    # signature-store round-trip: write the corpus store to parquet, read it
    # back, and the admission verdicts are identical (the 100 TB path).
    store_path = str(tmp_path / "band_store.parquet")
    minhash_band_store(corpus, "doc_id", "text").write.parquet(store_path)
    store = spark.read.parquet(store_path)
    out2 = {
        r["doc_id"]: r.asDict()
        for r in incremental_minhash_dedup(
            corpus, batch, "doc_id", "text", corpus_store=store
        ).collect()
    }
    release_persisted()
    assert out2 == out

    # A store signed with different parameters joins on incompatible band
    # hashes — without the stamp check every batch row would silently come
    # back kept=true; with it the job fails loudly.
    import pytest as _pytest

    with _pytest.raises(Exception, match="parameter mismatch"):
        incremental_minhash_dedup(
            corpus, batch, "doc_id", "text", num_perm=32, bands=8,
            corpus_store=store,
        ).collect()
    release_persisted()


def test_pq_codes_store_roundtrip(spark, tmp_path):
    """The persisted-codes path: encode once, write codebook + codes to
    parquet, score from the stored frames — results identical to the
    direct end-to-end run (the nightly-scan configuration where only
    queries change)."""
    from pyspark.sql import functions as F

    from instructionspipe_spark.operators.similarity import (
        ann_topk,
        pq_codebook_deterministic,
        pq_encode,
    )
    from instructionspipe_spark.session import release_persisted

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 101 == 0).limit(6).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    direct = {(r["query_id"], r["vec_id"], r["rank"]) for r in
              ann_topk(
                  emb, q, k=5, codec="pq", m=4, n_codes=8, rank_round=6, rerank=40
              ).collect()}
    release_persisted()

    cb = pq_codebook_deterministic(emb, m=4, n_codes=8)
    cb.write.parquet(str(tmp_path / "codebook.parquet"))
    cb_back = spark.read.parquet(str(tmp_path / "codebook.parquet"))
    pq_encode(emb, cb_back, m=4).write.parquet(str(tmp_path / "codes.parquet"))
    codes_back = spark.read.parquet(str(tmp_path / "codes.parquet"))

    stored = {(r["query_id"], r["vec_id"], r["rank"]) for r in
              ann_topk(
                  emb, q, k=5, codec="pq", m=4, n_codes=8, rank_round=6, rerank=40,
                  codebook=cb_back, codes_store=codes_back,
              ).collect()}
    release_persisted()
    assert stored == direct


def test_pq_undersized_codebook_raises(spark):
    """A corpus smaller than n_codes seeds an undersized codebook; the ADC
    LUT is looked up positionally, so a silent misalignment would corrupt
    every distance — the cardinality guard must raise instead."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from instructionspipe_spark.operators.similarity import ann_topk
    from instructionspipe_spark.session import release_persisted

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    tiny = emb.orderBy("vec_id").limit(3)  # < n_codes=8 seed vectors
    q = emb.limit(2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    with _pytest.raises(Exception, match="cardinality mismatch"):
        ann_topk(tiny, q, k=2, codec="pq", m=4, n_codes=8, rank_round=6).collect()
    release_persisted()


def test_template_block_strip(spark):
    from instructionspipe_spark.operators.dedup import template_block_strip

    tpl = "subscribe to our newsletter for updates every week thanks"  # 9 words -> 2 blocks? no: block_words=4 below
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta " + tpl),
            (2, "epsilon zeta eta theta " + tpl),
            (3, "iota kappa lamda mu " + tpl),
            (4, "unique content only here nothing shared at all"),
            (5, ""),
            (6, None),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in template_block_strip(
            docs, "doc_id", "text", block_words=4, max_doc_frequency=2
        ).collect()
    }
    # the 4-word-aligned template blocks appear in 3 docs (> 2) -> cut from
    # all three; each doc keeps its unique leading block(s).
    for i, lead in [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta theta"), (3, "iota kappa lamda mu")]:
        assert out[i]["text"].startswith(lead)
        assert "subscribe to our newsletter" not in out[i]["text"]
        assert out[i]["n_kept"] < out[i]["n_blocks"]
    # unlike word_block_dedup there is NO surviving first occurrence
    assert all("subscribe" not in out[i]["text"] for i in (1, 2, 3))
    assert out[4]["n_kept"] == out[4]["n_blocks"]  # unique doc untouched
    assert out[5]["text"] == "" and out[5]["n_blocks"] == 0
    assert out[6]["text"] == "" and out[6]["n_blocks"] is None


def test_quality_classifier_score(spark):
    """Hashed-linear scorer: deterministic pseudo-model path (pure
    expression) and trained-weights path (broadcast join), edge rows
    (empty/None text) keep=false with NULL score."""
    from pyspark.sql import functions as F

    from instructionspipe_spark.operators.textstats import quality_classifier_score

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, ""),
            (3, None),
            (4, "alpha beta gamma"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r.asDict() for r in quality_classifier_score(docs, "doc_id", "text").collect()}
    assert set(out) == {1, 2, 3, 4}
    assert out[1]["n_tokens"] == 9 and out[1]["logit"] is not None
    assert abs(out[1]["prob"] - 1 / (1 + __import__("math").exp(-out[1]["logit"]))) < 1e-5
    for i in (2, 3):
        assert out[i]["logit"] is None and out[i]["prob"] is None and out[i]["keep"] is False
    assert out[4]["keep"] == (out[4]["prob"] >= 0.5)

    # trained-weights seam: a weights frame that scores 'alpha beta gamma'
    # tokens at +1 must yield logit 1.0 -> prob ~0.731 -> keep
    from instructionspipe_spark.operators.dedup import base_hash48

    feats = (
        spark.createDataFrame([("alpha",), ("beta",), ("gamma",)], ["t"])
        .select(F.pmod(base_hash48(F.col("t")), F.lit(1024)).alias("feature"))
        .withColumn("weight", F.lit(1.0))
    )
    outw = {
        r["doc_id"]: r.asDict()
        for r in quality_classifier_score(docs, "doc_id", "text", weights=feats).collect()
    }
    assert outw[4]["logit"] == 1.0 and outw[4]["keep"] is True
    # unmatched features coalesce to 0-weight, zero-token docs restored
    assert outw[2]["logit"] is None and outw[3]["keep"] is False
    assert outw[1]["n_tokens"] == 9


def test_perplexity_buckets(spark):
    """Per-lang tercile bucketing: buckets are consistent with the cuts
    (every head score >= every middle score >= every tail score within a
    language) and zero-token docs are absent."""
    from instructionspipe_spark.operators.textstats import perplexity_buckets

    rows = []
    # lang 'en': 9 docs with increasingly repeated common tokens (higher
    # unigram logprob); lang 'de': 6 docs, plus an empty doc.
    for i in range(9):
        rows.append((i, "common " * (i + 1) + f"rare{i}", "en"))
    for i in range(9, 15):
        rows.append((i, "haus " * (i - 8) + f"wort{i}", "de"))
    rows.append((99, "", "en"))
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = perplexity_buckets(docs, "doc_id", "text", "lang").collect()
    assert all(r["doc_id"] != 99 for r in out)  # no tokens -> no score
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r)
    assert set(by_lang) == {"en", "de"}
    for lang, rs in by_lang.items():
        head = [r["mean_logprob"] for r in rs if r["bucket"] == "head"]
        mid = [r["mean_logprob"] for r in rs if r["bucket"] == "middle"]
        tail = [r["mean_logprob"] for r in rs if r["bucket"] == "tail"]
        assert head and mid and tail, f"{lang}: empty bucket"
        assert min(head) >= max(mid) and min(mid) >= max(tail)


def test_semantic_dedup(spark):
    """SemDeDup: same-cell near-identical vectors collapse to the smallest
    id; distinct vectors survive; zero vectors are excluded."""
    from instructionspipe_spark.operators.dedup import semantic_dedup
    from instructionspipe_spark.session import release_persisted

    # ids 1 and 2 are the deterministic cell seeds (orthogonal on purpose —
    # near-dups must not straddle the two cells).
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),      # seed, cell A
        (2, [0.0, 1.0, 0.0, 0.0]),      # seed, cell B
        (3, [0.999, 0.01, 0.0, 0.0]),   # cell A, ~dup of 1
        (4, [0.01, 0.999, 0.0, 0.0]),   # cell B, ~dup of 2
        (5, [0.7, 0.7, 0.1, 0.0]),      # near neither at 0.99
        (6, [0.0, 0.0, 0.0, 0.0]),      # zero vector -> excluded
        (7, [1.0, 0.001, 0.0, 0.0]),    # cell A, ~dup of 1 (and of 3)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r["vec_id"]: r.asDict() for r in semantic_dedup(df, "vec_id", "embedding", n_cells=2, threshold=0.99).collect()}
    release_persisted()
    assert 6 not in out  # zero-norm dropped
    assert out[1]["kept"] is True and out[2]["kept"] is True
    assert out[3]["kept"] is False and out[3]["dup_of"] == 1
    assert out[4]["kept"] is False and out[4]["dup_of"] == 2
    assert out[7]["kept"] is False and out[7]["dup_of"] == 1  # min id wins over 3
    assert out[5]["kept"] is True
    # pairs only within cells: the two seeds anchor different cells
    assert out[1]["cell"] != out[2]["cell"]


def test_semantic_dedup_two_level_assignment(spark):
    """assign_levels=2 (the O(n*sqrt(k)) routing): on well-separated cells
    the hierarchical assignment agrees with flat exactly — every vector
    lands in the same cell and the dedup verdicts are identical; the
    parameter guard rejects other level counts."""
    import pytest

    from instructionspipe_spark.operators.dedup import semantic_dedup
    from instructionspipe_spark.session import release_persisted

    # 4 orthogonal cell seeds (ids 1-4) + near-dups and singletons.
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 1.0, 0.0]),
        (4, [0.0, 0.0, 0.0, 1.0]),
        (5, [0.999, 0.01, 0.0, 0.0]),   # ~dup of 1
        (6, [0.0, 0.01, 0.999, 0.0]),   # ~dup of 3
        (7, [0.0, 0.0, 0.01, 0.999]),   # ~dup of 4
        (8, [0.6, 0.0, 0.0, 0.8]),      # cell 4 side, not a dup at 0.99
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    def run(levels):
        out = {
            r["vec_id"]: r.asDict()
            for r in semantic_dedup(
                df, "vec_id", "embedding", n_cells=4, threshold=0.99,
                assign_levels=levels,
            ).collect()
        }
        release_persisted()
        return out

    flat, two = run(1), run(2)
    assert {k: v["cell"] for k, v in two.items()} == {
        k: v["cell"] for k, v in flat.items()
    }
    assert {k: (v["kept"], v["dup_of"]) for k, v in two.items()} == {
        k: (v["kept"], v["dup_of"]) for k, v in flat.items()
    }
    assert two[5]["dup_of"] == 1 and two[6]["dup_of"] == 3 and two[7]["dup_of"] == 4
    with pytest.raises(ValueError, match="assign_levels"):
        semantic_dedup(df, "vec_id", "embedding", n_cells=4, assign_levels=3)


def test_semantic_dedup_trained_mode(spark):
    """KMeans-trained cells: same output contract as the deterministic twin,
    seeded-deterministic across runs, and near-identical vectors still
    collapse (trained cells can only merge them into the same cluster)."""
    from pyspark.sql import functions as F

    from instructionspipe_spark.operators.dedup import semantic_dedup
    from instructionspipe_spark.session import release_persisted

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(200)
    # plant an exact duplicate of the smallest vec_id at a fresh id
    first = emb.orderBy("vec_id").limit(1).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    df = emb.select("vec_id", "embedding").unionByName(first)
    out1 = {r["vec_id"]: r.asDict() for r in semantic_dedup(
        df, "vec_id", "embedding", n_cells=4, threshold=0.99, trained=True, seed=7
    ).collect()}
    release_persisted()
    planted = out1[1_000_000]
    assert planted["kept"] is False and planted["cosine"] == 1.0
    out2 = {r["vec_id"]: r.asDict() for r in semantic_dedup(
        df, "vec_id", "embedding", n_cells=4, threshold=0.99, trained=True, seed=7
    ).collect()}
    release_persisted()
    assert out1 == out2  # seeded determinism


def test_quality_classifier_paths_agree(spark):
    """Feeding the weights path the SAME pseudo-model as the default
    expression path (all dim feature buckets, weight (k-1000)/1000) must
    reproduce the default scores — pins the two physical plans (zero-shuffle
    higher-order aggregate vs explode + broadcast join + partial agg) to one
    semantic contract."""
    from pyspark.sql import functions as F

    from instructionspipe_spark.operators.dedup import base_hash48
    from instructionspipe_spark.operators.textstats import quality_classifier_score

    dim = 64
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    feats = spark.range(dim).select(
        F.col("id").alias("feature"),
        (
            (F.pmod(base_hash48(F.concat(F.lit("w|"), F.col("id").cast("string"))), F.lit(2001))
             - F.lit(1000)).cast("double") / F.lit(1000.0)
        ).alias("weight"),
    )
    default = {r["doc_id"]: r.asDict() for r in
               quality_classifier_score(docs, "doc_id", "text", dim=dim).collect()}
    joined = {r["doc_id"]: r.asDict() for r in
              quality_classifier_score(docs, "doc_id", "text", dim=dim, weights=feats).collect()}
    assert set(default) == set(joined)
    for k in default:
        d, j = default[k], joined[k]
        assert d["n_tokens"] == j["n_tokens"], k
        if d["logit"] is None:
            assert j["logit"] is None
        else:
            # default path sums exact integers; join path float-averages, so
            # the 6th rounded digit can differ by one step at a rounding
            # boundary (this is WHY the oracle-checked default path stays in
            # integer space) — allow exactly that one step
            assert abs(d["logit"] - j["logit"]) <= 1.01e-6, (k, d["logit"], j["logit"])


def test_lsh_greedy_filter_chain_and_capacity(spark):
    """VERDICT r7 #3: the most_dup greedy must replicate the reference's
    sequential LSH-index semantics (etl_slimpajama_dc_proc.py:147-158),
    including the subtle part pair-drop dedup gets wrong: a DROPPED doc is
    never inserted into the index, so a chain a~b, b~c (no a~c bucket)
    keeps c at most_dup=0 — b was dropped and cannot veto c."""
    from pyspark.sql import types as T

    from instructionspipe_spark.operators.dedup import _lsh_greedy_filter

    # chain via synthetic bucket memberships: a{b1}, b{b1,b2}, c{b2}
    mem = spark.createDataFrame(
        [(1, "b1"), (2, "b1"), (2, "b2"), (3, "b2")], ["__id", "__bucket"]
    )
    losers = lambda k: sorted(
        r["__loser"]
        for r in _lsh_greedy_filter(mem, k, T.LongType()).collect()
    )
    assert losers(0) == [2]  # a kept; b sees kept {a} -> dropped; c sees {} -> kept
    assert losers(1) == []   # b tolerates 1 match; c sees kept {b}: 1 match -> kept

    # capacity: a 4-clique (all share one bucket) keeps 1 at K=0, 2 at K=1,
    # 3 at K=2 (the i-th doc sees i-1 kept neighbors)
    clique = spark.createDataFrame([(i, "bx") for i in range(4)], ["__id", "__bucket"])
    for k in range(3):
        dropped = sorted(
            r["__loser"] for r in _lsh_greedy_filter(clique, k, T.LongType()).collect()
        )
        assert dropped == list(range(k + 1, 4)), (k, dropped)

    # cross-bucket union counts DISTINCT kept docs, not bucket hits:
    # d shares TWO buckets with the single kept doc a -> 1 neighbor, kept at K=1
    multi = spark.createDataFrame(
        [(1, "u1"), (1, "u2"), (5, "u1"), (5, "u2")], ["__id", "__bucket"]
    )
    assert sorted(
        r["__loser"] for r in _lsh_greedy_filter(multi, 1, T.LongType()).collect()
    ) == []


def test_minhash_lsh_dedup_most_dup_operator(spark):
    """End-to-end most_dup operator on real text: identical docs share all
    buckets, so a triple keeps 1 at most_dup=0 and 2 at most_dup=1."""
    from instructionspipe_spark.operators.dedup import minhash_lsh_dedup_most_dup

    a = "The quick brown fox jumps over the lazy dog near the river bank today"
    c = "Completely different content about quantum computing and linear algebra"
    df = spark.createDataFrame(
        [(1, a), (2, a), (3, a), (4, c)], ["id", "text"]
    )
    k0 = sorted(r["id"] for r in minhash_lsh_dedup_most_dup(df, "id", "text", most_dup=0).collect())
    k1 = sorted(r["id"] for r in minhash_lsh_dedup_most_dup(df, "id", "text", most_dup=1).collect())
    assert k0 == [1, 4]
    assert k1 == [1, 2, 4]


def test_tfidf_max_vocab_cap(spark):
    """The 100-TB vocabulary cap on tfidf_top_terms: scoring restricts to
    the max_vocab most-document-frequent terms; a cap >= |vocab| is exactly
    the uncapped result."""
    from instructionspipe_spark.operators.textstats import tfidf_top_terms

    df = spark.createDataFrame(
        [
            (1, "common common rare1"),
            (2, "common other rare2"),
            (3, "common other rare3"),
        ],
        ["id", "text"],
    )
    full = tfidf_top_terms(df, "id", "text", k=5)
    capped_wide = tfidf_top_terms(df, "id", "text", k=5, max_vocab=100)
    assert sorted(map(tuple, full.collect())) == sorted(map(tuple, capped_wide.collect()))
    # cap=2 keeps only {common, other} (df 3 and 2); rare* never scored
    capped = tfidf_top_terms(df, "id", "text", k=5, max_vocab=2)
    terms = {r["term"] for r in capped.collect()}
    assert terms <= {"common", "other"}
    assert not any(t.startswith("rare") for t in terms)


def test_most_dup_edge_cases(spark):
    """Degenerate inputs for the most_dup greedy: empty frame, all-NULL /
    empty / too-short texts (NULL signature rows never pair and pass
    through), and a single doc."""
    from pyspark.sql import types as T

    from instructionspipe_spark.operators.dedup import minhash_lsh_dedup_most_dup

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("text", T.StringType())]
    )
    empty = spark.createDataFrame([], schema)
    assert minhash_lsh_dedup_most_dup(empty, "id", "text", most_dup=1).count() == 0

    degenerate = spark.createDataFrame(
        [(1, None), (2, ""), (3, "ab"), (4, "   ")], schema
    )
    kept = sorted(
        r["id"] for r in minhash_lsh_dedup_most_dup(degenerate, "id", "text").collect()
    )
    assert kept == [1, 2, 3, 4]  # nothing shingles -> nothing pairs -> all kept

    single = spark.createDataFrame(
        [(9, "a perfectly ordinary document about nothing much")], schema
    )
    assert [r["id"] for r in minhash_lsh_dedup_most_dup(single, "id", "text").collect()] == [9]



def test_token_budget_mixture_semantics(spark):
    """N39 two-phase allocation == naive per-source running-sum prefix,
    including the edge the bucketing can get wrong: zero-token docs sitting
    exactly at the budget boundary (inclusive cumsum == budget stays in)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from instructionspipe_spark.operators.sampling import token_budget_mixture

    rows = [(i, "s1" if i < 40 else "s2", (" word" * (i % 7)).strip()) for i in range(80)]
    df = spark.createDataFrame(rows, ["id", "src", "text"])
    toks = F.size(F.split(F.col("text"), " ")) - F.when(F.col("text") == "", 1).otherwise(0)
    budget = F.when(F.col("src") == "s1", F.lit(30)).otherwise(F.lit(55))

    for chars in (1, 2):
        got = token_budget_mixture(
            df, "src", "id", toks, budget, seed=3, bucket_chars=chars
        )
        # naive single-window reference
        h = F.md5(F.concat(F.lit("3:"), F.col("id").cast("string")))
        w = Window.partitionBy("src").orderBy(h, "id").rowsBetween(Window.unboundedPreceding, 0)
        naive = (
            df.withColumn("__t", F.coalesce(toks.cast("long"), F.lit(0)))
            .withColumn("__cum", F.sum("__t").over(w))
            .filter(F.col("__cum") <= budget)
        )
        assert sorted(r["id"] for r in got.collect()) == sorted(
            r["id"] for r in naive.collect()
        ), chars

    # every kept set respects the budget and is non-trivial
    kept = token_budget_mixture(df, "src", "id", toks, budget, seed=3)
    sums = {r["src"]: r["s"] for r in kept.groupBy(F.col("src")).agg(F.sum("n_tokens").alias("s")).collect()}
    assert sums["s1"] <= 30 and sums["s2"] <= 55
    assert all(v > 0 for v in sums.values())


def test_span_dedup_semantics(spark):
    """Sliding-window span dedup is offset-invariant (catches the duplicate
    word_block_dedup's fixed blocks miss), applies the documented
    self-overlap rule, and passes short/NULL docs through."""
    from instructionspipe_spark.operators.dedup import span_dedup

    docs = spark.createDataFrame(
        [
            (0, "a b c d e f"),        # first occurrence of "a b c d"
            (1, "x x a b c d y y"),    # same 4-gram at offset 2: cut
            (2, "m m m m m m"),        # self-overlapping repeat
            (3, "p q r"),              # shorter than k: untouched
            (4, None),                 # NULL text
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in span_dedup(docs, "doc_id", "text", k=4).collect()}
    assert (rows[0]["text"], rows[0]["n_tokens"], rows[0]["n_removed"]) == ("a b c d e f", 6, 0)
    # positions 3-6 (the non-first occurrence) cut, flanks survive
    assert (rows[1]["text"], rows[1]["n_tokens"], rows[1]["n_removed"]) == ("x x y y", 8, 4)
    # "m m m m" occurs at 1,2,3; droppers 2 and 3 cover positions 2-6,
    # leaving only position 1 — the documented self-overlap rule
    assert (rows[2]["text"], rows[2]["n_tokens"], rows[2]["n_removed"]) == ("m", 6, 5)
    assert (rows[3]["text"], rows[3]["n_tokens"], rows[3]["n_removed"]) == ("p q r", 3, 0)
    assert rows[4]["text"] == "" and rows[4]["n_tokens"] is None


def test_span_dedup_stats_census(spark):
    """Per-doc duplicated-span census counts every position whose k-gram
    occurs >= 2 times corpus-wide (intra-document repeats included)."""
    from instructionspipe_spark.operators.dedup import span_dedup_stats

    docs = spark.createDataFrame(
        [
            (0, "a b c d e f"),
            (1, "x x a b c d y y"),
            (2, "m m m m m m"),
            (3, "p q r"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in span_dedup_stats(docs, "doc_id", "text", k=4).collect()}
    assert (rows[0]["n_spans"], rows[0]["n_dup_spans"], rows[0]["dup_frac"]) == (3, 1, 0.3333)
    assert (rows[1]["n_spans"], rows[1]["n_dup_spans"], rows[1]["dup_frac"]) == (5, 1, 0.2)
    assert (rows[2]["n_spans"], rows[2]["n_dup_spans"], rows[2]["dup_frac"]) == (3, 3, 1.0)
    assert (rows[3]["n_spans"], rows[3]["n_dup_spans"], rows[3]["dup_frac"]) == (0, 0, 0.0)


def test_span_dedup_two_phase_plan(spark):
    """First-occurrence election must be the skew-safe groupBy-min +
    join-back (map-side combine on the span hash), never a window over the
    hash — a boilerplate span repeated corpus-wide would serialize on one
    window task."""
    from instructionspipe_spark.operators.dedup import span_dedup, span_dedup_stats

    docs = spark.createDataFrame(
        [(i, "same boiler plate text here again " * 3) for i in range(40)],
        "doc_id long, text string",
    )
    for op in (span_dedup, span_dedup_stats):
        out = op(docs, "doc_id", "text", k=6)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan, op.__name__
        out.collect()


def test_heavy_hitters_exact_with_eviction(spark):
    """Misra-Gries candidates + exact verify must return the exact top-k
    (count desc, item asc tie-break) even when the per-partition counter
    capacity is far below the universe size — the eviction path runs, but
    every true heavy hitter clears the n/capacity floor and survives."""
    from instructionspipe_spark.operators.grouping import heavy_hitters
    from instructionspipe_spark.session import ensure_parallelism

    # 3 heavy items (600/400/200 occurrences) + 500 singletons; capacity 16
    rows = (
        [("hot-a",)] * 600 + [("hot-b",)] * 400 + [("hot-c",)] * 200
        + [(f"rare-{i}",) for i in range(500)]
    )
    df = ensure_parallelism(spark.createDataFrame(rows, "tok string"))
    got = [
        (r["tok"], r["n_occurrences"], r["rank"])
        for r in heavy_hitters(df, "tok", k=3, capacity=16).collect()
    ]
    assert got == [("hot-a", 600, 1), ("hot-b", 400, 2), ("hot-c", 200, 3)]


def test_heavy_hitters_ties_and_nulls(spark):
    """Deterministic tie-break on the item value; NULL items ignored."""
    from instructionspipe_spark.operators.grouping import heavy_hitters

    rows = [("b",)] * 5 + [("a",)] * 5 + [("c",)] * 2 + [(None,)] * 10
    df = spark.createDataFrame(rows, "tok string")
    got = [(r["tok"], r["n_occurrences"]) for r in heavy_hitters(df, "tok", k=2).collect()]
    assert got == [("a", 5), ("b", 5)]


def test_cdc_apply_changes_semantics(spark):
    """MERGE edge rules: matched-U updates, matched-D deletes, unmatched-U
    inserts, unmatched-D is a NO-OP (must not insert), untouched rows pass
    through; compaction is last-writer-wins with delete beating upsert on
    an exact seq tie."""
    from instructionspipe_spark.operators.cdc import apply_changes, latest_change_per_key

    snap = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["k", "v"]
    )
    raw = spark.createDataFrame(
        [
            (1, 1, "U", "a2"),   # matched update
            (2, 1, "D", None),   # matched delete
            (4, 1, "U", "d"),    # unmatched insert
            (5, 1, "D", None),   # unmatched delete -> no-op
            (6, 1, "U", "x"),    # tie: U and D at seq 1 -> D wins -> no-op
            (6, 1, "D", None),
            (7, 1, "U", "old"),  # superseded by seq 2
            (7, 2, "U", "new"),
        ],
        ["k", "seq", "op", "v"],
    )
    compact = latest_change_per_key(raw, "k", "seq").drop("seq")
    got = {r["k"]: r["v"] for r in apply_changes(snap, compact, "k").collect()}
    assert got == {1: "a2", 3: "c", 4: "d", 7: "new"}


def test_incremental_dedup_bucket_cap(spark):
    """bucket_cap excludes template-noise buckets from CANDIDATE generation
    only: flagged(capped) must be a subset of flagged(uncapped), a true
    near-dup whose bands are NOT in an over-cap bucket is still found, and
    template rows whose only collisions are over-cap come back kept=true."""
    from instructionspipe_spark.operators.dedup import incremental_minhash_dedup

    template = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, template) for i in range(40)]  # hot bucket: 40 identical docs
    rows += [(100, "completely unrelated unique text about spark catalyst engines")]
    corpus = spark.createDataFrame(rows, ["doc_id", "text"])
    batch = spark.createDataFrame(
        [
            (200, template),  # collides only with the hot bucket
            (201, "completely unrelated unique text about spark catalyst engine"),
        ],
        ["doc_id", "text"],
    )

    def flagged(cap):
        out = incremental_minhash_dedup(
            corpus, batch, "doc_id", "text", threshold=0.5, bucket_cap=cap
        )
        return {r["doc_id"]: r["dup_of"] for r in out.collect() if not r["kept"]}

    full, capped = flagged(None), flagged(10)
    assert set(capped) <= set(full)
    assert 200 in full and 201 in full  # uncapped finds both
    assert 201 in capped  # the small-bucket near-dup survives the cap
    assert 200 not in capped  # template row's only collisions were capped


def test_cross_corpus_bucket_cap(spark):
    """cross_corpus_near_dups' EVAL-side bucket_cap (r10, alpha-1.27 fix):
    capped matches are a subset of uncapped, a contamination pair whose
    eval bands sit in small buckets survives, and a pair findable only
    through an over-cap eval bucket is excluded."""
    from instructionspipe_spark.operators.dedup import cross_corpus_near_dups

    template = "the quick brown fox jumps over the lazy dog again and again"
    corpus = spark.createDataFrame(
        [
            (1, template),
            (2, "completely unrelated unique text about spark catalyst engines"),
        ],
        ["doc_id", "text"],
    )
    # eval side: a hot template bucket (40 identical rows) + one organic row
    ev = [(i, template) for i in range(100, 140)]
    ev += [(200, "completely unrelated unique text about spark catalyst engine")]
    eval_df = spark.createDataFrame(ev, ["eval_id", "eval_text"])

    def matches(cap):
        out = cross_corpus_near_dups(
            corpus, eval_df, "doc_id", "text", "eval_id", "eval_text",
            threshold=0.5, bucket_cap=cap,
        )
        return {(r["corpus_id"], r["eval_id"]) for r in out.collect()}

    full, capped = matches(None), matches(10)
    assert capped <= full
    assert (2, 200) in full and (1, 100) in full
    assert (2, 200) in capped  # small-bucket contamination survives
    assert not any(c == 1 for c, _ in capped)  # template-only pairs excluded


def test_scale_safe_defaults(spark):
    """r11 default flip (VERDICT r10 #1): a NAIVE caller now gets the
    scale-safe shapes. Default bucket_cap behavior == the explicit
    constant, differs from the faithful uncapped opt-out on adversarial
    template mass; semantic_dedup's default routing resolves flat at small
    n_cells and hierarchical above FLAT_ASSIGN_MAX_CELLS."""
    from pyspark.sql import functions as F

    from instructionspipe_spark.operators.dedup import (
        DEFAULT_BUCKET_CAP,
        DEFAULT_EVAL_BUCKET_CAP,
        cross_corpus_near_dups,
        incremental_minhash_dedup,
        semantic_dedup,
    )
    from instructionspipe_spark.operators.similarity import FLAT_ASSIGN_MAX_CELLS
    from instructionspipe_spark.session import release_persisted

    template = "the quick brown fox jumps over the lazy dog again and again"
    organic = "completely unrelated unique text about spark catalyst engines"
    # corpus: over-cap boilerplate bucket (DEFAULT_BUCKET_CAP+6 identical
    # rows) + one organic row
    corpus = spark.createDataFrame(
        [(i, template) for i in range(DEFAULT_BUCKET_CAP + 6)] + [(999, organic)],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [(2000, template), (2001, organic)], ["doc_id", "text"]
    )

    def verdicts(**kw):
        out = {
            r["doc_id"]: r["kept"]
            for r in incremental_minhash_dedup(
                corpus, batch, "doc_id", "text", threshold=0.5, **kw
            ).collect()
        }
        release_persisted()
        return out

    default = verdicts()
    assert default == verdicts(bucket_cap=DEFAULT_BUCKET_CAP)
    assert default[2000] is True  # template collisions excluded by default
    assert default[2001] is False  # organic near-dup still flagged
    uncapped = verdicts(bucket_cap=None)
    assert uncapped[2000] is False  # the faithful opt-out finds it

    # cross-corpus: over-cap EVAL template bucket + one organic eval row
    ev = spark.createDataFrame(
        [(i, template) for i in range(100, 100 + DEFAULT_EVAL_BUCKET_CAP + 4)]
        + [(500, organic)],
        ["eval_id", "eval_text"],
    )
    small_corpus = spark.createDataFrame(
        [(1, template), (2, organic)], ["doc_id", "text"]
    )

    def matches(**kw):
        out = {
            (r["corpus_id"], r["eval_id"])
            for r in cross_corpus_near_dups(
                small_corpus, ev, "doc_id", "text", "eval_id", "eval_text",
                threshold=0.5, **kw
            ).collect()
        }
        release_persisted()
        return out

    dmatches = matches()
    assert dmatches == matches(bucket_cap=DEFAULT_EVAL_BUCKET_CAP)
    assert (2, 500) in dmatches  # organic contamination survives the cap
    assert not any(c == 1 for c, _ in dmatches)  # template-only pairs excluded
    assert (1, 100) in matches(bucket_cap=None)  # faithful opt-out finds them

    # semantic_dedup adaptive routing: default == flat at small k,
    # default == two-level above the threshold
    assert FLAT_ASSIGN_MAX_CELLS == 100
    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .filter(F.col("vec_id") < 130)
        .select("vec_id", "embedding")
    )

    def sd(n_cells, levels):
        out = {
            r["vec_id"]: (r["cell"], r["kept"], r["dup_of"])
            for r in semantic_dedup(
                emb, "vec_id", "embedding", n_cells=n_cells, threshold=0.8,
                assign_levels=levels,
            ).collect()
        }
        release_persisted()
        return out

    assert sd(7, None) == sd(7, 1)
    big_k = FLAT_ASSIGN_MAX_CELLS + 1
    assert sd(big_k, None) == sd(big_k, 2)


def test_validation_guards(spark):
    """Invalid-argument guards raise ValueError (not stripped-under-O
    asserts), and a malformed CDC op fails loudly instead of silently
    deleting the matched snapshot row."""
    import pytest

    from instructionspipe_spark.operators.cdc import apply_changes
    from instructionspipe_spark.operators.dedup import _span_frames
    from instructionspipe_spark.operators.grouping import heavy_hitters
    from instructionspipe_spark.sources.bucketing import write_bucketed
    from instructionspipe_spark.sources.layout import zorder_key

    df = spark.createDataFrame([("x",)], "tok string")
    with pytest.raises(ValueError, match="capacity"):
        heavy_hitters(df, "tok", k=5, capacity=3)
    with pytest.raises(ValueError, match="window size k"):
        _span_frames(df.withColumnRenamed("tok", "text"), "text", "text", 1)
    with pytest.raises(ValueError, match="overflow"):
        zorder_key([F.col("a")] * 8, bits=8)
    with pytest.raises(ValueError, match="invalid table name"):
        write_bucketed(df, "db.schema.tbl", ["tok"], 4)
    with pytest.raises(ValueError, match="invalid table name"):
        write_bucketed(df, "evil`; drop", ["tok"], 4)

    snap = spark.createDataFrame([(1, "a")], ["k", "v"])
    bad = spark.createDataFrame([(1, None, "a2")], "k int, op string, v string")
    with pytest.raises(Exception, match="op must be 'U' or 'D'"):
        apply_changes(snap, bad, "k").collect()
    # strict=True raises EAGERLY — even under a downstream plan (count)
    # that prunes the change side and never evaluates the in-plan guard
    # (ADVICE r9: the row-level raise_error is action-dependent).
    with pytest.raises(ValueError, match="strict"):
        apply_changes(snap, bad, "k", strict=True)
    bad2 = spark.createDataFrame([(1, "X", "a2")], "k int, op string, v string")
    with pytest.raises(ValueError, match="strict"):
        apply_changes(snap, bad2, "k", strict=True)
    good = spark.createDataFrame([(1, "U", "a2")], "k int, op string, v string")
    assert apply_changes(snap, good, "k", strict=True).count() == 1


def test_scd2_intervals_edges(spark):
    """SCD2 edge rules: a single event opens one open-ended interval;
    consecutive equal values collapse; equal timestamps order by the
    tiebreak column; intervals chain contiguously (valid_to of row i equals
    valid_from of row i+1)."""
    from instructionspipe_spark.operators.eventflow import scd2_intervals

    rows = [
        # user 1: a,a,b at ts 1,2,3 -> [a@1..3) [b@3..)
        (1, "a", 1, 10),
        (1, "a", 2, 11),
        (1, "b", 3, 12),
        # user 2: equal ts 5, tiebreak orders x(id=1) then y(id=2)
        (2, "x", 5, 1),
        (2, "y", 5, 2),
        # user 3: single event -> open interval
        (3, "z", 7, 30),
    ]
    df = spark.createDataFrame(rows, ["uid", "state", "ts", "eid"])
    got = sorted(
        map(tuple, scd2_intervals(df, "uid", "state", "ts", "eid").collect())
    )
    assert got == sorted(
        [
            (1, "a", 1, 3),
            (1, "b", 3, None),
            (2, "x", 5, 5),
            (2, "y", 5, None),
            (3, "z", 7, None),
        ]
    )
