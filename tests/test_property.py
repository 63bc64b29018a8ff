"""Property-based differential tests (hypothesis) — SURVEY.md §5 item 4."""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@st.composite
def asof_inputs(draw):
    keys = ["a", "b"]
    n_left = draw(st.integers(1, 8))
    n_right = draw(st.integers(0, 8))
    left = [(draw(st.sampled_from(keys)), draw(st.integers(0, 50))) for _ in range(n_left)]
    right = [
        (draw(st.sampled_from(keys)), draw(st.integers(0, 50)), f"v{i}")
        for i in range(n_right)
    ]
    return left, right


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(asof_inputs())
def test_asof_join_matches_pandas_merge_asof(spark, data):
    """asof_join (union + window implementation) must agree with pandas
    merge_asof on (value is from the latest right ts <= left ts, per key) —
    modulo tie-break: our op picks the LAST right row at equal (key, ts),
    pandas merge_asof also takes the last. Right side deduped on (key, ts)
    to make the expected value unique."""
    from instructionspipe_spark.operators.asof import asof_join

    left_rows, right_rows = data
    # dedup right on (key, ts): keep last — matches both semantics
    rdict = {}
    for k, t, v in right_rows:
        rdict[(k, t)] = v
    right_rows = [(k, t, v) for (k, t), v in rdict.items()]

    left = spark.createDataFrame(left_rows, ["k", "t"])
    right = spark.createDataFrame(right_rows, ["k", "rt", "v"]) if right_rows else None

    if right is None:
        return

    got = {
        (r["k"], r["t"], i): r["v"]
        for i, r in enumerate(
            asof_join(left, right, "k", "t", "rt", ["v"]).orderBy("k", "t").collect()
        )
    }

    lp = pd.DataFrame(left_rows, columns=["k", "t"]).sort_values("t", kind="stable")
    rp = pd.DataFrame(right_rows, columns=["k", "rt", "v"]).sort_values("rt", kind="stable")
    merged = pd.merge_asof(lp, rp, left_on="t", right_on="rt", by="k").sort_values(["k", "t"], kind="stable")
    want = {
        (row.k, row.t, i): (None if pd.isna(row.v) else row.v)
        for i, row in enumerate(merged.itertuples(index=False))
    }
    assert got == want


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.text(
            alphabet=st.sampled_from("abc XYZ123 .,!?-_é?ü\n\t"), min_size=0, max_size=30
        ),
        min_size=1,
        max_size=6,
    )
)
def test_minhash_empty_and_short_never_collide_nonempty(spark, texts):
    """Short/empty texts yield empty shingle sets -> NULL-entry signatures;
    they must never produce LSH candidates (and never crash)."""
    from pyspark.sql import functions as F

    from instructionspipe_spark.operators.dedup import minhash_signature

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["id", "text"])
    rows = df.select("id", "text", minhash_signature(F.col("text"), 4).alias("s")).collect()
    for r in rows:
        import re
        # mirror of char_ngrams' [^\p{L}\p{N}\s] (Python re lacks \p classes;
        # Unicode \w minus underscore is the same set for this alphabet)
        norm = re.sub(r"\s+", " ", re.sub(r"[^\w\s]|_", "", r["text"].lower())).strip()
        if len(norm) < 3:
            assert r["s"] is None or all(v is None for v in r["s"])
        else:
            assert r["s"] is not None and all(v is not None for v in r["s"])


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(st.tuples(st.sampled_from("pqr"), st.integers(0, 100)), min_size=1, max_size=20),
    st.integers(1, 5),
)
def test_capped_sample_cap_and_partition_invariance(spark, rows, cap):
    from instructionspipe_spark.operators.sampling import capped_group_sample

    df = spark.createDataFrame([(k, v, i) for i, (k, v) in enumerate(rows)], ["k", "v", "uid"])
    out = capped_group_sample(df, ["k"], cap, seed=2, id_cols=["uid"])
    counts = {r["k"]: r["cnt"] for r in out.groupBy("k").agg(__import__("pyspark").sql.functions.count("*").alias("cnt")).collect()}
    from collections import Counter
    full = Counter(k for k, _ in rows)
    for k, n in counts.items():
        assert n == min(full[k], cap)
    again = capped_group_sample(df.repartition(5), ["k"], cap, seed=2, id_cols=["uid"])
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.sampled_from("xyz"), st.integers(-1000, 1000)),
        min_size=1,
        max_size=30,
    ),
    st.integers(2, 16),
)
def test_salted_aggregate_invariant_to_buckets(spark, rows, buckets):
    """Salting is semantically invisible: results equal the plain groupBy
    for ANY bucket count and any data."""
    from pyspark.sql import functions as F

    from instructionspipe_spark.operators.skew import salted_aggregate

    df = spark.createDataFrame(rows, ["k", "v"])
    got = {
        r["k"]: (r["n"], r["total"], r["mx"])
        for r in salted_aggregate(
            df, ["k"], {"n": ("count", "*"), "total": ("sum", "v"), "mx": ("max", "v")},
            salt_buckets=buckets,
        ).collect()
    }
    want = {
        r["k"]: (r["n"], r["total"], r["mx"])
        for r in df.groupBy("k")
        .agg(F.count("*").alias("n"), F.sum("v").alias("total"), F.max("v").alias("mx"))
        .collect()
    }
    assert got == want


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.text(alphabet=st.sampled_from("abcdef ghij"), min_size=0, max_size=40),
        min_size=1,
        max_size=8,
    )
)
def test_simhash_near_dedup_radius_monotone(spark, texts):
    """Survivor sets shrink (or stay equal) as the Hamming radius grows, and
    identical texts always collapse regardless of radius."""
    from instructionspipe_spark.operators.dedup import simhash_near_dedup

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["doc_id", "text"])
    s1 = {r["doc_id"] for r in simhash_near_dedup(df, "doc_id", "text", bands=4, radius=1).collect()}
    s3 = {r["doc_id"] for r in simhash_near_dedup(df, "doc_id", "text", bands=4, radius=3).collect()}
    assert s3 <= s1  # bigger radius never keeps more
    # identical non-short texts collapse to the min id
    seen = {}
    for i, t in enumerate(texts):
        seen.setdefault(t, []).append(i)
    for t, ids in seen.items():
        norm = t.replace(" ", "")
        if len(ids) > 1 and len(norm) >= 3:
            assert set(ids[1:]) & s3 == set()


def test_incremental_dedup_invariants(spark):
    """Admission invariants: (1) every non-kept row clears the threshold and
    names a corpus id; (2) re-admitting the corpus against itself flags
    every row as an exact dup (identical text shares ALL bands, so the
    candidate is guaranteed, and jaccard is exactly 1.0); (3) an empty
    batch yields an empty verdict frame."""
    from pyspark.sql import functions as F

    from instructionspipe_spark.operators.dedup import incremental_minhash_dedup
    from instructionspipe_spark.session import release_persisted

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter(F.col("doc_id") < 60)
        .select("doc_id", "text")
    )
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    out = incremental_minhash_dedup(corpus, batch, "doc_id", "text", threshold=0.5).collect()
    release_persisted()
    assert len(out) == batch.count()
    for r in out:
        if not r["kept"]:
            assert r["jaccard"] >= 0.5 and r["dup_of"] is not None
        else:
            assert r["dup_of"] is None and r["jaccard"] is None

    # self-admission: every corpus doc is its own exact dup (dup_of may be
    # an earlier EQUAL-text doc, so assert jaccard==1.0, not id equality)
    self_out = incremental_minhash_dedup(
        corpus, corpus.selectExpr("doc_id + 1000000 AS doc_id", "text"),
        "doc_id", "text", threshold=0.5,
    ).collect()
    release_persisted()
    assert all(not r["kept"] and r["jaccard"] == 1.0 for r in self_out)

    empty = incremental_minhash_dedup(
        corpus, batch.filter(F.lit(False)), "doc_id", "text"
    ).collect()
    release_persisted()
    assert empty == []


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.text(
            alphabet=st.characters(
                codec="utf-8", exclude_categories=("Cs",)  # valid, no lone surrogates
            ),
            max_size=40,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_char_entropy_property(spark, texts):
    """char_entropy == a pure-Python Counter + log2 reference at 6 digits
    on arbitrary unicode (incl. astral-plane emoji, CJK, combining marks):
    Spark's split('') yields CODE POINTS, exactly what iterating a Python
    str counts. Also pins the analytic bounds: 0 <= H <= log2(distinct)."""
    import math
    from collections import Counter

    from pyspark.sql import functions as F

    from instructionspipe_spark.operators.textstats import (
        char_entropy,
        distinct_char_count,
    )

    df = spark.createDataFrame(list(enumerate(texts)), "i long, text string")
    rows = df.select(
        "i",
        F.round(char_entropy(F.col("text")), 6).alias("h"),
        distinct_char_count(F.col("text")).alias("nd"),
    ).collect()
    for r in rows:
        text = texts[r["i"]]
        counts = Counter(text)
        want = -sum(c / len(text) * math.log2(c / len(text)) for _, c in sorted(counts.items()))
        # one 6th-digit step of slack: the JVM's log2 is log(x)/log(2)
        assert math.isclose(r["h"], round(want, 6), abs_tol=1e-6), (text, r["h"], want)
        assert r["nd"] == len(counts)
        if r["nd"] > 0:
            assert 0.0 <= r["h"] <= round(math.log2(r["nd"]), 6) + 1e-6


@st.composite
def span_corpora(draw):
    """Small corpora from a 3-word vocabulary — dense k-gram collisions by
    construction, so duplicated spans, self-overlap runs, and short docs
    all occur organically."""
    n_docs = draw(st.integers(1, 6))
    docs = []
    for i in range(n_docs):
        n = draw(st.integers(0, 12))
        words = [draw(st.sampled_from(["a", "b", "c"])) for _ in range(n)]
        docs.append((i, " ".join(words)))
    k = draw(st.integers(2, 4))
    return docs, k


def _span_dedup_reference(docs: list, k: int):
    """Pure-Python oracle for span_dedup's documented rule: every k-gram
    occurring >= 2 times survives only at its minimal (doc, pos); any token
    position covered by a NON-FIRST occurrence is cut."""
    toks = {i: (t.split() if t else []) for i, t in docs}
    occ: dict = {}
    for i, w in sorted(toks.items()):
        for p in range(len(w) - k + 1):
            occ.setdefault(tuple(w[p : p + k]), []).append((i, p))
    covered = set()
    for places in occ.values():
        if len(places) > 1:
            for (i, p) in sorted(places)[1:]:
                for q in range(p, p + k):
                    covered.add((i, q))
    out = {}
    for i, w in toks.items():
        kept = [t for q, t in enumerate(w) if (i, q) not in covered]
        out[i] = (" ".join(kept), len(w), len(w) - len(kept))
    return out


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(span_corpora())
def test_span_dedup_matches_reference(spark, data):
    """span_dedup must agree with the brute-force per-position reference on
    dense random corpora (text, n_tokens, n_removed all equal), and
    span_dedup_stats' census must equal the reference's duplicated-position
    count derived the same way."""
    from instructionspipe_spark.operators.dedup import span_dedup, span_dedup_stats

    docs, k = data
    df = spark.createDataFrame(docs, "doc_id long, text string")
    expected = _span_dedup_reference(docs, k)
    got = {
        r["doc_id"]: (r["text"], r["n_tokens"], r["n_removed"])
        for r in span_dedup(df, "doc_id", "text", k=k).collect()
    }
    assert got == expected

    # stats census: per-doc count of positions whose k-gram occurs >= 2 times
    toks = {i: (t.split() if t else []) for i, t in docs}
    occ: dict = {}
    for i, w in sorted(toks.items()):
        for p in range(len(w) - k + 1):
            occ.setdefault(tuple(w[p : p + k]), []).append((i, p))
    exp_stats = {}
    for i, w in toks.items():
        n_spans = max(len(w) - k + 1, 0)
        n_dup = sum(
            1
            for p in range(n_spans)
            if len(occ[tuple(w[p : p + k])]) > 1
        )
        exp_stats[i] = (n_spans, n_dup)
    got_stats = {
        r["doc_id"]: (r["n_spans"], r["n_dup_spans"])
        for r in span_dedup_stats(df, "doc_id", "text", k=k).collect()
    }
    assert got_stats == exp_stats


@st.composite
def cdc_inputs(draw):
    snap_keys = draw(st.lists(st.integers(0, 12), min_size=0, max_size=8, unique=True))
    snapshot = [(k, f"s{k}") for k in snap_keys]
    n_ch = draw(st.integers(0, 12))
    changes = [
        (
            draw(st.integers(0, 15)),
            draw(st.integers(1, 4)),
            draw(st.sampled_from(["U", "D"])),
            f"c{i}",
        )
        for i in range(n_ch)
    ]
    return snapshot, changes


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(cdc_inputs())
def test_cdc_apply_matches_sequential_replay(spark, data):
    """apply_changes(latest_change_per_key(feed)) must equal replaying the
    feed sequentially (seq order; within a seq tie the delete wins, and a
    same-seq upsert pair is excluded by generating unique (key, seq) —
    compaction assumes a deterministic winner)."""
    from instructionspipe_spark.operators.cdc import apply_changes, latest_change_per_key

    snapshot, changes = data
    # unique (key, seq) with at most one op — keep the LAST generated for a
    # (k, seq) pair, preferring 'D' (the compaction tie rule) so the
    # sequential reference is deterministic too.
    byks = {}
    for k, seq, op, v in changes:
        prev = byks.get((k, seq))
        if prev is None or (op == "D" and prev[2] != "D"):
            byks[(k, seq)] = (k, seq, op, v)
    changes = sorted(byks.values(), key=lambda r: (r[1], r[0]))

    # sequential replay reference
    state = {k: v for k, v in snapshot}
    for k, seq, op, v in changes:  # already seq-ordered
        if op == "D":
            state.pop(k, None)
        else:
            state[k] = v

    snap_df = spark.createDataFrame(snapshot, "k INT, v STRING") if snapshot else (
        spark.createDataFrame([], "k INT, v STRING")
    )
    ch_df = spark.createDataFrame(changes, "k INT, seq INT, op STRING, v STRING") if changes else (
        spark.createDataFrame([], "k INT, seq INT, op STRING, v STRING")
    )
    compact = latest_change_per_key(ch_df, "k", "seq").drop("seq")
    got = {r["k"]: r["v"] for r in apply_changes(snap_df, compact, "k").collect()}
    assert got == state


@settings(
    deadline=None, max_examples=30, suppress_health_check=[HealthCheck.too_slow]
)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-10_000_000, max_value=10_000_000),
            st.integers(min_value=1, max_value=4_000_000),
        ),
        min_size=1,
        max_size=40,
        unique=True,
    ),
    st.integers(min_value=1, max_value=6),
)
def test_decimal_quantized_round_matches_duckdb(spark, ratios, digits):
    """The r8/r9 escape class, pinned as a property: for exact decimal
    rationals k/n (the judge-ratio / classifier-logit / transition-
    probability shape, including values landing EXACTLY on .xx5 round
    boundaries), Spark's round-through-DECIMAL(25,10) must equal DuckDB's
    bit-for-bit. A plain double ROUND fails this property (Spark rounds
    the shortest decimal repr HALF_UP, DuckDB rounds the binary value) —
    the discipline every registry ratio now uses must keep both engines
    agreeing."""
    import duckdb
    from pyspark.sql import functions as F

    df = spark.createDataFrame(ratios, "k LONG, n LONG")
    got = {
        (r["k"], r["n"]): r["r"]
        for r in df.select(
            "k",
            "n",
            F.round(
                (F.col("k").cast("double") / F.col("n")).cast("decimal(25,10)"),
                digits,
            )
            .cast("double")
            .alias("r"),
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (k BIGINT, n BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", ratios)
    want = {
        (k, n): r
        for k, n, r in con.execute(
            "SELECT k, n, CAST(ROUND(CAST(CAST(k AS DOUBLE) / n AS DECIMAL(25,10)), "
            f"{digits}) AS DOUBLE) FROM t"
        ).fetchall()
    }
    assert got == want


@given(cap=st.integers(min_value=1, max_value=12))
@settings(max_examples=4, deadline=None, suppress_health_check=list(HealthCheck))
def test_bucket_cap_subset_law_any_cap(spark, cap):
    """For ANY cap value, both capped banded joins (N54) are candidate
    RESTRICTIONS: the capped flag/match set is a subset of the uncapped
    one, and every emitted verdict still clears the verification threshold
    — the cap can only remove pairs, never invent or corrupt one."""
    from pyspark.sql import functions as F

    from instructionspipe_spark.operators.dedup import (
        cross_corpus_near_dups,
        incremental_minhash_dedup,
    )
    from instructionspipe_spark.session import release_persisted

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter(F.col("doc_id") < 80)
        .select("doc_id", "text")
    )
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    batch = docs.filter(F.col("doc_id") % 3 == 0)

    def flags(c):
        out = incremental_minhash_dedup(
            corpus, batch, "doc_id", "text", threshold=0.5, bucket_cap=c
        ).collect()
        release_persisted()
        return {r["doc_id"]: r["dup_of"] for r in out if not r["kept"]}

    full, capped = flags(None), flags(cap)
    assert set(capped) <= set(full)

    ev = batch.select(
        F.col("doc_id").alias("eval_id"),
        F.expr("substring(text, 1, (length(text) * 4) div 5)").alias("eval_text"),
    )

    def matches(c):
        out = cross_corpus_near_dups(
            corpus, ev, "doc_id", "text", "eval_id", "eval_text",
            threshold=0.5, bucket_cap=c,
        ).collect()
        release_persisted()
        assert all(r["jaccard"] >= 0.5 for r in out)
        return {(r["corpus_id"], r["eval_id"]) for r in out}

    xfull, xcapped = matches(None), matches(cap)
    assert xcapped <= xfull


def test_two_level_all_probes_equals_flat(spark):
    """Probing EVERY super (super_probes = n_super) makes the hierarchical
    assignment's candidate set the full cell set, so N55 must degrade to
    EXACTLY the flat assignment — cells, verdicts, dup_of, cosines — on
    arbitrary (not well-separated) real vectors. This pins that the
    two-level machinery introduces no semantics of its own beyond
    candidate restriction."""
    import math

    from pyspark.sql import functions as F

    from instructionspipe_spark.operators.dedup import semantic_dedup
    from instructionspipe_spark.session import release_persisted

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .filter(F.col("vec_id") < 120)
        .select("vec_id", "embedding")
    )
    n_cells = 7
    n_super = math.isqrt(n_cells - 1) + 1

    def run(levels, probes=2):
        out = {
            r["vec_id"]: (r["cell"], r["kept"], r["dup_of"], r["cosine"])
            for r in semantic_dedup(
                emb, "vec_id", "embedding", n_cells=n_cells, threshold=0.8,
                assign_levels=levels, super_probes=probes,
            ).collect()
        }
        release_persisted()
        return out

    flat = run(1)
    all_probes = run(2, probes=n_super)
    assert all_probes == flat
    # and the restricted (default-probe) variant only RE-ROUTES — same row
    # set, every cosine it emits is a true >=threshold pair
    restricted = run(2)
    assert set(restricted) == set(flat)
    assert all(
        c is None or c >= 0.8 for (_, _, _, c) in restricted.values()
    )


@pytest.mark.parametrize(
    "codec",
    [
        dict(codec="none", rank_round=4),
        dict(codec="pq", m=4, n_codes=8, rank_round=6, rerank=20),
        dict(codec="sq8", rerank=20),
    ],
    ids=["none", "pq", "sq8"],
)
def test_ivf_two_level_all_probes_equals_flat(spark, codec):
    """The IVF twin of the N55 pin: probing EVERY super makes the two-level
    corpus assignment's candidate set the full centroid set, so the
    emitted top-k must EXACTLY equal the flat quantizer's — the two-level
    machinery restricts candidates, it introduces no ranking of its own.
    Routing sits in the coarse quantizer, not the codec, so this holds for
    every codec: two-level IVFADC and IVF-SQ8 come with IVF's. At default
    probes the same queries still get k rows each (only corpus CELL
    membership can differ)."""
    import math

    from pyspark.sql import functions as F

    from instructionspipe_spark.operators.similarity import ann_topk
    from instructionspipe_spark.session import release_persisted

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .filter(F.col("vec_id") < 150)
        .select("vec_id", "embedding")
    )
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    n_cells = 25
    n_super = math.isqrt(n_cells - 1) + 1

    def run(levels, probes=2):
        out = {
            (r["query_id"], r["rank"]): (r["vec_id"], round(r["cosine"], 4))
            for r in ann_topk(
                emb, q, k=5, n_cells=n_cells, n_probe=3, assign_levels=levels,
                super_probes=probes, **codec,
            ).collect()
        }
        release_persisted()
        return out

    flat = run(1)
    assert len(flat) == 15
    assert run(2, probes=n_super) == flat
    restricted = run(2)
    # same query set, k rows each; restricted may re-route boundary cells
    assert {qk for qk, _ in restricted} == {qk for qk, _ in flat}
