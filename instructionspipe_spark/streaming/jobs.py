"""Streaming jobs (SURVEY.md §2.10).

The reference's only "streaming" is a readline loop with in-memory dedup
state (``apps/etl/etl_slimpajama_dc_proc.py:119-166``) and append-mode JSONL
sinks — single process, state lost on crash. Here the same jobs are
Structured Streaming: checkpointed file-source ingest, watermarked stateful
dedup (bounded state — the reference's Set grows forever), and event-time
tumbling/sliding/session windows with late-data handling, none of which the
reference can express (its README concedes no end-to-end streaming,
README.md:95-97).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Pinned state-store configuration for PRODUCTION LARGE-STATE streaming
#: jobs (r10 probe, BENCH_STREAMING.md "Provider decision", re-measured at
#: three decades incl. sf100 = 100M events / 3.39M state rows): the default
#: HDFS-backed provider holds peak state ON the executor JVM heap (measured
#: 19.6 MB -> 201 MB -> 2.68 GB across the decades, exactly 10x per decade
#: under a fixed watermark horizon) and is FASTER while heap is abundant
#: (75 s vs RocksDB's 157 s at sf100 under a 48 GB probe heap — RocksDB
#: pays memtable/compaction per batch). The decision is therefore a memory
#: SIZING rule: keep the default provider while peak state bytes stay under
#: ~20% of executor heap; switch to RocksDB (off-heap, bounded block
#: cache, spills to local disk, changelog checkpointing) when state
#: approaches heap scale or is unpredictable — on 8-16 GB production
#: executors sharing heap with wide shuffles, a multi-GB GC-visible state
#: store is an OOM hazard and the next decade is unrunnable. Apply with
#: ``for k, v in RECOMMENDED_STATE_CONF.items(): spark.conf.set(k, v)``
#: before starting large-state queries; the oracle twins deliberately run
#: the default provider so the driver gate covers it too.
RECOMMENDED_STATE_CONF = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
    # incremental (changelog) checkpoints: upload per-batch deltas instead of
    # full RocksDB snapshots.
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
    # bound native memory: cap write buffers (memtables) and total memory per
    # node so off-heap state can't grow unobserved next to the JVM heap.
    "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage": "true",
    "spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB": "2048",
    "spark.sql.streaming.stateStore.rocksdb.writeBufferSizeMB": "64",
    "spark.sql.streaming.stateStore.rocksdb.maxWriteBufferNumber": "3",
}

#: provider conf key + the default (HDFS-backed, on-heap) provider class —
#: used to restore a session after a scoped RocksDB run.
_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"
_DEFAULT_PROVIDER = "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"


def apply_recommended_state_conf(spark: SparkSession) -> dict:
    """Apply :data:`RECOMMENDED_STATE_CONF` to the session and return the
    previous values of every key touched (``None`` where unset), so a
    caller can scope the provider switch::

        prev = apply_recommended_state_conf(spark)
        try:
            ...  # start stateful streaming queries
        finally:
            restore_state_conf(spark, prev)

    Provider choice binds per-QUERY at first checkpoint, not per-batch —
    apply before ``.start()``; an existing checkpoint keeps the provider
    it was created with.
    """
    prev: dict = {}
    for k, v in RECOMMENDED_STATE_CONF.items():
        try:
            prev[k] = spark.conf.get(k)
        except Exception:
            prev[k] = None
        spark.conf.set(k, v)
    return prev


def restore_state_conf(spark: SparkSession, prev: dict) -> None:
    """Undo :func:`apply_recommended_state_conf` from its returned dict."""
    for k, v in prev.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def read_jsonl_stream(
    spark: SparkSession, path: str, schema: T.StructType, max_files_per_trigger: int = 10
) -> DataFrame:
    """File-source streaming JSONL scan (S2): each micro-batch picks up new
    files; schema is mandatory (no inference mid-stream)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(path)
    )


def streaming_dedup(df: DataFrame, keys: list[str], ts_col: str, watermark: str = "1 hour") -> DataFrame:
    """Watermarked streaming dedup (G4 at scale): exact-key dedup with state
    that expires past the watermark instead of growing unboundedly."""
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def tumbling_window_agg(
    df: DataFrame, ts_col: str, window: str, aggs: dict[str, str], watermark: str = "1 hour"
) -> DataFrame:
    """Event-time tumbling window aggregation; ``aggs`` maps column -> fn."""
    exprs = [getattr(F, fn)(c).alias(f"{fn}_{c}") for c, fn in aggs.items()]
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window))
        .agg(*exprs)
        .select(F.col("window.start").alias("window_start"), F.col("window.end").alias("window_end"), *[F.col(f"{fn}_{c}") for c, fn in aggs.items()])
    )


_MEM_SINK_SEQ = iter(range(1, 1_000_000))


def run_stream_to_table(df: DataFrame, output_mode: str) -> str:
    """Execute a streaming DataFrame to completion into an in-session memory
    sink (``availableNow`` trigger — drain everything currently available,
    then stop) and return the sink's table name. The batch-equivalence
    harness: the same semantics expressed as a stream land in a table a
    batch oracle can diff. Memory sink is per-session/driver-bounded — a
    production job swaps in a file/kafka sink; the STREAM side (joins,
    windows, watermarks) is identical.

    Streaming shuffles bypass AQE, so the state-store partition count is
    whatever ``spark.sql.shuffle.partitions`` says at START (then frozen
    into the checkpoint). Pin it to the cluster parallelism for the run and
    restore the caller's value after — a 200-partition state store on a
    32-core drain is pure task overhead."""
    spark = df.sparkSession
    name = f"__stream_result_{next(_MEM_SINK_SEQ)}"
    prev = spark.conf.get("spark.sql.shuffle.partitions", None)
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
    )
    try:
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        else:
            spark.conf.unset("spark.sql.shuffle.partitions")
    return name


def run_stream_to_df(df: DataFrame, output_mode: str) -> DataFrame:
    """:func:`run_stream_to_table`, leak-free: drain the stream into the
    memory sink, snapshot the sink table into a driver-local relation, DROP
    the temp view, and return the snapshot. Without the drop, every build of
    a streaming query in a long-lived session (the correctness harness
    re-builds plans repeatedly) leaves a fully-materialized
    ``__stream_result_N`` table pinned in driver memory forever (ADVICE r6).
    Memory-sink results already live wholly in the driver, so the
    collect-then-createDataFrame snapshot copies what is resident anyway —
    bounded by the sink, not the corpus."""
    spark = df.sparkSession
    name = run_stream_to_table(df, output_mode)
    sink = spark.table(name)
    out = spark.createDataFrame(sink.collect(), sink.schema)
    spark.catalog.dropTempView(name)
    return out


def sliding_window_agg(
    df: DataFrame, ts_col: str, window: str, slide: str, aggs: dict[str, str], watermark: str = "1 hour"
) -> DataFrame:
    exprs = [getattr(F, fn)(c).alias(f"{fn}_{c}") for c, fn in aggs.items()]
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window, slide))
        .agg(*exprs)
        .select(F.col("window.start").alias("window_start"), F.col("window.end").alias("window_end"), *[F.col(f"{fn}_{c}") for c, fn in aggs.items()])
    )


def session_window_agg(
    df: DataFrame, ts_col: str, gap: str, key: str, watermark: str = "1 hour"
) -> DataFrame:
    """Session windows: events within ``gap`` of each other merge per key."""
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap), F.col(key))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col(key),
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


def foreach_batch_llm(stream_df: DataFrame, pipeline, llm, cache_path: str, checkpoint: str, out_path: str):
    """Streaming LLM stage: run the instruction pipeline per micro-batch via
    ``foreachBatch`` so each batch reuses the persistent cache table
    (SURVEY.md §2.10 — the one streaming piece that needs batch semantics).
    With ``cache_path`` set, completions are routed through the cache-table
    protocol: prompts already answered in ANY previous micro-batch (or by a
    concurrent job) are never re-sent to the model. The pipeline is
    compiled once, for the stream's schema; each micro-batch only binds to
    it (the cache protocol's anti-join is part of the bind, so it still
    runs per batch)."""
    from instructionspipe_spark.plans.cache import CachedLlm
    from instructionspipe_spark.plans.compiler import compile_pipeline

    effective_llm = CachedLlm(llm, cache_path) if cache_path else llm
    plan = compile_pipeline(stream_df.schema, pipeline, effective_llm)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        out = plan(batch_df)
        # EXACTLY-ONCE output: each micro-batch owns a `batch=<id>`
        # partition written with overwrite semantics, so a retried batch
        # (task failure after a partial append) replaces its own partition
        # instead of duplicating rows — the standard idempotent-foreachBatch
        # pattern for file sinks. Readers of `out_path` see a `batch`
        # partition column recording micro-batch lineage for free.
        out.write.mode("overwrite").parquet(f"{out_path}/batch={batch_id}")

    return (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def stateful_running_dedup_count(
    stream_df: DataFrame,
    key: str,
    text_col: str,
    ts_col: str,
    watermark: str = "1 hour",
) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-key running dedup — state holds the set of exact-text hashes seen so
    far (bounded by the watermark timeout), each micro-batch emits
    (key, batch_rows, new_uniques, total_uniques).

    This is the principled version of the reference's in-memory dedup Set
    (``etl_slimpajama_dc_proc.py:116-138``): state is per-key, checkpointed,
    recoverable, and expires with the event-time timeout instead of growing
    forever in one process's heap.
    """
    import hashlib

    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField(key, T.LongType()),
            T.StructField("batch_rows", T.LongType()),
            T.StructField("new_uniques", T.LongType()),
            T.StructField("total_uniques", T.LongType()),
        ]
    )
    state_schema = T.StructType([T.StructField("hashes", T.ArrayType(T.StringType()))])

    def update(key_tuple, pdfs, state: GroupState):
        seen = set(state.get[0]) if state.exists else set()
        before = len(seen)
        rows = 0
        for pdf in pdfs:
            rows += len(pdf)
            for t in pdf[text_col]:
                if t is not None:
                    seen.add(hashlib.md5(str(t).encode()).hexdigest())
        state.update((list(seen),))
        yield pd.DataFrame(
            [
                {
                    key: key_tuple[0],
                    "batch_rows": rows,
                    "new_uniques": len(seen) - before,
                    "total_uniques": len(seen),
                }
            ]
        )

    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(key)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_band_matches(
    stream_df: DataFrame,
    corpus: DataFrame,
    corpus_store: DataFrame,
    id_col: str,
    text_col: str,
    corpus_id_col: str | None = None,
    corpus_text_col: str | None = None,
    num_perm: int = 16,
    bands: int = 4,
    ngram: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Streaming twin of ``operators.dedup.incremental_minhash_dedup``: a
    document STREAM is admitted against the static persisted band store
    (``operators.dedup.minhash_band_store`` read back from parquet), emitting
    one verified near-dup match ``(id, dup_of, jaccard)`` per (stream doc,
    corpus doc) pair that clears ``threshold`` — the quarantine stream a
    continuously-ingesting pipeline routes to review while clean docs flow
    on. A pair sharing several LSH bands emits up to ``bands`` IDENTICAL
    rows (the batch operator's ``.distinct()`` is a streaming aggregation,
    deliberately not forced here); consumers needing set semantics
    exact-dedup downstream.

    Append-mode-safe BY CONSTRUCTION: per-row signature/banding (Arrow
    kernel + explode), two stream-static equi-joins (band bucket, then the
    corpus text for verification), and a per-row jaccard filter — no
    streaming aggregation, no watermark requirement, so it composes with
    any downstream sink mode. Best-match election (the batch operator's
    groupBy) is deliberately left to the consumer: an aggregation here
    would force update mode + watermarks on every user of the stream.

    Scale shape: the band store is the STATIC side of both joins — Spark
    re-plans the static side per micro-batch, so a store refreshed by a
    nightly append is picked up without restart; candidates exist only
    across sides; the per-batch cost is the batch's own signatures plus
    candidate verification, never a corpus re-scan."""
    from instructionspipe_spark.functions.text import shingle_normalize
    from instructionspipe_spark.operators.dedup import (
        _banded_frame,
        _jaccard_kernel,
        _validated_band_store,
        minhash_signature,
    )

    corpus_id_col = corpus_id_col or id_col
    corpus_text_col = corpus_text_col or text_col
    corpus_store = _validated_band_store(corpus_store, num_perm, bands, ngram)
    # The normalized text rides through the banding: re-deriving it via a
    # second join back to stream_df would be a stream-STREAM join, which
    # demands watermarks.
    signed = stream_df.select(
        F.col(id_col).alias("__stream_id"),
        shingle_normalize(F.col(text_col)).alias("__ns"),
        minhash_signature(F.col(text_col), num_perm=num_perm, ngram=ngram).alias("__sig"),
    )
    # Micro-batch parallelism: the stream side inherits the SOURCE's
    # partitioning (a 1-file batch = 1 partition), and the stream-static
    # joins below broadcast the static side — without this shuffle every
    # candidate verification of the batch lands on ONE task (measured
    # 28s -> 3.6s at sf0.1 on the dense-law corpus). Band hashes are
    # md5: uniform keys, no skew.
    banded = _banded_frame(signed, num_perm, bands).repartition(
        stream_df.sparkSession.sparkContext.defaultParallelism,
        "__band_idx",
        "__band_hash",
    )
    nrm_c = corpus.select(
        F.col(corpus_id_col).alias("__corpus_id"),
        shingle_normalize(F.col(corpus_text_col)).alias("__nc"),
    )
    return (
        banded.join(
            corpus_store.select(
                F.col("__id").alias("__corpus_id"), "__band_idx", "__band_hash"
            ),
            ["__band_idx", "__band_hash"],
        )
        .join(nrm_c, "__corpus_id")
        .select(
            F.col("__stream_id").alias(id_col),
            F.col("__corpus_id").alias("dup_of"),
            F.round(_jaccard_kernel(ngram)(F.col("__ns"), F.col("__nc")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    left_ts: str,
    right_ts: str,
    upper: str,
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: rows pair when their ``key_cols``
    are equal and ``right_ts`` falls within ``[left_ts, left_ts + upper]``
    (``upper`` an interval literal body, e.g. ``"6 hours"``).

    Both sides get a watermark so the state store evicts: a left row is
    droppable once ``left_ts + upper`` falls behind the watermark, a right
    row once ``right_ts`` does — without the time bound the join would
    buffer both streams forever. Sides must share ONLY the key columns
    (pre-rename payload/ts columns); the joined frame keeps one copy of the
    keys. Inner joins (``how="inner"``) emit eagerly per micro-batch, so
    append-mode results are exactly the batch join of everything on time —
    the property the ``streaming_join_equiv`` oracle row pins. With
    ``how="left_outer"`` an unmatched left row emits its null-padded row
    only at STATE EVICTION — when the global watermark passes
    ``left_ts + upper`` — so a bounded drain needs the watermark pushed
    past every left row's horizon before it ends (the sentinel-batch
    pattern of ``streaming_outer_join_equiv``).
    """
    overlap = (set(left.columns) & set(right.columns)) - set(key_cols)
    if overlap:
        raise ValueError(f"non-key columns shared across sides: {sorted(overlap)}")
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    # Self-joins of one source stream carry the SAME attribute lineage on
    # both sides, so dropping `rw[k]` post-join can resolve to the LEFT
    # attribute — on an outer join that silently keeps the null right-side
    # key and loses the left's (probed in-session: every null-extension row
    # lost its key). Rename the right keys pre-join and drop by NAME.
    for k in key_cols:
        rw = rw.withColumnRenamed(k, f"__rk_{k}")
    cond = None
    for k in key_cols:
        c = F.col(k) == F.col(f"__rk_{k}")
        cond = c if cond is None else cond & c
    cond = (
        cond
        & (F.col(right_ts) >= F.col(left_ts))
        & (F.col(right_ts) <= F.expr(f"`{left_ts}` + interval {upper}"))
    )
    out = lw.join(rw, cond, how)
    return out.drop(*[f"__rk_{k}" for k in key_cols])


def stream_cdc_apply(
    stream_df: DataFrame,
    snapshot_init: DataFrame,
    key: str,
    seq_col: str,
    op_col: str,
    state_dir: str,
    checkpoint: str,
    fault_hook=None,
) -> DataFrame:
    """Streaming MERGE INTO (the streaming face of operators/cdc.py): each
    micro-batch of the change feed is compacted last-writer-wins and
    applied to the current snapshot, which is VERSIONED per batch —
    ``snap_v{batch_id}`` parquet dirs, the foreachBatch idempotence rule:
    a retried batch reads the newest version STRICTLY BELOW its own id
    (never its own partial first attempt) and overwrites its own dir, so
    replays converge instead of double-applying. Drains with availableNow
    and returns the final snapshot.

    Driver-local ``os.listdir`` versioning is the sandbox simplification —
    an object-store deployment lists via the Hadoop FileSystem API exactly
    as plans/cache.py:_list_cache_files does, or rides a real table format
    (this operator IS Delta/Iceberg MERGE semantics on plain parquet).

    ``fault_hook`` (chaos seam, default None): called as
    ``fault_hook(batch_id)`` AFTER the batch's snapshot write but BEFORE
    Spark commits the batch's offsets — a hook that raises simulates the
    worst-case crash (effects persisted, progress not), so a restart from
    the same checkpoint REPLAYS the batch and the idempotence rule above
    must absorb the duplicate apply. Pinned by
    ``test_stream_cdc_apply_recovery_from_checkpoint``."""
    import os

    from instructionspipe_spark.operators.cdc import apply_changes, latest_change_per_key

    spark = stream_df.sparkSession

    def versions() -> list:
        if not os.path.isdir(state_dir):
            return []
        return sorted(
            int(d.split("_v", 1)[1])
            for d in os.listdir(state_dir)
            if d.startswith("snap_v")
        )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        prior = [v for v in versions() if v < batch_id]
        prev = (
            spark.read.parquet(os.path.join(state_dir, f"snap_v{prior[-1]}"))
            if prior
            else snapshot_init
        )
        compact = latest_change_per_key(batch_df, key, seq_col, op_col).drop(seq_col)
        out = apply_changes(prev, compact, key, op_col=op_col)
        out.write.mode("overwrite").parquet(
            os.path.join(state_dir, f"snap_v{batch_id}")
        )
        if fault_hook is not None:
            fault_hook(batch_id)

    q = (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    vs = versions()
    return spark.read.parquet(os.path.join(state_dir, f"snap_v{vs[-1]}"))
