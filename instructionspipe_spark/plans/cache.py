"""Persistent LLM response cache as a table-join protocol (SURVEY.md L5/J5).

The reference memoizes completions in an in-process LRU keyed by
sha256(chatml) (``llm_cli.py:101-110``, ``cache.py:24-62``) — lost on exit,
invisible to other workers. Here the cache is a parquet table and the memo
becomes pure dataflow:

1. key every row: ``sha2(prompt, 256)``;
2. ``dropDuplicates(key)`` — identical prompts across the whole dataset
   collapse to ONE model call (the reference would call once per record
   sequence-position, cache hits only within a process);
3. left-anti join distinct keys against the cache table -> misses;
4. run the kernel on misses only; append results to the cache table
   (append-only + dedup-on-read makes concurrent writers safe);
5. left join the original rows with cache ∪ fresh on the key.

At scale both joins are hash joins on a uniformly distributed 256-bit key —
no skew by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from instructionspipe_spark.plans.llm_kernel import LlmClient

CACHE_SCHEMA = T.StructType(
    [T.StructField("cache_key", T.StringType()), T.StructField("completion", T.StringType())]
)


def _list_cache_files(spark: SparkSession, cache_path: str) -> list[str]:
    """Enumerate the cache table's part files through Spark's Hadoop
    FileSystem API, so any URI Spark can write (``file:``, ``hdfs://``,
    ``s3a://`` — the ``CachedLlm(..., "s3://bucket/llm_cache")`` form
    MIGRATION.md advertises) lists correctly; a bare ``os.listdir`` would
    silently see object-store caches as empty-but-writable, recomputing
    every completion. Returns fully-qualified paths, sorted for a
    deterministic scan identity.

    On stores with non-atomic listing, a concurrent appender may be missed
    by one read — benign for this table: it is append-only with a
    deterministic min tie-break on read, so a missed file only means a few
    recomputed (identical) completions."""
    try:
        jvm = spark._jvm
        path = jvm.org.apache.hadoop.fs.Path(cache_path)
        fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    except Exception:
        # Spark Connect session: no JVM gateway on the client. Fall back to
        # a local-filesystem listing (the pre-r8 behavior); non-local URIs
        # are refused loudly rather than silently read as an empty cache.
        import os
        from urllib.parse import urlparse

        parsed = urlparse(cache_path)
        if parsed.scheme not in ("", "file"):
            raise NotImplementedError(
                f"cache path {cache_path!r}: listing a non-local filesystem "
                "requires a classic (JVM-gateway) session; on Spark Connect "
                "pass a local cache path or pre-list the files"
            )
        local = parsed.path if parsed.scheme == "file" else cache_path
        if not os.path.isdir(local):
            return []
        return sorted(
            os.path.join(local, f) for f in os.listdir(local) if f.endswith(".parquet")
        )
    if not fs.exists(path):
        return []
    return sorted(
        s.getPath().toString()
        for s in fs.listStatus(path)
        if s.isFile() and s.getPath().getName().endswith(".parquet")
    )


def _read_cache(spark: SparkSession, cache_path: str) -> DataFrame:
    """Read the cache table with the file listing PINNED into the scan.

    Reading the directory path would be wrong here, subtly: a
    multi-instruction pipeline embeds several append-then-read cycles
    against the same directory in ONE final plan, and Spark's ReuseExchange
    canonicalizes two directory scans of the same root path as equal even
    though they were listed at different times with different files — the
    later instruction's broadcast silently becomes the earlier, smaller
    listing, every later join probes the wrong key set, and completions go
    NULL (nondeterministically: whichever exchange builds first wins).
    Caught by the streaming_llm_cache_equiv oracle, round 7. Enumerating
    the part files makes each read's identity its actual listing, so only
    genuinely identical listings reuse."""
    files = _list_cache_files(spark, cache_path)
    if files:
        df = spark.read.schema(CACHE_SCHEMA).parquet(*files)
        # Append-only table: concurrent writers may duplicate keys; the
        # read side resolves deterministically (completions for a key
        # are identical by construction, min is a tie-break not a
        # choice).
        return df.groupBy("cache_key").agg(F.min("completion").alias("completion"))
    return spark.createDataFrame([], CACHE_SCHEMA)


def cached_llm_call(
    df: DataFrame,
    prompt_col: str,
    out_col: str,
    llm,
    cache_path: str | None = None,
    spark: SparkSession | None = None,
    system: str | None = None,
) -> DataFrame:
    """Completion of ``prompt_col`` into ``out_col`` through the cache-table
    protocol. With ``cache_path=None`` the cache step is skipped but the
    dedup-before-call collapse still applies.

    ``system`` (a constant per-instruction system prompt) participates in the
    cache key via the canonical ``system + "\\n\\n" + user`` concatenation —
    the same bytes the pre-split protocol hashed — so two instructions
    sharing user text never collide, and existing caches stay valid for
    callers that pre-concatenated."""
    spark = spark or df.sparkSession
    key_src = (
        F.col(prompt_col)
        if system is None
        else F.concat(F.lit(system), F.lit("\n\n"), F.col(prompt_col))
    )
    keyed = df.withColumn("__cache_key", F.sha2(key_src, 256))
    distinct_prompts = keyed.select(
        F.col("__cache_key").alias("cache_key"), F.col(prompt_col).alias("__prompt")
    ).dropDuplicates(["cache_key"])

    cache = _read_cache(spark, cache_path) if cache_path else spark.createDataFrame([], CACHE_SCHEMA)
    misses = distinct_prompts.join(cache, "cache_key", "left_anti")
    fresh = llm.complete_df(misses, "__prompt", "completion", system=system).select(
        "cache_key", "completion"
    )

    if cache_path:
        fresh.write.mode("append").parquet(cache_path)
        answers = _read_cache(spark, cache_path)
    else:
        answers = cache.unionByName(fresh)

    # Name-based equi-join, NOT an instance-based condition: when the input
    # df already embeds an earlier cached_llm_call (a multi-instruction
    # pipeline), both sides carry the same cache-parquet lineage and
    # Spark's self-join disambiguation can silently resolve
    # keyed["__cache_key"] == answers["cache_key"] against the WRONG
    # branch — every later instruction then left-joins to nothing and
    # completes as NULL (caught by the streaming_llm_cache_equiv oracle,
    # round 7). Joining on the column NAME sidesteps attribute identity.
    out = (
        keyed.join(
            answers.withColumnRenamed("cache_key", "__cache_key"),
            on="__cache_key",
            how="left",
        )
        .drop("__cache_key")
        .withColumnRenamed("completion", out_col)
    )
    return out


class CachedLlm(LlmClient):
    """LlmClient adapter routing every completion through the cache-table
    protocol — drop-in for any pipeline stage; the streaming foreachBatch
    stage uses it so each micro-batch reuses completions from all previous
    batches (and concurrent jobs) via the shared parquet cache table. A
    stage's instructions go through the protocol one at a time (the
    inherited :meth:`LlmClient.complete_columns`), each with its own
    append-then-read cycle."""

    def __init__(self, inner, cache_path: str):
        self.inner = inner
        self.cache_path = cache_path

    def complete_df(
        self, df: DataFrame, prompt_col: str, out_col: str, system: str | None = None
    ) -> DataFrame:
        return cached_llm_call(
            df, prompt_col, out_col, self.inner, cache_path=self.cache_path, system=system
        )
