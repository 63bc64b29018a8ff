"""Scans and sinks (SURVEY.md S1-S3, S6-S9).

The reference reads JSONL with per-line ``json.loads`` loops
(``apps/instructions-mapreduce/inf.py:68-71`` and four clones) and writes by
appending serialized lines (``src/python/instructionspipe/utils.py:30-41``).
Here every scan is a Spark reader (splittable, schema-aware, predicate
pushdown where the format supports it) and every sink a ``DataFrameWriter``
(atomic job commit, append/overwrite modes, partitioned layout).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    permissive: bool = True,
    corrupt_col: str | None = None,
) -> DataFrame:
    """Newline-delimited JSON scan (S1). Blank lines are dropped natively.
    Always pass a schema in production: schema inference is a full extra
    pass over 100 TB. ``corrupt_col`` captures each malformed line's raw
    text in that column (appended to the schema) instead of silently
    nulling every field — feed it to :func:`read_jsonl_quarantine` to split
    good rows from a quarantine frame."""
    reader = spark.read.option("mode", "PERMISSIVE" if permissive else "FAILFAST")
    if corrupt_col is not None:
        reader = reader.option("columnNameOfCorruptRecord", corrupt_col)
        if schema is not None and corrupt_col not in schema.fieldNames():
            schema = T.StructType(
                schema.fields + [T.StructField(corrupt_col, T.StringType())]
            )
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_jsonl_quarantine(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    corrupt_col: str = "_corrupt_record",
) -> tuple[DataFrame, DataFrame]:
    """Malformed-line quarantine: ``(good, bad)`` — good rows without the
    corrupt column, bad rows as ``(corrupt_col,)`` carrying the raw line.
    The 100 TB posture for dirty JSONL: parse once, quarantine instead of
    dropping (silent nulls) or aborting (FAILFAST on line 3 of shard 90k).

    The parsed frame is persisted before filtering: Spark disallows queries
    whose only referenced columns are the internal corrupt-record column on
    a raw scan (SPARK-21610), and the cache also keeps the split one-pass.
    Callers should unpersist via ``session.release_persisted()`` (or wrap
    in ``session.persist_scope()``) after materializing both sides.
    """
    from pyspark.sql import functions as F

    from instructionspipe_spark.session import managed_persist

    df = managed_persist(
        read_jsonl(spark, path, schema=schema, corrupt_col=corrupt_col)
    )
    good = df.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    bad = df.filter(F.col(corrupt_col).isNotNull()).select(corrupt_col)
    return good, bad


def read_csv(
    spark: SparkSession, path: str, schema: T.StructType | None = None, header: bool = True
) -> DataFrame:
    """CSV scan (S3; reference loads CSV via pandas in apps/training/sft.py:77-91)."""
    reader = spark.read.option("header", header)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_binary_files(spark: SparkSession, path: str, glob: str = "*") -> DataFrame:
    """Binary-file scan (S6 substrate): path, modificationTime, length,
    content(binary) — the multimodal ingestion point (PDF/image/audio bytes
    become an opaque binary column with metadata; decode happens in a
    mapInPandas stage, see streaming/multimodal plumbing)."""
    return spark.read.format("binaryFile").option("pathGlobFilter", glob).load(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSONL sink (S7): one JSON object per line, append or overwrite."""
    df.write.mode(mode).json(path)


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def multi_sink(
    df: DataFrame,
    sinks: dict[str, tuple[list, str]],
    write: Callable[[DataFrame, str, str], None] = write_parquet,
) -> None:
    """Multi-sink fan-out (S8): one cached intermediate, N projected writes
    (the reference writes results/chatmls/chatml-meta from one run,
    ``apps/instructions-mapreduce/inf.py:80-85``; ``plans.runner.run_config``
    writes its three sinks through here). ``sinks`` maps path ->
    (columns, mode); a column is a name or a Column expression, and one
    generator (``F.inline`` / ``F.explode``) may turn each cached row into
    several sink rows. ``write`` is the ``(frame, path, mode)`` sink
    function each projection goes through, e.g. :func:`write_jsonl`.

    ``df`` is persisted for the call and unpersisted before it returns: the
    first write computes the plan into the cache and every later sink scans
    the cache, so the plan runs once, not once per sink. ``df`` stays lazy
    afterwards — an action on it runs the whole plan again."""
    df.persist()
    try:
        for path, (cols, mode) in sinks.items():
            write(df.select(*cols), path, mode)
    finally:
        df.unpersist()


def write_if_absent(df: DataFrame, path: str, fmt: str = "parquet") -> bool:
    """Idempotent job-level write: skip when output already exists (the
    reference's re-run protection — results JSONL is skipped if present,
    ``apps/llm_as_a_judge/eval_with_facts.py:628,688-693``, and the
    instructions pipeline appends incrementally, ``inf.py:45-55,80-85``).
    Returns True when the write happened. Uses Hadoop's FileSystem so the
    check works on any supported scheme (HDFS/S3A/local), not just the
    driver's local disk; note this is job-level idempotence — for exactly-
    once per-record semantics use Structured Streaming checkpoints
    (streaming/jobs.py) instead."""
    spark = df.sparkSession
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(hconf)
    if fs.exists(p):
        return False
    df.write.format(fmt).mode("errorifexists").save(path)
    return True


def append_incremental(
    df: DataFrame, path: str, dedup_keys: list[str] | None = None, fmt: str = "parquet"
) -> None:
    """Append-mode incremental sink (reference S7 append semantics) with
    optional read-back dedup contract: with ``dedup_keys``, rows whose keys
    already exist in the sink are NOT appended again — append-only storage
    plus dedup-before-write, the same crash-safe pattern as the LLM cache
    table (plans/cache.py). Readers that cannot tolerate duplicates from a
    crashed writer should dedup on read with the same keys."""
    if dedup_keys:
        spark = df.sparkSession
        jvm = spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(path)
        fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(p):
            existing = spark.read.format(fmt).load(path).select(*dedup_keys).distinct()
            df = df.join(existing, dedup_keys, "left_anti")
        df = df.dropDuplicates(dedup_keys)
    df.write.format(fmt).mode("append").save(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — same pushdown/pruning properties as parquet."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)
