"""Source/sink tests (SURVEY.md S1-S3, S7-S9)."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F


def test_jsonl_roundtrip(spark, tmp_path):
    from instructionspipe_spark.sources.io import read_jsonl, write_jsonl

    src = tmp_path / "in.jsonl"
    with open(src, "w") as f:
        for i in range(5):
            f.write(json.dumps({"id": i, "text": f"doc {i}"}) + "\n")
        f.write("\n")  # blank line — S1 skips these
    df = read_jsonl(spark, str(src))
    assert df.count() == 5
    out = str(tmp_path / "out")
    write_jsonl(df, out)
    back = spark.read.json(out)
    assert back.count() == 5
    assert {r["id"] for r in back.collect()} == set(range(5))


def test_jsonl_append_mode(spark, tmp_path):
    from instructionspipe_spark.sources.io import write_jsonl

    df = spark.createDataFrame([(1, "a")], ["id", "v"])
    out = str(tmp_path / "out")
    write_jsonl(df, out, mode="overwrite")
    write_jsonl(df, out, mode="append")
    assert spark.read.json(out).count() == 2


def test_csv_scan(spark, tmp_path):
    from instructionspipe_spark.sources.io import read_csv

    src = tmp_path / "in.csv"
    src.write_text("id,name\n1,alpha\n2,beta\n")
    df = read_csv(spark, str(src))
    rows = {r["id"]: r["name"] for r in df.collect()}
    assert rows == {"1": "alpha", "2": "beta"} or rows == {1: "alpha", 2: "beta"}


def test_split_sink_partitioned(spark, tmp_path):
    from instructionspipe_spark.operators.splitting import grouped_split, write_split_sinks

    df = spark.createDataFrame([(f"k{i % 10}", i) for i in range(100)], ["k", "v"])
    split = grouped_split(df, "k", {"train": 0.8, "val": 0.1, "test": 0.1}, seed=42)
    out = str(tmp_path / "splits")
    write_split_sinks(split, out)
    names = {d.split("=")[1] for d in os.listdir(out) if d.startswith("split=")}
    assert names <= {"train", "val", "test"} and "train" in names
    back = spark.read.parquet(out)
    assert back.count() == 100


def test_multi_sink_lineage(spark, tmp_path):
    """S8: one cached intermediate feeds results/chatml/meta sinks with a
    shared session_id join key (J4), as parquet with plain columns and as
    JSON with a generator projection; the cache is released on return."""
    from instructionspipe_spark.plans.compiler import run_pipeline
    from instructionspipe_spark.plans.instructions import Instruction, Pipeline
    from instructionspipe_spark.plans.llm_kernel import MockLlm
    from instructionspipe_spark.sources.io import multi_sink, write_jsonl

    df = spark.createDataFrame([(1, "hello"), (2, "world")], ["doc_id", "text"])
    pipe = Pipeline(stages=((Instruction(name="s", scope=("text",), content="x"),),))
    out = run_pipeline(df, pipe, MockLlm(), lineage=True)
    base = str(tmp_path)
    multi_sink(
        out,
        {
            f"{base}/results": (["doc_id", "session_id", "result"], "overwrite"),
            f"{base}/chatmls": (["session_id", "s__msgs"], "overwrite"),
        },
    )
    results = spark.read.parquet(f"{base}/results")
    chatmls = spark.read.parquet(f"{base}/chatmls")
    joined = results.join(chatmls, "session_id")
    assert joined.count() == 2  # lineage key joins the sinks back together

    # JSON sinks with a Column-expression projection: run_config's ChatML
    # shape, where one F.inline generator emits a row per (record,
    # instruction) from the single cached row.
    names = ("a", "b")
    pipe2 = Pipeline(stages=(
        tuple(Instruction(name=n, scope=("text",), content=n) for n in names),
    ))
    out2 = run_pipeline(df, pipe2, MockLlm(), lineage=True)
    chatml = F.inline(F.array(*[
        F.struct(F.lit(n).alias("name"), F.col(f"{n}__msgs").alias("chatml")) for n in names
    ]))
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    multi_sink(
        out2,
        {
            f"{base}/j_chatmls": (["session_id", chatml], "overwrite"),
            f"{base}/j_meta": (["doc_id", "session_id"], "overwrite"),
        },
        write=write_jsonl,
    )
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted

    def turns(msgs):
        return [(m["role"], m["content"]) for m in msgs]

    want = sorted(
        (r["session_id"], n, turns(r[f"{n}__msgs"])) for r in out2.collect() for n in names
    )
    got = sorted(
        (r["session_id"], r["name"], turns(r["chatml"]))
        for r in spark.read.json(f"{base}/j_chatmls").collect()
    )
    assert got == want and len(got) == 4
    meta = spark.read.json(f"{base}/j_meta")
    assert meta.count() == 2
    assert meta.join(spark.read.json(f"{base}/j_chatmls"), "session_id").count() == 4


def test_binary_file_scan(spark, tmp_path):
    """S6 substrate: binaryFile scan returns path/length/content."""
    from instructionspipe_spark.sources.io import read_binary_files

    (tmp_path / "a.bin").write_bytes(b"hello-bytes")
    (tmp_path / "b.txt").write_bytes(b"skip me")
    df = read_binary_files(spark, str(tmp_path), glob="*.bin")
    rows = df.collect()
    assert len(rows) == 1
    assert bytes(rows[0]["content"]) == b"hello-bytes"
    assert rows[0]["length"] == 11


def test_ping(spark):
    from instructionspipe_spark.session import ping

    assert ping(spark)


def test_bucketed_join_is_shuffle_free(spark, tables, tmp_path):
    """Co-located join contract: two tables bucketed on the join key with the
    same bucket count join with ZERO Exchange; the same join over bare
    parquet scans shuffles both sides."""
    from pyspark.sql import functions as F

    from instructionspipe_spark.sources.bucketing import (
        bucketed,
        is_bucket_join_colocated,
        write_bucketed,
    )

    orders = tables["orders"].select("o_orderkey", "o_custkey", "o_totalprice")
    lineitem = tables["lineitem"].select("l_orderkey", "l_quantity")
    write_bucketed(orders, "b_orders", ["o_orderkey"], 4, sort_cols=["o_orderkey"], path=str(tmp_path / "bo"))
    write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem", ["o_orderkey"], 4, sort_cols=["o_orderkey"], path=str(tmp_path / "bl"),
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = bucketed(spark, "b_orders").join(bucketed(spark, "b_lineitem"), "o_orderkey")
        assert is_bucket_join_colocated(j)
        plain = orders.join(
            lineitem.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey"
        )
        assert not is_bucket_join_colocated(plain)
        # semantics unchanged by the layout
        assert j.count() == plain.count()
        a = j.agg(F.sum("l_quantity")).first()[0]
        b = plain.agg(F.sum("l_quantity")).first()[0]
        assert a == b
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_write_if_absent_and_append_incremental(spark, tmp_path):
    """Idempotent skip-if-exists write + append with key-level dedup (the
    reference's re-run protection, eval_with_facts.py:688-693)."""
    from instructionspipe_spark.sources.io import append_incremental, write_if_absent

    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    out = str(tmp_path / "out")
    assert write_if_absent(df, out) is True
    assert write_if_absent(df, out) is False  # second run: skipped
    assert spark.read.parquet(out).count() == 2

    inc = str(tmp_path / "inc")
    append_incremental(df, inc, dedup_keys=["id"])
    # overlapping batch: only id=3 is new
    df2 = spark.createDataFrame([(2, "b"), (3, "c"), (3, "c2")], ["id", "v"])
    append_incremental(df2, inc, dedup_keys=["id"])
    got = sorted(r["id"] for r in spark.read.parquet(inc).collect())
    assert got == [1, 2, 3]


def test_orc_roundtrip(spark, tmp_path):
    from instructionspipe_spark.sources.io import read_orc, write_orc

    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    p = str(tmp_path / "orc")
    write_orc(df, p)
    back = read_orc(spark, p)
    assert sorted((r["id"], r["v"]) for r in back.collect()) == [(1, "a"), (2, "b")]


# ---------------------------------------------------------------------------
# S4: HF-datasets adapter / distributed Arrow IPC reader
# ---------------------------------------------------------------------------


def _write_arrow_shard(path, rows, stream=False):
    import pyarrow as pa
    import pyarrow.ipc as ipc

    table = pa.table(
        {
            "id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
        }
    )
    opener = ipc.new_stream if stream else ipc.new_file
    with opener(path, table.schema) as w:
        w.write_table(table)


def test_read_arrow_ipc_multi_shard(spark, tmp_path):
    """save_to_disk-style directory of .arrow shards reads distributed
    (one task per file) with the union of all shards."""
    from instructionspipe_spark.sources.hf import read_arrow_ipc

    d = tmp_path / "ds"
    d.mkdir()
    _write_arrow_shard(str(d / "data-00000.arrow"), [(1, "a"), (2, "b")])
    _write_arrow_shard(str(d / "data-00001.arrow"), [(3, "c")])
    out = read_arrow_ipc(spark, str(d))
    assert sorted((r["id"], r["text"]) for r in out.collect()) == [(1, "a"), (2, "b"), (3, "c")]


def test_read_arrow_ipc_oversized_shard_guard(spark, tmp_path, monkeypatch):
    """A shard above the binaryFile 2 GiB row ceiling must fail up front with
    an actionable message (re-shard / convert), not an opaque mid-scan
    executor error. The ceiling is monkeypatched down so the test stays
    byte-cheap; the guard reads only listing metadata either way."""
    import pytest

    from instructionspipe_spark.sources import hf

    d = tmp_path / "ds"
    d.mkdir()
    _write_arrow_shard(str(d / "small.arrow"), [(1, "a")])
    _write_arrow_shard(str(d / "big.arrow"), [(2, "b" * 4096)])
    monkeypatch.setattr(hf, "_MAX_SHARD_BYTES", 1024)
    with pytest.raises(ValueError, match="re-shard"):
        hf.read_arrow_ipc(spark, str(d))


def test_read_arrow_ipc_stream_format(spark, tmp_path):
    from instructionspipe_spark.sources.hf import read_arrow_ipc

    d = tmp_path / "ds"
    d.mkdir()
    _write_arrow_shard(str(d / "s.arrow"), [(7, "x"), (8, "y")], stream=True)
    out = read_arrow_ipc(spark, str(d))
    assert sorted(r["id"] for r in out.collect()) == [7, 8]


def test_read_hf_dataset_local_layouts(spark, tmp_path):
    """read_hf_dataset prefers parquet shards, falls back to arrow, and
    resolves save_to_disk split subdirectories."""
    from instructionspipe_spark.sources.hf import read_hf_dataset

    pq = tmp_path / "pq"
    pq.mkdir()
    spark.createDataFrame([(1, "p")], "id long, text string").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(pq))
    assert [r["text"] for r in read_hf_dataset(spark, str(pq)).collect()] == ["p"]

    split_ds = tmp_path / "ds2"
    (split_ds / "train").mkdir(parents=True)
    _write_arrow_shard(str(split_ds / "train" / "data-00000.arrow"), [(5, "t")])
    out = read_hf_dataset(spark, str(split_ds), split="train")
    assert [(r["id"], r["text"]) for r in out.collect()] == [(5, "t")]


def test_arrow_ipc_no_posix_listing(spark, tmp_path, monkeypatch):
    """Object-store contract: the Arrow-IPC reader and read_hf_dataset must
    never touch driver-local POSIX listing (os.listdir / os.path.isdir) for
    an FS-resolvable directory — the file list and schema peek both come
    from the binaryFile scan / Hadoop FS, as they would for s3a:// paths."""
    from instructionspipe_spark.sources import hf

    d = tmp_path / "ds"
    d.mkdir()
    _write_arrow_shard(str(d / "data-00000.arrow"), [(1, "a"), (2, "b")])
    _write_arrow_shard(str(d / "data-00001.arrow"), [(3, "c")])

    def _no_posix(*a, **k):
        raise AssertionError("POSIX filesystem call on an object-store path")

    monkeypatch.setattr(hf.os, "listdir", _no_posix)
    monkeypatch.setattr(hf.os.path, "isdir", _no_posix)

    out = hf.read_arrow_ipc(spark, str(d))
    assert sorted((r["id"], r["text"]) for r in out.collect()) == [(1, "a"), (2, "b"), (3, "c")]

    out2 = hf.read_hf_dataset(spark, str(d))
    assert sorted(r["id"] for r in out2.collect()) == [1, 2, 3]


def test_read_hf_dataset_hub_name_requires_lib():
    import pytest

    from instructionspipe_spark.sources.hf import have_hf_datasets, read_hf_dataset

    if not have_hf_datasets():
        with pytest.raises(NotImplementedError, match="datasets"):
            read_hf_dataset(None, "imdb")


def test_read_hf_dataset_hub_name_replay(spark, tmp_path):
    """Hub-name resolution through the injectable loader seam (VERDICT r4
    item 7): a canned resolver stands in for datasets.load_dataset, so the
    hub branch — resolve name -> cache_files -> exact-file Arrow scan —
    executes without the library. Multi-shard cache_files with DIFFERENT
    shard-count suffixes would have broken the old first-file-glob logic
    (data-00000-of-00002 prefixes to a glob shard 00001 never matches)."""
    from instructionspipe_spark.sources.hf import read_hf_dataset

    cache = tmp_path / "cache"
    cache.mkdir()
    f0 = str(cache / "data-00000-of-00002.arrow")
    f1 = str(cache / "data-00001-of-00002.arrow")
    _write_arrow_shard(f0, [(1, "alpha"), (2, "beta")])
    _write_arrow_shard(f1, [(3, "gamma")])

    calls = []

    class _CannedDataset:
        cache_files = [{"filename": f1}, {"filename": f0}]

    def canned_load_dataset(name, split=None):
        calls.append((name, split))
        return _CannedDataset()

    out = read_hf_dataset(spark, "org/some-hub-dataset", split="train", loader=canned_load_dataset)
    assert calls == [("org/some-hub-dataset", "train")]
    assert sorted((r["id"], r["text"]) for r in out.collect()) == [
        (1, "alpha"), (2, "beta"), (3, "gamma"),
    ]


def test_read_hf_dataset_hub_name_empty_cache(spark):
    import pytest

    from instructionspipe_spark.sources.hf import read_hf_dataset

    class _Empty:
        cache_files = []

    with pytest.raises(ValueError, match="no local cache files"):
        read_hf_dataset(spark, "org/empty", loader=lambda name, split=None: _Empty())


def test_read_jsonl_quarantine(spark, tmp_path):
    """Malformed lines land in the quarantine frame with their raw text;
    good rows parse clean and drop the corrupt column."""
    from pyspark.sql import types as T

    from instructionspipe_spark.session import release_persisted
    from instructionspipe_spark.sources.io import read_jsonl_quarantine

    src = tmp_path / "dirty.jsonl"
    src.write_text(
        '{"id": 1, "text": "ok"}\n'
        "not json at all\n"
        '{"id": 2, "text": "fine"}\n'
        '{"id": 3, "text": truncated\n'
    )
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("text", T.StringType())]
    )
    good, bad = read_jsonl_quarantine(spark, str(src), schema)
    assert sorted((r["id"], r["text"]) for r in good.collect()) == [(1, "ok"), (2, "fine")]
    assert "_corrupt_record" not in good.columns
    bad_lines = sorted(r["_corrupt_record"] for r in bad.collect())
    assert bad_lines == ["not json at all", '{"id": 3, "text": truncated']
    release_persisted()
