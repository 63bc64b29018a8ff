"""S10 serving layer: in-process round-trip of one record through the
instructions map/reduce pipeline over HTTP (reference:
tableqa_codeact.py:300-341 serves one-record runs the same way)."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest


@pytest.fixture(scope="module")
def served(spark):
    from instructionspipe_spark.registry import DOC_PIPELINE
    from instructionspipe_spark.serving import PipelineService, serve_background

    service = PipelineService(spark, DOC_PIPELINE)
    server, base = serve_background(service)
    yield service, base
    server.shutdown()


def _typed_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("doc_id", T.LongType(), nullable=False),
            T.StructField("text", T.StringType(), nullable=False),
            T.StructField("lang", T.StringType()),
            T.StructField("tags", T.ArrayType(T.StringType())),
            T.StructField("score", T.DoubleType()),
            T.StructField("flag", T.BooleanType()),
            T.StructField(
                "meta",
                T.StructType(
                    [T.StructField("source", T.StringType()), T.StructField("page", T.LongType())]
                ),
            ),
            T.StructField("note", T.StringType()),
        ]
    )


@pytest.fixture(scope="module")
def typed(spark):
    from instructionspipe_spark.registry import DOC_PIPELINE
    from instructionspipe_spark.serving import PipelineService, serve_background

    service = PipelineService(spark, DOC_PIPELINE, input_schema=_typed_schema())
    server, base = serve_background(service)
    yield service, base
    server.shutdown()


def _get(url: str):
    try:
        with urllib.request.urlopen(url, timeout=30) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _post(url: str, payload) -> tuple[int, dict]:
    req = urllib.request.Request(
        url,
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req, timeout=60) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_ping_and_models(served):
    _service, base = served
    status, body = _get(base + "/ping")
    assert status == 200 and body == {"ok": True}
    status, body = _get(base + "/get_models")
    assert status == 200 and body == ["mock"]


def test_one_record_roundtrip_matches_batch(served, spark):
    """The served result must be byte-identical to the batch path on the
    same record — they share the compiled plan."""
    from instructionspipe_spark.plans.compiler import run_pipeline
    from instructionspipe_spark.registry import DOC_PIPELINE

    record = {"doc_id": 7, "text": "A short document about rivers.", "lang": "en"}
    status, body = _post(served[1] + "/pipeline/run", record)
    assert status == 200
    assert set(body) >= {"doc_id", "text", "lang", "summary", "keywords", "report", "result", "session_id"}

    batch = run_pipeline(spark.createDataFrame([record]), DOC_PIPELINE).collect()[0].asDict()
    assert body == batch


def test_bad_requests(served):
    _service, base = served
    status, body = _post(base + "/pipeline/run", [1, 2])
    assert status == 400 and "error" in body
    status, body = _post(base + "/nope", {"x": 1})
    assert status == 404
    status, body = _get(base + "/nope")
    assert status == 404


@pytest.mark.parametrize("length", ["-1", "abc"])
def test_bad_content_length_is_400(served, length):
    """A malformed Content-Length is answered with a 400 at once; a negative
    one must not leave the handler reading until the client hangs up."""
    import socket
    from urllib.parse import urlsplit

    url = urlsplit(served[1])
    with socket.create_connection((url.hostname, url.port), timeout=5) as sock:
        sock.sendall(
            b"POST /pipeline/run HTTP/1.1\r\nHost: x\r\n"
            b"Content-Length: " + length.encode() + b"\r\n\r\n"
        )
        status_line = sock.makefile("rb").readline()
    assert status_line.split()[1] == b"400", status_line


def test_concurrent_requests(served):
    """ThreadingHTTPServer dispatches each request on its own thread; Spark
    supports concurrent driver actions — 8 parallel one-record runs must all
    succeed and be per-record correct."""
    from concurrent.futures import ThreadPoolExecutor

    _service, base = served

    def one(i: int):
        status, body = _post(
            base + "/pipeline/run",
            {"doc_id": i, "text": f"document number {i} about rivers", "lang": "en"},
        )
        return status, body

    with ThreadPoolExecutor(max_workers=8) as ex:
        results = list(ex.map(one, range(8)))
    assert all(status == 200 for status, _ in results)
    assert [body["doc_id"] for _, body in results] == list(range(8))
    # deterministic MockLlm: same text -> same summary; distinct texts differ
    summaries = {body["summary"] for _, body in results}
    assert len(summaries) == 8


def test_record_validation(served):
    """ADVICE r4: explicit schema handling — null values and missing
    required fields are 400s with clear messages, never a 500 from
    createDataFrame's dict inference."""
    _service, base = served
    # DOC_PIPELINE's stage-0 scopes require text + lang.
    status, body = _post(base + "/pipeline/run", {"doc_id": 1})
    assert status == 400 and "missing required field" in body["error"]
    assert "text" in body["error"] and "lang" in body["error"]
    # null value without an input_schema: typed 400, not a 500
    status, body = _post(
        base + "/pipeline/run", {"doc_id": 1, "text": None, "lang": "en"}
    )
    assert status == 400 and "input_schema" in body["error"]
    # nested dict is uninferable from one record
    status, body = _post(
        base + "/pipeline/run",
        {"doc_id": 1, "text": "t", "lang": "en", "meta": {"a": 1}},
    )
    assert status == 400 and "unsupported" in body["error"]


def test_explicit_input_schema(typed):
    """With an explicit StructType: types are pinned (no drift from the
    batch schema), nullable fields accept null, non-nullable nulls and
    unknown fields are 400s."""
    _service, base = typed
    ok = {"doc_id": 3, "text": "about mountains", "lang": None}
    status, body = _post(base + "/pipeline/run", ok)
    assert status == 200 and body["doc_id"] == 3 and body["lang"] is None
    status, body = _post(
        base + "/pipeline/run", {"doc_id": None, "text": "t", "lang": "en"}
    )
    assert status == 400 and "non-nullable" in body["error"]
    status, body = _post(
        base + "/pipeline/run",
        {"doc_id": 4, "text": "t", "lang": "en", "extra": 1},
    )
    assert status == 400 and "unknown field" in body["error"]


def test_one_row_frame_is_one_arrow_partition(served, typed):
    """The served frame is built from a one-row Arrow table: one partition
    (one task per request) and no pickled-row PythonRDD in its lineage —
    createDataFrame([row], schema) has both defaultParallelism partitions
    and a PythonRDD."""
    record = {"doc_id": 7, "text": "A short document about rivers.", "lang": "en"}
    for service, _base in (served, typed):
        df = service._one_row_df(record)
        assert df.rdd.getNumPartitions() == 1
        assert "PythonRDD" not in df._jdf.queryExecution().toRdd().toDebugString()
        assert df.collect()[0]["text"] == record["text"]


def test_input_schema_roundtrip_matches_batch(typed, spark):
    """array<string>, double, boolean, a nested struct and a null in a
    nullable field survive the Arrow row: the served body equals the batch
    pipeline over createDataFrame([row], schema) on the same record."""
    from instructionspipe_spark.plans.compiler import run_pipeline
    from instructionspipe_spark.registry import DOC_PIPELINE

    schema = _typed_schema()
    record = {
        "doc_id": 11,
        "text": "Rivers carve valleys over time.",
        "lang": "en",
        "tags": ["geo", "water"],
        "score": 0.25,
        "flag": True,
        "meta": {"source": "wiki", "page": 3},
        "note": None,
    }
    status, body = _post(typed[1] + "/pipeline/run", record)
    assert status == 200, body
    row = tuple(record[f] for f in schema.fieldNames())
    batch = run_pipeline(spark.createDataFrame([row], schema), DOC_PIPELINE).collect()[0]
    assert body == batch.asDict(recursive=True)
    assert {k: body[k] for k in record} == record
    # createDataFrame also takes a struct as a JSON array of its values.
    status, as_array = _post(typed[1] + "/pipeline/run", dict(record, meta=["wiki", 3]))
    assert status == 200 and as_array == body


@pytest.mark.parametrize("value", ["x", 1.5, True])
def test_wrong_typed_value_is_400(typed, value):
    """A value of the wrong type for an input_schema field is a client
    error: 400 with the field named, never a 500 — and never accepted
    (Arrow alone would truncate 1.5 into a LongType)."""
    status, body = _post(
        typed[1] + "/pipeline/run", {"doc_id": value, "text": "t", "lang": "en"}
    )
    assert status == 400 and "doc_id" in body["error"], body


def test_session_disables_dataframe_debugging(spark):
    """get_spark turns off Spark 4's per-call Python call-site capture."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
