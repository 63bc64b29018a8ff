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


def _counting_compiles(monkeypatch) -> list:
    """Record the schema of every plan compiled by a service from here on."""
    from instructionspipe_spark import serving

    compiled = []
    real = serving.compile_pipeline
    monkeypatch.setattr(
        serving, "compile_pipeline", lambda schema, *a, **k: compiled.append(schema) or real(schema, *a, **k)
    )
    return compiled


def test_one_field_set_compiles_once(spark, monkeypatch):
    """N requests with one field set compile one plan; a new field set
    compiles a second, and both still equal the batch path."""
    from instructionspipe_spark.plans.compiler import run_pipeline
    from instructionspipe_spark.registry import DOC_PIPELINE
    from instructionspipe_spark.serving import PipelineService

    compiled = _counting_compiles(monkeypatch)
    service = PipelineService(spark, DOC_PIPELINE)
    records = [{"doc_id": i, "text": f"river number {i}", "lang": "en"} for i in range(3)]
    for record in records:
        body = service.run_record(record)
        assert body == run_pipeline(spark.createDataFrame([record]), DOC_PIPELINE).collect()[0].asDict()
    assert len(compiled) == 1
    wider = dict(records[0], source="wiki")
    body = service.run_record(wider)
    assert len(compiled) == 2 and compiled[1].names == ["doc_id", "lang", "source", "text"]
    assert body == run_pipeline(spark.createDataFrame([wider]), DOC_PIPELINE).collect()[0].asDict()
    service.run_record(records[1])
    assert len(compiled) == 2


def test_input_schema_compiles_at_construction(spark, monkeypatch):
    from instructionspipe_spark.registry import DOC_PIPELINE
    from instructionspipe_spark.serving import PipelineService

    compiled = _counting_compiles(monkeypatch)
    service = PipelineService(spark, DOC_PIPELINE, input_schema=_typed_schema())
    assert compiled == [_typed_schema()]
    service.run_record({"doc_id": 1, "text": "about lakes", "lang": "en"})
    service.run_record({"doc_id": 2, "text": "about hills", "lang": None})
    assert len(compiled) == 1


def test_concurrent_first_requests_of_new_schema(spark, monkeypatch):
    """Two concurrent first requests of a schema the service has not seen
    both answer 200 and equal the batch path; the plan is compiled once."""
    from concurrent.futures import ThreadPoolExecutor

    from instructionspipe_spark.plans.compiler import run_pipeline
    from instructionspipe_spark.registry import DOC_PIPELINE
    from instructionspipe_spark.serving import PipelineService, serve_background

    compiled = _counting_compiles(monkeypatch)
    server, base = serve_background(PipelineService(spark, DOC_PIPELINE))
    try:
        records = [{"doc_id": i, "text": f"lake {i}", "lang": "fi", "page": i} for i in (1, 2)]
        with ThreadPoolExecutor(max_workers=2) as ex:
            results = list(ex.map(lambda r: _post(base + "/pipeline/run", r), records))
    finally:
        server.shutdown()
    assert len(compiled) == 1
    for record, (status, body) in zip(records, results):
        assert status == 200, body
        assert body == run_pipeline(spark.createDataFrame([record]), DOC_PIPELINE).collect()[0].asDict()


def test_plan_cache_is_bounded(spark, monkeypatch):
    """A client can post any field set: past the bound, the least recently
    used plan is dropped, so the cache never holds more than the bound."""
    from instructionspipe_spark import serving
    from instructionspipe_spark.registry import DOC_PIPELINE

    monkeypatch.setattr(serving, "PLAN_CACHE_SIZE", 2)
    service = serving.PipelineService(spark, DOC_PIPELINE)
    base = {"text": "t", "lang": "en"}
    first = service._plan_for(dict(base, x0=0))
    for i in range(1, 5):
        service._plan_for(dict(base, **{f"x{i}": i}))
        assert service._plan_for(dict(base, x0=0)) is first  # most recently used
        assert len(service._plans) <= 2
    assert [s.names for s in service._plans] == [["lang", "text", "x4"], ["lang", "text", "x0"]]


def test_stalled_body_read_times_out(served, monkeypatch):
    """A POST whose body is shorter than its Content-Length no longer holds
    the handler thread until the client hangs up: the read times out and
    the connection is closed within the handler's timeout."""
    import socket
    import time
    from urllib.parse import urlsplit

    from instructionspipe_spark import serving

    assert serving._Handler.timeout is not None and 0 < serving._Handler.timeout <= 60
    monkeypatch.setattr(serving._Handler, "timeout", 0.5)
    url = urlsplit(served[1])
    with socket.create_connection((url.hostname, url.port), timeout=10) as sock:
        t0 = time.monotonic()
        sock.sendall(b"POST /pipeline/run HTTP/1.1\r\nHost: x\r\nContent-Length: 10\r\n\r\n{}")
        assert sock.recv(1024) == b""  # closed unanswered, not left hanging
        assert time.monotonic() - t0 < 5
