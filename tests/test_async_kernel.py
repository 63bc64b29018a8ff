"""Tests for the Arrow-batched async LLM kernel (SURVEY.md L1/L4 machinery)
using the offline EchoAsyncLlm — full mapInPandas + event loop + semaphore
path, no network."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from instructionspipe_spark.plans.instructions import Instruction, Pipeline
from instructionspipe_spark.plans.llm_kernel import EchoAsyncLlm, MockLlm


def test_async_kernel_matches_expression_mock(spark):
    """The async kernel and the pure-expression MockLlm must agree — the
    same pipeline runs with either client interchangeably."""
    df = spark.createDataFrame([(i, f"text {i}") for i in range(50)], ["id", "p"])
    got = {r["id"]: r["ans"] for r in EchoAsyncLlm().complete_df(df, "p", "ans").collect()}
    want = {r["id"]: r["ans"] for r in MockLlm().complete_df(df, "p", "ans").collect()}
    assert got == want
    assert got[3] == hashlib.md5(b"mock:text 3").hexdigest()


def test_async_kernel_skips_null_and_empty(spark):
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "  \n "), (4, "real")], "id int, p string"
    )
    got = {r["id"]: r["ans"] for r in EchoAsyncLlm().complete_df(df, "p", "ans").collect()}
    assert got[1] is None and got[2] is None and got[3] is None
    assert got[4] == hashlib.md5(b"mock:real").hexdigest()


def test_async_kernel_in_pipeline(spark):
    """run_pipeline with the kernel client: P6 guard nulls the prompt, the
    kernel skips it; valid rows match the MockLlm result exactly."""
    from instructionspipe_spark.plans.compiler import run_pipeline

    pipe = Pipeline(stages=((Instruction(name="s", scope=("text",), content="go"),),))
    df = spark.createDataFrame([(1, "hello"), (2, None)], "id int, text string")
    async_rows = {r["id"]: r["s"] for r in run_pipeline(df, pipe, EchoAsyncLlm()).collect()}
    mock_rows = {r["id"]: r["s"] for r in run_pipeline(df, pipe, MockLlm()).collect()}
    assert async_rows == mock_rows
    assert async_rows[2] is None and async_rows[1] is not None


def test_async_kernel_bounded_concurrency(spark):
    out = EchoAsyncLlm(max_concurrency=2).complete_df(
        spark.createDataFrame([(i, f"p{i}") for i in range(20)], ["id", "p"]), "p", "ans"
    )
    assert out.filter(F.col("ans").isNull()).count() == 0


def test_stage_kernel_matches_expression_mock(spark):
    """One kernel per stage and client: run_pipeline with EchoAsyncLlm equals
    MockLlm in rows AND schema (names, order, types), with lineage, with an
    instruction name shadowing an input column (``lang``), and with a stage
    routed to two models. Every instruction reads the stage INPUT (the
    reference's per-record gather): ``c`` sees the input ``lang``, not its
    sibling's answer."""
    from instructionspipe_spark.plans.compiler import run_pipeline, run_stage

    pipe = Pipeline(
        stages=(
            (
                Instruction(name="a", scope=("text",), content="a", model="m1"),
                Instruction(name="lang", scope=("text", "lang"), content="b", model="m2"),
                Instruction(name="c", scope=("text", "lang"), content="c", model="m1"),
            ),
            (Instruction(name="r", scope=("a", "lang", "c"), content="r", model="m2"),),
        )
    )
    df = spark.createDataFrame(
        [(1, "alpha", "en"), (2, None, "fr"), (3, "gamma", None)],
        "id int, text string, lang string",
    )
    echo = {"m1": EchoAsyncLlm("m1"), "m2": EchoAsyncLlm("m2")}
    mock = {"m1": MockLlm("m1"), "m2": MockLlm("m2")}
    for lineage in (False, True):
        got = run_pipeline(df, pipe, echo, lineage=lineage)
        want = run_pipeline(df, pipe, mock, lineage=lineage)
        assert got.schema == want.schema
        rows = got.collect()
        assert sorted(map(repr, rows)) == sorted(map(repr, want.collect()))
    [first] = [r for r in rows if r["id"] == 1]
    assert first["c__msgs"][1]["content"] == "# text\nalpha\n\n# lang\nen"
    # A dotted input column passes through a stage by its literal name.
    dotted = run_stage(df.withColumnRenamed("id", "doc.id"), pipe.stages[0], mock)
    assert dotted.columns[0] == "doc.id" and dotted.count() == 3


def test_stage_compiles_to_one_kernel_per_client(spark):
    """The paper's 3+1 pipe: each stage is ONE mapInPandas (all of a
    record's map instructions in one pass), so the plan holds 2, not 4."""
    from instructionspipe_spark.plans.compiler import run_pipeline

    pipe = Pipeline(
        stages=(
            tuple(Instruction(name=n, scope=("text",), content=n) for n in ("x", "y", "z")),
            (Instruction(name="r", scope=("x", "y", "z"), content="merge"),),
        )
    )
    df = spark.createDataFrame([(1, "hello")], "id int, text string")
    out = run_pipeline(df, pipe, EchoAsyncLlm(), lineage=True)
    assert out._jdf.queryExecution().executedPlan().toString().count("MapInPandas") == 2


def test_transient_classification():
    """The transport retry ladder's fault classifier (_transient): retryable
    = 429/5xx/408 HTTP statuses, connection drops, timeouts and short reads;
    NOT retryable = hard 4xx and arbitrary errors."""
    import http.client
    import json
    import socket
    import urllib.error

    from instructionspipe_spark.plans.llm_kernel import _transient

    def http_err(code):
        return urllib.error.HTTPError("http://x", code, "msg", {}, None)

    # retryable statuses
    for code in (408, 429, 500, 502, 503, 504):
        assert _transient(http_err(code)), code
    # hard client errors: never retried
    for code in (400, 401, 403, 404, 422):
        assert not _transient(http_err(code)), code
    # transport-level faults
    assert _transient(urllib.error.URLError(socket.timeout()))
    assert _transient(socket.timeout())
    assert _transient(TimeoutError())
    assert _transient(ConnectionResetError())
    assert _transient(http.client.IncompleteRead(b"x", 10))
    assert _transient(http.client.RemoteDisconnected("gone"))
    try:
        json.loads("{truncated")
    except json.JSONDecodeError as e:
        assert _transient(e)
    # arbitrary failures propagate immediately
    assert not _transient(ValueError("bug"))
    assert not _transient(KeyError("x"))
