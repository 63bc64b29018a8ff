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


# ---------------------------------------------------------------------------
# Record-replay fixture for the LIVE OpenAiLlm path (L4/L12): a fake `openai`
# module with canned finish_reason sequences drives the real _make_completer
# retry loop — every branch of the reference's escalation policy
# (llm_cli.py:123-135) asserted without network.
# ---------------------------------------------------------------------------


class _Recorder:
    """Canned chat.completions.create: pops scripted (finish_reason, content)
    responses and records every request's params."""

    def __init__(self, script):
        self.script = list(script)
        self.calls = []

    async def create(self, **kwargs):
        import types

        self.calls.append(kwargs)
        finish_reason, content = self.script.pop(0)
        choice = types.SimpleNamespace(
            finish_reason=finish_reason,
            message=types.SimpleNamespace(content=content),
        )
        return types.SimpleNamespace(choices=[choice])


def _fake_openai(monkeypatch, script, request_timeout=None):
    """Install a fake ``openai`` module whose client replays ``script``. Its
    constructor pins the kernel's transport contract: the SDK's own retry
    loop is off (the kernel's ladder is the only fault policy) and the
    client's timeout is ``request_timeout`` (default: the field's default)."""
    import sys
    import types

    from instructionspipe_spark.plans.llm_kernel import OpenAiLlm

    if request_timeout is None:
        request_timeout = OpenAiLlm.request_timeout
    rec = _Recorder(script)

    class FakeAsyncOpenAI:
        def __init__(self, base_url=None, api_key=None, max_retries=None, timeout=None):
            assert max_retries == 0, max_retries
            assert timeout == request_timeout, timeout
            self.chat = types.SimpleNamespace(
                completions=types.SimpleNamespace(create=rec.create)
            )

    monkeypatch.setitem(sys.modules, "openai", types.SimpleNamespace(AsyncOpenAI=FakeAsyncOpenAI))
    return rec


def _run(coro):
    import asyncio

    loop = asyncio.new_event_loop()
    try:
        return loop.run_until_complete(coro)
    finally:
        loop.close()


def test_openai_replay_no_retry(monkeypatch):
    from instructionspipe_spark.plans.llm_kernel import OpenAiLlm

    rec = _fake_openai(monkeypatch, [("stop", "fine")], request_timeout=7.5)
    one = OpenAiLlm(model="m", temperature=0.3, request_timeout=7.5)._make_completer()
    assert _run(one(None, "hi")) == "fine"
    assert len(rec.calls) == 1
    c = rec.calls[0]
    assert c["temperature"] == 0.3 and c["frequency_penalty"] == 0.0
    assert "response_format" not in c


def test_openai_replay_length_escalation(monkeypatch):
    """finish_reason=length -> retried with temperature=1.0, freq=0.2."""
    from instructionspipe_spark.plans.llm_kernel import OpenAiLlm

    rec = _fake_openai(monkeypatch, [("length", "trunc"), ("stop", "full")])
    one = OpenAiLlm(model="m")._make_completer()
    assert _run(one(None, "hi")) == "full"
    assert len(rec.calls) == 2
    assert rec.calls[0]["temperature"] == 0.0 and rec.calls[0]["frequency_penalty"] == 0.0
    assert rec.calls[1]["temperature"] == 1.0 and rec.calls[1]["frequency_penalty"] == 0.2


def test_openai_replay_budget_exhausted(monkeypatch):
    """All length: exactly length_retries+1 calls, last content returned."""
    from instructionspipe_spark.plans.llm_kernel import OpenAiLlm

    rec = _fake_openai(
        monkeypatch,
        [("length", "t1"), ("length", "t2"), ("length", "t3"), ("length", "t4"), ("stop", "never")],
    )
    one = OpenAiLlm(model="m", length_retries=3)._make_completer()
    assert _run(one(None, "hi")) == "t4"
    assert len(rec.calls) == 4  # initial + 3 retries, never a 5th


def test_openai_replay_response_format_passthrough(monkeypatch):
    """L12: the declared-schema envelope reaches every request incl. retries."""
    import json

    from instructionspipe_spark.plans.llm_kernel import OpenAiLlm
    from instructionspipe_spark.plans.structured import response_format_envelope

    env = response_format_envelope("ans", {"type": "object", "properties": {"a": {"type": "string"}}})
    rec = _fake_openai(monkeypatch, [("length", "t"), ("stop", '{"a": "x"}')])
    one = OpenAiLlm(model="m", response_format_json=json.dumps(env))._make_completer()
    assert _run(one(None, "hi")) == '{"a": "x"}'
    assert [c["response_format"] for c in rec.calls] == [env, env]


def test_transient_classification():
    """The transport retry ladder's fault classifier (_transient): retryable
    = 429/5xx/408 HTTP statuses, connection drops, timeouts, short reads,
    and the openai-SDK transient classes (matched by NAME — the SDK is not
    importable here, which is exactly why the name/status_code branches
    need direct coverage); NOT retryable = hard 4xx and arbitrary errors."""
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
    # openai-SDK shapes, by class name and by status_code attribute
    for name in ("RateLimitError", "InternalServerError", "APITimeoutError", "APIConnectionError"):
        exc = type(name, (Exception,), {})()
        assert _transient(exc), name
    with_status = type("APIStatusError", (Exception,), {})()
    with_status.status_code = 503
    assert _transient(with_status)
    hard_status = type("APIStatusError", (Exception,), {})()
    hard_status.status_code = 401
    assert not _transient(hard_status)
    # arbitrary failures propagate immediately
    assert not _transient(ValueError("bug"))
    assert not _transient(KeyError("x"))
