"""Live-wire tests for OpenAiLlm (SURVEY.md L4/L5): an in-process stdlib
HTTP server speaking the chat-completions wire format. Most tests drive it
through the REAL mapInPandas kernel from Spark workers over localhost:
serialization of the client to workers, the urllib transport, the
event-loop executor lifecycle, fault injection and the cache-table
interplay against a real endpoint. Where Spark adds nothing (the length
retry budget, which transport is used) the test awaits the completer from
``_make_completer()`` directly against the same server."""

from __future__ import annotations

import contextlib
import hashlib
import json
import re
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from pyspark.sql import functions as F


def _answer(prompt: str) -> str:
    return "ans:" + hashlib.md5(prompt.encode()).hexdigest()


class _ChatServer(ThreadingHTTPServer):
    """Chat-completions mock with scripted truncation: a prompt
    "LENGTHx<k>:rest" gets finish_reason='length' and content
    'TRUNC<call number>' on its first <k> calls, 'stop' after. Tracks every
    request payload and the in-flight high-water mark."""

    daemon_threads = True

    def __init__(self):
        super().__init__(("127.0.0.1", 0), _Handler)
        self.lock = threading.Lock()
        self.requests: list[dict] = []
        self.prompt_calls: dict[str, int] = {}
        self.in_flight = 0
        self.max_in_flight = 0
        self.handler_delay = 0.0
        #: how long a CHAOSTIMEOUT request stalls — must exceed the
        #: client's request_timeout for the fault to fire.
        self.chaos_stall = 2.0
        #: when set, every chaos 429 response carries a
        #: ``Retry-After: <this>`` header (delta-seconds form).
        self.retry_after: float | None = None


class _Handler(BaseHTTPRequestHandler):
    def log_message(self, *args):  # silence per-request stderr lines
        pass

    def do_POST(self):
        srv: _ChatServer = self.server  # type: ignore[assignment]
        body = self.rfile.read(int(self.headers["Content-Length"]))
        payload = json.loads(body)
        # The USER turn is the last message; a system prefix may precede it.
        prompt = payload["messages"][-1]["content"]
        with srv.lock:
            srv.requests.append(payload)
            srv.prompt_calls[prompt] = srv.prompt_calls.get(prompt, 0) + 1
            n_call = srv.prompt_calls[prompt]
            srv.in_flight += 1
            srv.max_in_flight = max(srv.max_in_flight, srv.in_flight)
        status, headers, data = 200, {}, None
        try:
            if srv.handler_delay:
                time.sleep(srv.handler_delay)
            # Scripted chaos: a prompt "CHAOS<mode>x<k>:rest" fails with
            # <mode> on its first <k> calls, then succeeds — deterministic
            # fault injection per prompt, no fractions, no flakiness.
            # Modes: 429 / 500 (status), 400 (hard, must NOT be retried),
            # TIMEOUT (stall past the client's request_timeout),
            # SHORT (200 with a truncated body: declared Content-Length,
            # half the bytes — the client sees IncompleteRead).
            m = re.match(r"CHAOS(429|500|400|TIMEOUT|SHORT)x(\d+):", prompt)
            mode = m.group(1) if m and n_call <= int(m.group(2)) else None
            if mode in ("429", "500", "400"):
                status = int(mode)
                data = json.dumps({"error": {"message": f"chaos {mode}"}}).encode()
                if mode == "429" and srv.retry_after is not None:
                    headers["Retry-After"] = str(srv.retry_after)
            elif mode == "SHORT":
                data = json.dumps({"choices": [{"finish_reason": "stop"}]}).encode()
            else:
                if mode == "TIMEOUT":
                    time.sleep(srv.chaos_stall)
                    # fall through to a normal (too-late) response below
                m = re.match(r"LENGTHx(\d+):", prompt)
                truncated = bool(m) and n_call <= int(m.group(1))
                resp = {
                    "id": "mock",
                    "object": "chat.completion",
                    "model": payload["model"],
                    "choices": [
                        {
                            "index": 0,
                            "finish_reason": "length" if truncated else "stop",
                            "message": {
                                "role": "assistant",
                                "content": f"TRUNC{n_call}" if truncated else _answer(prompt),
                            },
                        }
                    ],
                }
                data = json.dumps(resp).encode()
        finally:
            # Lowered BEFORE the body is written: a client that has read a
            # whole answer may send its next request at once, and a count
            # lowered after the write could still hold the old one — a
            # phantom request in flight that no client is waiting on.
            with srv.lock:
                srv.in_flight -= 1
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(data)))
        for k, v in headers.items():
            self.send_header(k, v)
        self.end_headers()
        self.wfile.write(data[: len(data) // 2] if mode == "SHORT" else data)


@contextlib.contextmanager
def _server():
    srv = _ChatServer()
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        yield srv, f"http://127.0.0.1:{srv.server_address[1]}/v1"
    finally:
        srv.shutdown()
        srv.server_close()


def test_live_http_end_to_end_with_concurrency_bound(spark):
    """40 prompts through one kernel instance (1 partition): every row
    answered from the wire; in-flight high-water mark proves real fan-out
    (>1) and respects the semaphore (<= max_concurrency)."""
    from instructionspipe_spark.plans.llm_kernel import OpenAiLlm

    with _server() as (srv, base_url):
        srv.handler_delay = 0.05  # force request overlap
        df = spark.createDataFrame(
            [(i, f"prompt {i}") for i in range(40)], ["id", "p"]
        ).coalesce(1)
        llm = OpenAiLlm(model="mock-model", base_url=base_url, max_concurrency=4)
        got = {r["id"]: r["ans"] for r in llm.complete_df(df, "p", "ans").collect()}
        assert got == {i: _answer(f"prompt {i}") for i in range(40)}
        assert len(srv.requests) == 40
        assert 2 <= srv.max_in_flight <= 4, srv.max_in_flight


def test_live_http_retry_ladder_on_wire(spark):
    """finish_reason='length' from a real endpoint: the first request
    carries the configured temperature with frequency_penalty 0 and no
    response_format key; the retry arrives with temperature=1.0 /
    frequency_penalty=0.2 (llm_cli.py:123-135 policy), and the row ends
    with the retried content."""
    from instructionspipe_spark.plans.llm_kernel import OpenAiLlm

    with _server() as (srv, base_url):
        df = spark.createDataFrame(
            [(1, "LENGTHx1:needs-retry"), (2, "plain")], ["id", "p"]
        ).coalesce(1)
        llm = OpenAiLlm(model="mock-model", base_url=base_url, temperature=0.3)
        got = {r["id"]: r["ans"] for r in llm.complete_df(df, "p", "ans").collect()}
        assert got[1] == _answer("LENGTHx1:needs-retry") and got[2] == _answer("plain")
        ladder = [
            (r["temperature"], r["frequency_penalty"])
            for r in srv.requests
            if r["messages"][-1]["content"] == "LENGTHx1:needs-retry"
        ]
        assert ladder == [(0.3, 0.0), (1.0, 0.2)]
        assert not any("response_format" in r for r in srv.requests)


def test_live_http_cache_table_interplay(spark, tmp_path):
    """cached_llm_call against the live endpoint: duplicate prompts collapse
    to one wire call; a second run over the same prompts makes ZERO new
    requests (parquet cache table hit); results stay correct both runs."""
    from instructionspipe_spark.plans.cache import cached_llm_call
    from instructionspipe_spark.plans.llm_kernel import OpenAiLlm

    cache_path = str(tmp_path / "llm_cache")
    with _server() as (srv, base_url):
        llm = OpenAiLlm(model="mock-model", base_url=base_url)
        df = spark.createDataFrame(
            [(i, f"q{i % 5}") for i in range(20)], ["id", "p"]
        ).coalesce(1)
        out1 = cached_llm_call(df, "p", "ans", llm, cache_path=cache_path)
        rows1 = {r["id"]: r["ans"] for r in out1.collect()}
        assert rows1 == {i: _answer(f"q{i % 5}") for i in range(20)}
        n_after_first = len(srv.requests)
        assert n_after_first == 5  # 20 rows, 5 distinct prompts, 1 call each

        out2 = cached_llm_call(df, "p", "ans", llm, cache_path=cache_path)
        rows2 = {r["id"]: r["ans"] for r in out2.collect()}
        assert rows2 == rows1
        assert len(srv.requests) == n_after_first  # all served from the table


def test_live_http_null_and_empty_prompts_skip_network(spark):
    from instructionspipe_spark.plans.llm_kernel import OpenAiLlm

    with _server() as (srv, base_url):
        df = spark.createDataFrame(
            [(1, None), (2, "  "), (3, "real")], "id int, p string"
        ).coalesce(1)
        llm = OpenAiLlm(model="mock-model", base_url=base_url)
        got = {r["id"]: r["ans"] for r in llm.complete_df(df, "p", "ans").collect()}
        assert got[1] is None and got[2] is None and got[3] == _answer("real")
        assert len(srv.requests) == 1  # nulls never reach the wire


def test_live_http_system_prompt_is_separate_message(spark):
    """The reference posts ``messages = prefix + [msg]`` — a properly-roled
    system message plus the user turn (llm_cli.py:114). Drive run_stage with
    OpenAiLlm against the live endpoint and assert the WIRE format: exactly
    [system, user], the system content byte-equal to system_prompt(instr),
    the user content just the scoped markdown — and the lineage ChatML
    records exactly those messages, not a flattened concat."""
    from instructionspipe_spark.plans.compiler import run_stage, system_prompt
    from instructionspipe_spark.plans.instructions import Instruction
    from instructionspipe_spark.plans.llm_kernel import OpenAiLlm

    instr = Instruction(
        name="summ", scope=("text",), role="summarizer", content="Summarize."
    )
    with _server() as (srv, base_url):
        df = spark.createDataFrame([(1, "hello world")], ["doc_id", "text"]).coalesce(1)
        llm = OpenAiLlm(model="mock-model", base_url=base_url)
        row = run_stage(df, (instr,), llm, lineage=True).first()
        assert len(srv.requests) == 1
        msgs = srv.requests[0]["messages"]
        assert [m["role"] for m in msgs] == ["system", "user"]
        assert msgs[0]["content"] == system_prompt(instr)
        assert msgs[1]["content"] == "# text\nhello world"
        # completion came from the wire (server hashes the USER turn)
        assert row["summ"] == _answer("# text\nhello world")
        # lineage records the actual wire messages + the assistant reply
        lin = [(m["role"], m["content"]) for m in row["summ__msgs"]]
        assert lin == [
            ("system", system_prompt(instr)),
            ("user", "# text\nhello world"),
            ("assistant", row["summ"]),
        ]


def test_live_http_run_config_one_llm_pass(spark, tmp_path):
    """run_config's one-pass contract on the wire: a two-stage pipe (two
    map instructions, one reduce) over 3 distinct records sends exactly
    records x instructions requests, because the out, chatml and meta sinks
    share one persisted LLM pass; every ChatML assistant turn is the
    endpoint's answer to its user turn; and no cache outlives the call."""
    from instructionspipe_spark.plans.llm_kernel import OpenAiLlm
    from instructionspipe_spark.plans.runner import run_config

    records = [{"id": i, "notes": f"note {i}", "labs": f"lab {i}"} for i in range(3)]
    src = tmp_path / "in.jsonl"
    src.write_text("".join(json.dumps(r) + "\n" for r in records))
    pipe = [
        [
            {"name": "n", "scope": ["notes"], "content": "Summarize the notes."},
            {"name": "l", "scope": ["labs"], "content": "Summarize the labs."},
        ],
        [{"name": "s", "scope": ["n", "l"], "content": "Merge."}],
    ]
    cfg = {
        "in_data_path": str(src),
        "out_data_path": str(tmp_path / "out.jsonl"),
        "chatml_path": str(tmp_path / "chatml.jsonl"),
        "llms": [],
        "pipe": pipe,
    }
    cfg_path = tmp_path / "run.json"
    cfg_path.write_text(json.dumps(cfg))
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    n_persisted = persistent().size()
    with _server() as (srv, base_url):
        llm = OpenAiLlm(model="mock-model", base_url=base_url)
        run_config(spark, str(cfg_path), llm=llm, append_mode=False)
        assert len(srv.requests) == len(records) * 3
    assert persistent().size() == n_persisted

    chatml = spark.read.json(cfg["chatml_path"]).collect()
    assert len(chatml) == len(records) * 3
    for row in chatml:
        turns = {m["role"]: m["content"] for m in row["chatml"]}
        assert turns["assistant"] == _answer(turns["user"]), row["name"]
    assert spark.read.json(cfg["out_data_path"]).count() == len(records)
    assert spark.read.json(cfg["chatml_path"] + ".meta.jsonl").count() == len(records)


def test_live_http_stage_sends_map_instructions_concurrently(spark):
    """The paper's 3+1 pipe over one record on the wire: the three map
    instructions are in flight together (one kernel per stage, as the
    reference's per-record gather), then the reduce — 4 requests in two
    rounds, every answer the endpoint's answer to its user turn."""
    from instructionspipe_spark.plans.compiler import run_pipeline
    from instructionspipe_spark.plans.instructions import Instruction, Pipeline
    from instructionspipe_spark.plans.llm_kernel import OpenAiLlm

    maps = ("notes", "labs", "meds")
    pipe = Pipeline(
        stages=(
            tuple(Instruction(name=f"s_{f}", scope=(f,), content=f"Summarize {f}.") for f in maps),
            (Instruction(name="merged", scope=tuple(f"s_{f}" for f in maps), content="Merge."),),
        )
    )
    df = spark.createDataFrame([("n1", "l1", "m1")], list(maps)).coalesce(1)
    with _server() as (srv, base_url):
        srv.handler_delay = 0.2
        llm = OpenAiLlm(model="mock-model", base_url=base_url)
        row = run_pipeline(df, pipe, llm, lineage=True).first()
        assert len(srv.requests) == 4
        assert srv.max_in_flight == 3, srv.max_in_flight
    for name in [f"s_{f}" for f in maps] + ["merged"]:
        user = row[f"{name}__msgs"][1]["content"]
        assert row[name] == _answer(user), name


def test_live_http_stage_kernel_bounds_each_instruction(spark):
    """max_concurrency bounds each instruction of a stage kernel on its own:
    two instructions at max_concurrency=2 over 10 rows (one partition)
    overlap past one instruction's bound but never past the sum."""
    from instructionspipe_spark.plans.compiler import run_stage
    from instructionspipe_spark.plans.instructions import Instruction
    from instructionspipe_spark.plans.llm_kernel import OpenAiLlm

    stage = (
        Instruction(name="a", scope=("p",), content="A."),
        Instruction(name="b", scope=("p",), content="B."),
    )
    df = spark.createDataFrame([(i, f"prompt {i}") for i in range(10)], ["id", "p"]).coalesce(1)
    with _server() as (srv, base_url):
        srv.handler_delay = 0.05
        llm = OpenAiLlm(model="mock-model", base_url=base_url, max_concurrency=2)
        rows = run_stage(df, stage, llm).collect()
        assert len(srv.requests) == 20
        assert 3 <= srv.max_in_flight <= 4, srv.max_in_flight
    assert all(r["a"] == r["b"] == _answer(f"# p\n{r['p']}") for r in rows)


def test_live_http_structured_response_format_on_wire(spark):
    """L12: the response_format envelope survives pickling to the worker and
    lands verbatim in the HTTP payload of every request, length retries
    included."""
    from instructionspipe_spark.plans.llm_kernel import OpenAiLlm
    from instructionspipe_spark.plans.structured import response_format_envelope

    env = response_format_envelope(
        "ans", {"type": "object", "properties": {"a": {"type": "string"}}}
    )
    with _server() as (srv, base_url):
        df = spark.createDataFrame([(1, "LENGTHx1:structured")], ["id", "p"]).coalesce(1)
        llm = OpenAiLlm(
            model="mock-model", base_url=base_url, response_format_json=json.dumps(env)
        )
        [row] = llm.complete_df(df, "p", "ans").collect()
        assert row["ans"] == _answer("LENGTHx1:structured")
        assert [r["response_format"] for r in srv.requests] == [env, env]


def test_length_retry_budget_on_wire():
    """An always-truncated prompt with length_retries=3 sends exactly 4
    requests (the first plus 3 re-asks, never a 5th) and returns the last
    truncated content."""
    import asyncio

    from instructionspipe_spark.plans.llm_kernel import OpenAiLlm

    with _server() as (srv, base_url):
        llm = OpenAiLlm(model="mock-model", base_url=base_url, length_retries=3)
        assert asyncio.run(llm._make_completer()(None, "LENGTHx9:always")) == "TRUNC4"
        assert srv.prompt_calls == {"LENGTHx9:always": 4}


def test_importable_openai_package_is_not_used(monkeypatch):
    """The kernel has one transport: with an ``openai`` module importable,
    the completer still POSTs the chat-completions wire format to
    ``base_url`` and never builds an SDK client."""
    import asyncio
    import sys
    import types

    from instructionspipe_spark.plans.llm_kernel import OpenAiLlm

    def no_client(*args, **kwargs):
        raise AssertionError("the kernel built an openai client")

    openai = types.ModuleType("openai")
    openai.AsyncOpenAI = no_client
    monkeypatch.setitem(sys.modules, "openai", openai)
    with _server() as (srv, base_url):
        llm = OpenAiLlm(model="mock-model", base_url=base_url)
        assert asyncio.run(llm._make_completer()(None, "hello")) == _answer("hello")
        assert len(srv.requests) == 1


def test_chaos_transport_retries_heal_all_modes(spark):
    """VERDICT r9 #6: every transient fault class — 429, 500, timeout,
    short-read — heals inside the transport budget and the row completes
    with the CORRECT content; the server's per-prompt call counts prove
    each ladder ran exactly (k failures + 1 success) attempts."""
    from instructionspipe_spark.plans.llm_kernel import OpenAiLlm

    prompts = [
        "CHAOS429x2:rate-limited",
        "CHAOS500x1:server-blip",
        "CHAOSTIMEOUTx1:stalled",
        "CHAOSSHORTx2:truncated-body",
        "plain sailing",
    ]
    with _server() as (srv, base_url):
        srv.chaos_stall = 1.5
        df = spark.createDataFrame(
            [(i, p) for i, p in enumerate(prompts)], ["id", "p"]
        ).coalesce(1)
        llm = OpenAiLlm(
            model="mock-model",
            base_url=base_url,
            transport_retries=4,
            backoff_base=0.01,
            request_timeout=0.5,
        )
        got = {r["id"]: r["ans"] for r in llm.complete_df(df, "p", "ans").collect()}
        assert got == {i: _answer(p) for i, p in enumerate(prompts)}
        assert srv.prompt_calls["CHAOS429x2:rate-limited"] == 3
        assert srv.prompt_calls["CHAOS500x1:server-blip"] == 2
        assert srv.prompt_calls["CHAOSTIMEOUTx1:stalled"] == 2
        assert srv.prompt_calls["CHAOSSHORTx2:truncated-body"] == 3
        assert srv.prompt_calls["plain sailing"] == 1


def test_chaos_exhausted_budget_fails_loudly(spark):
    """A fault outliving the budget RE-RAISES (the Spark task fails) —
    never a silent NULL completion that would poison the cache table."""
    import pytest

    from instructionspipe_spark.plans.llm_kernel import OpenAiLlm

    with _server() as (srv, base_url):
        df = spark.createDataFrame([(1, "CHAOS429x9:hopeless")], ["id", "p"]).coalesce(1)
        llm = OpenAiLlm(
            model="mock-model", base_url=base_url, transport_retries=1, backoff_base=0.01
        )
        with pytest.raises(Exception, match="429"):
            llm.complete_df(df, "p", "ans").collect()
        # budget respected: 1 original + 1 retry, then give up
        assert srv.prompt_calls["CHAOS429x9:hopeless"] == 2


def test_chaos_retry_after_is_honored(spark):
    """A 429 carrying ``Retry-After: <secs>`` stretches the backoff to at
    least that value (max(retry_after, backoff)); without the header the
    same fault retries near-instantly — the delta is the header's doing."""
    import time

    from instructionspipe_spark.plans.llm_kernel import OpenAiLlm

    with _server() as (srv, base_url):
        srv.retry_after = 1.5
        df = spark.createDataFrame([(1, "CHAOS429x1:paced")], ["id", "p"]).coalesce(1)
        # backoff_base tiny: absent the header the retry fires in ~10 ms, so
        # a >=1.5 s wall clock can only come from honoring Retry-After.
        llm = OpenAiLlm(
            model="mock-model", base_url=base_url, transport_retries=2, backoff_base=0.01
        )
        t0 = time.monotonic()
        [row] = llm.complete_df(df, "p", "ans").collect()
        elapsed = time.monotonic() - t0
        ans = row["ans"]
        assert ans == _answer("CHAOS429x1:paced")
        assert srv.prompt_calls["CHAOS429x1:paced"] == 2
        assert elapsed >= 1.5, f"retry fired after {elapsed:.3f}s — Retry-After ignored"


def test_retry_after_parser_units():
    """_retry_after_seconds: delta-seconds, HTTP-date, absent, junk."""
    import email.utils
    import time

    from instructionspipe_spark.plans.llm_kernel import _retry_after_seconds

    class _Exc(Exception):
        def __init__(self, headers):
            self.headers = headers

    assert _retry_after_seconds(_Exc({"Retry-After": "7"})) == 7.0
    assert _retry_after_seconds(_Exc({"retry-after": "2.5"})) == 2.5
    assert _retry_after_seconds(_Exc({})) is None
    assert _retry_after_seconds(_Exc({"Retry-After": "soon"})) is None
    assert _retry_after_seconds(Exception("no headers at all")) is None
    # HTTP-date form: ~10 s in the future parses to roughly that delta
    date = email.utils.formatdate(time.time() + 10, usegmt=True)
    got = _retry_after_seconds(_Exc({"Retry-After": date}))
    assert got is not None and 8.0 <= got <= 10.5
    # a date in the past clamps to 0, not negative
    past = email.utils.formatdate(time.time() - 60, usegmt=True)
    assert _retry_after_seconds(_Exc({"Retry-After": past})) == 0.0


def test_chaos_hard_4xx_is_not_retried(spark):
    """A 400 (malformed payload / bad key) raises IMMEDIATELY: retrying a
    deterministic client error burns the budget and masks the real bug."""
    import pytest

    from instructionspipe_spark.plans.llm_kernel import OpenAiLlm

    with _server() as (srv, base_url):
        df = spark.createDataFrame([(1, "CHAOS400x9:bad-request")], ["id", "p"]).coalesce(1)
        llm = OpenAiLlm(
            model="mock-model", base_url=base_url, transport_retries=4, backoff_base=0.01
        )
        with pytest.raises(Exception, match="400"):
            llm.complete_df(df, "p", "ans").collect()
        assert srv.prompt_calls["CHAOS400x9:bad-request"] == 1


def test_chaos_cached_llm_no_duplicate_cache_rows(spark, tmp_path):
    """The cache-table protocol under chaos: rows that needed transport
    retries land in the cache EXACTLY ONCE (retries happen inside the
    kernel, below the write), results are correct, and a second run is
    served entirely from the table (zero new wire calls)."""
    from instructionspipe_spark.plans.cache import cached_llm_call
    from instructionspipe_spark.plans.llm_kernel import OpenAiLlm

    cache_path = str(tmp_path / "chaos_cache")
    prompts = ["CHAOS429x2:flaky-a", "CHAOS500x2:flaky-b", "steady"]
    with _server() as (srv, base_url):
        llm = OpenAiLlm(
            model="mock-model", base_url=base_url, transport_retries=3, backoff_base=0.01
        )
        # duplicate every prompt across rows: dedup-before-call must still
        # collapse them so each distinct prompt hits the wire one ladder.
        df = spark.createDataFrame(
            [(i, prompts[i % 3]) for i in range(12)], ["id", "p"]
        ).coalesce(1)
        out1 = cached_llm_call(df, "p", "ans", llm, cache_path=cache_path)
        rows1 = {r["id"]: r["ans"] for r in out1.collect()}
        assert rows1 == {i: _answer(prompts[i % 3]) for i in range(12)}
        wire_after_first = dict(srv.prompt_calls)
        assert wire_after_first == {
            "CHAOS429x2:flaky-a": 3,  # 2 failures + 1 success, ONE ladder
            "CHAOS500x2:flaky-b": 3,
            "steady": 1,
        }
        # the cache table holds exactly one row per distinct prompt — no
        # duplicate appends from the retry ladder
        cached = spark.read.parquet(cache_path).collect()
        assert len(cached) == 3
        assert len({r["cache_key"] for r in cached}) == 3

        out2 = cached_llm_call(df, "p", "ans", llm, cache_path=cache_path)
        assert {r["id"]: r["ans"] for r in out2.collect()} == rows1
        assert dict(srv.prompt_calls) == wire_after_first  # zero new calls
        assert len(spark.read.parquet(cache_path).collect()) == 3
