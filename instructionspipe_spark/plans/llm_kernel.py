"""LLM kernel — the engine's one bespoke physical operator (SURVEY.md L1-L5).

Two interchangeable clients:

- :class:`MockLlm` — deterministic: completion = md5 of the prompt (optionally
  wrapped). Compiles to a *pure Column expression*, which makes every LLM
  pipeline testable offline and oracle-checkable (any SQL engine with md5
  reproduces it). Mirrors the reference's determinism intent
  (seed=2 / temperature~0, ``llm_cli.py:37-41``) but actually achieves it.

- :class:`OpenAiLlm` — the real thing: an Arrow-batched ``mapInPandas``
  kernel that runs an asyncio event loop per batch with bounded concurrency
  (the reference's per-record ``asyncio.gather``,
  ``instructions_runners.py:144-148``, inverted into Spark's model: records
  parallelize across partitions, per-batch fan-out inside the kernel, one
  kernel per pipeline stage and client), with the reference's length-retry
  policy (``llm_cli.py:123-135``: <=3 retries on finish_reason=="length"
  with temperature 1.0 + frequency_penalty).

At 100 TB the LLM call is ~10^6x slower than the scan, so the physical design
is entirely about the kernel: batch size = partition slice (control with
``repartition``), identical shared prompt prefixes across rows preserve
server-side KV prefix caching, and the cache-table protocol
(:mod:`instructionspipe_spark.plans.cache`) collapses duplicate prompts
before any network call.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


class LlmClient:
    """Interface: turn a prompt column into a completion column.

    ``system`` is an optional CONSTANT system prompt (per-instruction, so a
    plain Python string, not a column). Wire clients send it as a separate
    properly-roled message (the reference posts ``prefix + [msg]``,
    ``llm_cli.py:114``); expression clients fold it into the deterministic
    hash via the canonical ``system + "\\n\\n" + user`` concatenation."""

    #: True when :meth:`completion_column` exists (pure-expression client).
    expression_based = False

    def completion_column(self, prompt: Column) -> Column:  # pragma: no cover
        raise NotImplementedError

    def complete_df(
        self, df: DataFrame, prompt_col: str, out_col: str, system: str | None = None
    ) -> DataFrame:
        """Default: add ``out_col`` with the completion of ``prompt_col``."""
        if self.expression_based:
            prompt = F.col(prompt_col)
            if system is not None:
                prompt = F.concat(F.lit(system), F.lit("\n\n"), prompt)
            # P6 null-completion contract enforced CENTRALLY: a null prompt
            # (empty-instruction predicate upstream) yields a null
            # completion even if the client's expression has a non-null
            # default branch (e.g. a when/otherwise judge label).
            return df.withColumn(
                out_col,
                F.when(F.col(prompt_col).isNotNull(), self.completion_column(prompt)),
            )
        raise NotImplementedError

    def complete_columns(
        self, df: DataFrame, specs: list[tuple[str, str, str | None]]
    ) -> DataFrame:
        """Add one completion column per ``(prompt_col, out_col, system)``
        spec. Default: one :meth:`complete_df` per spec, in order — the plan
        an expression or cache client builds for a single instruction.
        Kernel clients override this to answer every spec in one pass."""
        for prompt_col, out_col, system in specs:
            df = self.complete_df(df, prompt_col, out_col, system=system)
        return df


@dataclass(frozen=True)
class MockLlm(LlmClient):
    """Deterministic mock: completion = ``md5(model || ':' || prompt)``.

    The model name participates so multi-model routing (L3) is observable in
    tests. Pure expression — stays in whole-stage codegen.
    """

    model: str = "mock"
    expression_based = True

    def completion_column(self, prompt: Column) -> Column:
        return F.md5(F.concat(F.lit(self.model), F.lit(":"), prompt))


class AsyncKernelLlm(LlmClient):
    """Shared Arrow-batched async kernel: one ``mapInPandas`` per call, one
    asyncio event loop per batch, and every (spec, row) prompt of the batch
    fanned out concurrently on that loop (the reference's per-record
    ``asyncio.gather``, instructions_runners.py:144-148, inverted into
    Spark's model). The compiler makes one call per pipeline stage and
    client, so all instructions of a stage share the pass.

    ``max_concurrency`` is the in-flight bound per spec (instruction) per
    Arrow batch: each spec has its own semaphore, so a stage of k
    instructions peaks at k x ``max_concurrency`` requests per batch.

    Subclasses supply ``_make_completer()`` returning an
    ``async (system: str | None, user: str) -> completion`` callable — the
    system prompt travels separately so wire clients can send it as its own
    properly-roled message; the instance must be picklable (it ships to
    executors inside the kernel closure)."""

    max_concurrency: int = 16
    expression_based = False

    def _make_completer(self):  # pragma: no cover - abstract
        raise NotImplementedError

    def complete_df(
        self, df: DataFrame, prompt_col: str, out_col: str, system: str | None = None
    ) -> DataFrame:
        return self.complete_columns(df, [(prompt_col, out_col, system)])

    def complete_columns(
        self, df: DataFrame, specs: list[tuple[str, str, str | None]]
    ) -> DataFrame:
        # An out_col naming an existing column replaces it in place, as
        # withColumn does for expression clients; new ones are appended.
        fields = {f.name: f for f in df.schema.fields}
        for _, out_col, _ in specs:
            fields[out_col] = T.StructField(out_col, T.StringType())
        out_schema = T.StructType(list(fields.values()))
        make_completer = self._make_completer
        max_concurrency = self.max_concurrency

        def kernel(batches: Iterator) -> Iterator:
            import asyncio
            from concurrent.futures import ThreadPoolExecutor

            one = make_completer()

            async def guarded(sem, system, prompt):
                # Empty-instruction predicate (P6/llm_cli.py:91-99): skip the
                # call entirely for null/empty prompts.
                if prompt is None or not str(prompt).strip():
                    return None
                async with sem:
                    return await one(system, prompt)

            async def run_spec(prompts: list, system) -> list:
                sem = asyncio.Semaphore(max_concurrency)
                return await asyncio.gather(*(guarded(sem, system, p) for p in prompts))

            async def run_batch(pdf) -> list:
                return await asyncio.gather(
                    *(run_spec(list(pdf[p]), system) for p, _, system in specs)
                )

            for pdf in batches:
                loop = asyncio.new_event_loop()
                # OpenAiLlm POSTs via the loop's default executor,
                # and asyncio's default pool caps at min(32, cpus+4) threads
                # — which silently floors the in-flight bound (measured:
                # peak in-flight pinned at ~32/partition however high the
                # semaphore, BENCH_KERNEL.md round 8). Size the executor to
                # the sum of the per-spec semaphores so the SEMAPHORES are
                # the bound; the per-batch shutdown_default_executor drain
                # below covers it.
                loop.set_default_executor(
                    ThreadPoolExecutor(max_workers=max_concurrency * len(specs))
                )
                try:
                    answers = loop.run_until_complete(run_batch(pdf))
                finally:
                    try:
                        # OpenAiLlm posts via the loop's default executor;
                        # drain its threads per batch so reused Python
                        # workers never accumulate pools.
                        loop.run_until_complete(loop.shutdown_default_executor())
                    finally:
                        loop.close()
                for (_, out_col, _), col in zip(specs, answers):
                    pdf[out_col] = col
                yield pdf

        return df.mapInPandas(kernel, schema=out_schema)


@dataclass(frozen=True)
class EchoAsyncLlm(AsyncKernelLlm):
    """Deterministic async kernel for tests: md5 of the prompt computed
    through the full mapInPandas + event-loop + semaphore path — exercises
    everything OpenAiLlm does except the HTTP call."""

    model: str = "mock"
    max_concurrency: int = 16

    def _make_completer(self):
        import hashlib

        model = self.model

        async def one(system: str | None, user: str) -> str:
            import asyncio

            await asyncio.sleep(0)  # prove we really suspend on the loop
            # Canonical system+user concatenation — byte-identical to
            # MockLlm over build_prompt, so the kernel path is oracle-equal.
            prompt = user if system is None else f"{system}\n\n{user}"
            return hashlib.md5(f"{model}:{prompt}".encode()).hexdigest()

        return one


#: HTTP statuses worth retrying: rate limit, server-side transients, and
#: request-timeout. Hard 4xx (400/401/403/404/422) raise immediately — a
#: malformed payload or bad key never heals by retrying, and burning the
#: budget on it masks the real error.
_RETRYABLE_STATUS = frozenset({408, 429, 500, 502, 503, 504})


def _transient(exc: BaseException) -> bool:
    """True when a send() failure is worth a backoff-retry: HTTP 429/5xx/408,
    connection drops, timeouts, and short reads (truncated/incomplete bodies
    surfacing as IncompleteRead or a JSON parse error)."""
    import http.client
    import json as _json
    import socket
    import urllib.error

    if isinstance(exc, urllib.error.HTTPError):
        return exc.code in _RETRYABLE_STATUS
    return isinstance(
        exc,
        (
            urllib.error.URLError,  # conn refused/reset; wraps socket.timeout too
            socket.timeout,
            TimeoutError,
            ConnectionError,
            http.client.IncompleteRead,
            http.client.RemoteDisconnected,
            _json.JSONDecodeError,  # short-read: 200 with a truncated body
        ),
    )


#: upper bound on a server-sent Retry-After we will actually honor: the
#: header is server-controlled input, and an endpoint replying
#: "Retry-After: 86400" must not stall an executor slot for a day — past
#: the cap the ladder's own budget (raise after transport_retries) is the
#: policy.
_RETRY_AFTER_CAP = 60.0


def _retry_after_seconds(exc: BaseException) -> float | None:
    """Parse an HTTP ``Retry-After`` from a failed send(), if present: real
    429s carry it (delta-seconds or HTTP-date form) on the urllib
    ``HTTPError.headers``."""
    headers = getattr(exc, "headers", None)
    if headers is None:
        return None
    try:
        val = headers.get("Retry-After") or headers.get("retry-after")
    except Exception:
        return None
    if not val:
        return None
    val = str(val).strip()
    try:
        return max(0.0, float(val))
    except ValueError:
        pass
    try:  # HTTP-date form, e.g. "Wed, 21 Oct 2026 07:28:00 GMT"
        import time as _time
        from email.utils import parsedate_to_datetime

        return max(0.0, parsedate_to_datetime(val).timestamp() - _time.time())
    except Exception:
        return None


@dataclass(frozen=True)
class OpenAiLlm(AsyncKernelLlm):
    """Async OpenAI-compatible client kernel.

    Parameters mirror the reference client (``llm_cli.py:31-62``): base_url,
    the API key from the environment variable ``api_key_env``, seed,
    temperature, top_p, max_tokens; plus kernel knobs (retry budget, and
    ``max_concurrency``: the in-flight bound per instruction per Arrow
    batch — a pipeline stage runs as one kernel per client, so a stage of k
    instructions peaks at k x ``max_concurrency``).

    Transport: the chat-completions wire format POSTed with stdlib
    ``urllib`` to ``base_url + "/chat/completions"`` (``base_url=None``
    means ``https://api.openai.com/v1``; no SDK is used and
    ``OPENAI_BASE_URL`` is not read). POSTs run on the event loop's default
    executor, concurrency is bounded by the kernel semaphore, and the
    threads are drained per batch — so any OpenAI-compatible HTTP endpoint
    works with no extra package.

    Fault model (two nested retry ladders, measured under injected chaos in
    BENCH_KERNEL.md):

    - **Transport** (:func:`_transient`): 429/5xx/408, timeouts, connection
      drops, and short reads retry up to ``transport_retries`` times with
      exponential backoff (``backoff_base * 2**attempt`` seconds, awaited on
      the event loop so the semaphore slot is held but the executor thread
      is free). Deliberately NO random jitter: retries are reproducible in
      tests, and at cluster scale the per-row start times are already
      decorrelated by the semaphore admission order, which is what jitter
      exists to do. A server-sent ``Retry-After`` header is honored as
      ``max(retry_after, backoff)`` capped at :data:`_RETRY_AFTER_CAP` —
      the server's pacing is a floor on the wait, never a shortcut below
      the ladder's own backoff. Hard 4xx raise immediately.
    - **Semantic** (the reference's ladder, ``llm_cli.py:123-135``):
      ``finish_reason == "length"`` re-asks up to ``length_retries`` times
      with temperature 1.0 + frequency_penalty.

    An exhausted transport budget RE-RAISES the last error — the Spark task
    fails loudly and Spark's own task-retry/job-abort policy takes over,
    rather than a silent NULL completion poisoning the cache table. This
    composes safely with the cache protocol: a retried row never appends
    twice (same task, one output row), and a retried TASK never half-commits
    (parquet's commit protocol discards uncommitted attempts) — pinned by
    ``test_live_http.py::test_chaos_cached_llm_no_duplicate_cache_rows``.
    """

    model: str = "gpt-4o-mini"
    base_url: str | None = None
    api_key_env: str = "OPENAI_API_KEY"
    temperature: float = 0.0
    top_p: float = 0.01
    seed: int = 2
    max_tokens: int = 4096
    max_concurrency: int = 16
    length_retries: int = 3
    #: transport fault budget: total attempts = transport_retries + 1.
    transport_retries: int = 4
    #: first backoff in seconds; attempt k sleeps backoff_base * 2**k.
    backoff_base: float = 0.25
    #: per-request socket timeout in seconds — a stalled endpoint
    #: surfaces as socket.timeout and enters the transport retry ladder.
    request_timeout: float = 120.0
    #: L12 constrained decoding: an OpenAI ``response_format`` envelope, e.g.
    #: ``{"type": "json_schema", "json_schema": {...}}`` (the reference
    #: declares exactly this shape, ``self_verification_mr.py:19-34``, and
    #: wires it — commented out for reasoning models — at
    #: ``llm_cli.py:119-121``). Serialized as JSON so the frozen dataclass
    #: stays hashable/picklable; pair with ``plans.structured.parse_structured``
    #: for the declared-schema parse stage.
    response_format_json: str | None = None

    def _make_completer(self):
        import asyncio
        import json as _json
        import urllib.request

        url = (self.base_url or "https://api.openai.com/v1").rstrip("/") + "/chat/completions"
        headers = {
            "Content-Type": "application/json",
            "Authorization": f"Bearer {os.environ.get(self.api_key_env, 'EMPTY')}",
        }
        timeout = self.request_timeout
        model = self.model
        temperature = self.temperature
        top_p = self.top_p
        seed = self.seed
        max_tokens = self.max_tokens
        length_retries = self.length_retries
        transport_retries = self.transport_retries
        backoff_base = self.backoff_base
        response_format = (
            _json.loads(self.response_format_json) if self.response_format_json else None
        )

        def post(payload: dict) -> dict:
            req = urllib.request.Request(
                url, data=_json.dumps(payload).encode("utf-8"), headers=headers
            )
            with urllib.request.urlopen(req, timeout=timeout) as r:
                return _json.loads(r.read().decode("utf-8"))

        async def send(payload: dict):
            for attempt in range(transport_retries + 1):
                try:
                    data = await asyncio.get_running_loop().run_in_executor(None, post, payload)
                    choice = data["choices"][0]
                    return choice.get("finish_reason"), (choice.get("message") or {}).get("content")
                except Exception as exc:
                    if attempt >= transport_retries or not _transient(exc):
                        raise
                    # Await on the LOOP: the semaphore slot stays held (no
                    # thundering re-admission) but the executor thread is
                    # returned, so other rows keep flowing during backoff.
                    # A server-sent Retry-After (real 429s carry one) can
                    # only LENGTHEN the wait, capped so a hostile header
                    # can't stall the slot indefinitely.
                    delay = backoff_base * 2**attempt
                    ra = _retry_after_seconds(exc)
                    if ra is not None:
                        delay = max(delay, min(ra, _RETRY_AFTER_CAP))
                    await asyncio.sleep(delay)
            raise AssertionError("unreachable")  # pragma: no cover

        async def one(system: str | None, user: str) -> str | None:
            temp, freq = temperature, 0.0
            content = None
            # The system prompt is a separate properly-roled message — the
            # reference posts ``messages = prefix + [msg]`` (llm_cli.py:114);
            # flattening both into one user turn changes chat-tuned model
            # behavior (system-prompt adherence) and would make the lineage
            # ChatML a lie about the wire format.
            prefix = [] if system is None else [{"role": "system", "content": system}]
            for _ in range(length_retries + 1):
                payload = {
                    "model": model,
                    "messages": prefix + [{"role": "user", "content": user}],
                    "temperature": temp,
                    "top_p": top_p,
                    "seed": seed,
                    "max_tokens": max_tokens,
                    "frequency_penalty": freq,
                }
                if response_format:
                    payload["response_format"] = response_format
                finish_reason, content = await send(payload)
                if finish_reason != "length":
                    return content
                # reference's escalation on truncation (llm_cli.py:123-135)
                temp, freq = 1.0, 0.2
            return content

        return one
