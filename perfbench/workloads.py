"""The three workloads. Each drives the package through its public entry
points, unmodified, checks every output, and returns its measurements.

- ``mapreduce_ehr``: ``plans.runner.run_config`` over a reference-shaped
  config (3 map instructions + 1 reduce) with the config's real
  ``OpenAiLlm`` calling the stub.
- ``dedup_corpus``: ``plans.runner.run_etl_dedup_config`` (length filter,
  then MinHash-LSH) over a corpus with planted near-duplicate clusters.
- ``serve_record``: the same pipeline and stub behind
  ``serving.serve_background``; a closed loop of 2 clients POSTs one record
  at a time to ``/pipeline/run``.

One *operation* is one runner call (batch workloads) or one POST (serving).
In a traced run, operations alternate untraced and traced; per-layer
metrics come from the traced ones, and the difference between the two
halves is the tracing overhead.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil
import threading
import time
import urllib.error
import urllib.request
from dataclasses import dataclass, field

import gen
import tracing as tr
from harness import cpu_times, fresh_dir, median, tail_percentile
from stub import answer

# -- sizes (recorded with every result) ------------------------------------

STUB_LATENCY_MS = 200.0
MR_RECORDS = 16
MR_DUP_SHARE = 0.25
DEDUP_DOCS = 4000
DEDUP_DUP_SHARE = 0.2
DEDUP_SHORT_SHARE = 0.05
SERVE_CLIENTS = 2
# Requests per serving run at least (a 5 s window completes about 3; more
# samples steady the median).
SERVE_MIN_REQUESTS = 8
SERVE_RECORD_POOL = 4096
# Operations per run at least; a traced run alternates untraced and traced
# ones, so it times at least one of each.
MIN_OPS = 2

PIPE = [
    [
        {
            "name": "encounter_summary",
            "scope": ["encounters", "notes"],
            "role": "clinical summarizer",
            "content": "Summarize the patient's encounters.",
            "output_fmt": "markdown",
        },
        {
            "name": "lab_trends",
            "scope": ["labs"],
            "role": "clinical summarizer",
            "content": "Describe the trends in the lab results.",
            "output_fmt": "markdown",
        },
        {
            "name": "medication_history",
            "scope": ["medications", "notes"],
            "role": "clinical summarizer",
            "content": "Summarize the medication history.",
            "output_fmt": "markdown",
        },
    ],
    [
        {
            "name": "summary",
            "scope": ["encounter_summary", "lab_trends", "medication_history"],
            "role": "attending physician",
            "content": "Write a discharge summary from the section summaries.",
            "output_fmt": "markdown",
        }
    ],
]
INSTRUCTIONS = [i["name"] for stage in PIPE for i in stage]

DEDUP_CONFIG = {
    "target_text_cols": ["text"],
    "n_gram": 7,
    "minhash_permutation_num": 128,
    "lsh_threshold": 0.5,
    "most_dup": 0,
    "low_length_filter": {"text": 100},
}


@dataclass
class Ctx:
    spark: object
    stub: object
    work: str
    seed: int
    seconds: float
    tracer: tr.Tracer | None
    rss: object  # harness.RssSampler
    detail: dict = field(default_factory=dict)

    @contextlib.contextmanager
    def phase(self, name: str):
        """Record one phase of the run: its wall time, the share of CPU time
        the host took from this machine (steal), and its peak RSS."""
        t0, c0 = time.perf_counter(), cpu_times()
        self.rss.take_peak()
        try:
            yield
        finally:
            c1 = cpu_times()
            ticks = sum(c1) - sum(c0)
            self.detail.setdefault("phases", {})[name] = {
                "s": time.perf_counter() - t0,
                "steal_frac": (c1[7] - c0[7]) / ticks if ticks > 0 and len(c1) > 7 else 0.0,
                "peak_rss_mb": self.rss.take_peak(),
            }


@dataclass
class Result:
    metrics: dict  # end-to-end name -> value
    per_layer: dict  # per-layer name -> value (traced run only)
    attempted: int
    failed: int
    info: dict  # printed beside the metrics and kept in the detail file


def _read_parts(path: str) -> list[dict]:
    rows = []
    for fn in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(fn) as f:
            rows.extend(json.loads(line) for line in f if line.strip())
    return rows


def _write_json(path: str, obj) -> str:
    with open(path, "w") as f:
        json.dump(obj, f)
    return path


def mapreduce_config(work: str, in_path: str, stub_api: str) -> str:
    """A reference-shaped run config (demo_configs/mapreduce_summ/ehr.json
    layout plus the CLI's in/out/chatml paths and ``llms``)."""
    return _write_json(
        os.path.join(work, "run.json"),
        {
            "in_data_path": in_path,
            "out_data_path": os.path.join(work, "out.jsonl"),
            "chatml_path": os.path.join(work, "chatml.jsonl"),
            "llms": [
                {
                    "api_type": "openai",
                    "api_url": stub_api,
                    "api_key": "null",
                    "model": "stub-model",
                    "temperature": 0.0,
                    "top_p": 0.01,
                    "seed": 2,
                }
            ],
            "pipe": PIPE,
        },
    )


def _run_op(ctx: Ctx, k: int, traced: bool, name: str, fn) -> float:
    """Time one operation; open its root span when traced."""
    t0 = time.perf_counter()
    if traced:
        with ctx.tracer.span(name, "runner", run_id=k + 1):
            fn()
    else:
        fn()
    return time.perf_counter() - t0


def _batch_loop(ctx: Ctx, op, after) -> list[dict]:
    """Run ``op(k, traced)`` until ``ctx.seconds`` have passed (at least
    ``MIN_OPS`` times); ``after(k, op_record)`` runs untimed after each."""
    ops: list[dict] = []
    deadline = time.perf_counter() + ctx.seconds
    k = 0
    while k < MIN_OPS or time.perf_counter() < deadline:
        traced = ctx.tracer is not None and k % 2 == 1
        rec = {"k": k, "run_id": k + 1, "traced": traced, "wall_s": op(k, traced)}
        after(k, rec)
        ops.append(rec)
        k += 1
    return ops


def _latency_split(ops: list[dict]) -> tuple[list[float], list[float]]:
    """Wall times of the untraced and the traced operations."""
    plain = [o["wall_s"] for o in ops if not o["traced"]]
    traced = [o["wall_s"] for o in ops if o["traced"]]
    return plain, traced


# -- mapreduce_ehr -----------------------------------------------------------


def check_mapreduce(out_dir: str, n: int) -> tuple[int, list[str]]:
    """Failed records and reasons: all three sinks hold the expected row
    counts, and every chatml completion is the stub's answer for its user
    message."""
    out = _read_parts(os.path.join(out_dir, "out.jsonl"))
    chat = _read_parts(os.path.join(out_dir, "chatml.jsonl"))
    meta = _read_parts(os.path.join(out_dir, "chatml.jsonl.meta.jsonl"))
    problems = []
    if len(out) != n:
        problems.append(f"out sink has {len(out)} rows, expected {n}")
    if len(meta) != n:
        problems.append(f"meta sink has {len(meta)} rows, expected {n}")
    if len(chat) != n * len(INSTRUCTIONS):
        problems.append(f"chatml sink has {len(chat)} rows, expected {n * len(INSTRUCTIONS)}")
    if problems:
        return n, problems
    bad_sessions = set()
    seen: dict[str, set] = {}
    for row in chat:
        msgs = {m["role"]: m.get("content") for m in row["chatml"]}
        user, got = msgs.get("user"), msgs.get("assistant")
        if not user or got != answer(user):
            bad_sessions.add(row["session_id"])
        seen.setdefault(row["session_id"], set()).add(row["name"])
    for r in out:
        sid = r.get("session_id")
        if seen.get(sid) != set(INSTRUCTIONS) or not r.get("result"):
            bad_sessions.add(sid)
    # Duplicate records share a session only if every column matches;
    # ids differ, so each record has its own session.
    failed = sum(1 for r in out if r.get("session_id") in bad_sessions)
    if failed:
        problems.append(f"{failed} records with a wrong or missing completion")
    return failed, problems


def mapreduce_ehr(ctx: Ctx) -> Result:
    from instructionspipe_spark.plans import runner

    in_path = os.path.join(ctx.work, "ehr.jsonl")
    gen.write_jsonl(gen.ehr_records(ctx.seed, MR_RECORDS, MR_DUP_SHARE), in_path)
    # Warm-up: one untimed operation on the same input, so Python workers,
    # JIT and caches are in their steady state before timing. The stub's
    # latency does not matter for it. Settle: one more untimed operation at
    # the measured latency; the first one at that latency ran 10-15% slower
    # than those after it.
    ctx.stub.reset(latency_ms=0)
    with ctx.phase("warmup"):
        warm = fresh_dir(os.path.join(ctx.work, "mr_warm"))
        runner.run_config(ctx.spark, mapreduce_config(warm, in_path, ctx.stub.api_url))
    ctx.stub.reset(latency_ms=STUB_LATENCY_MS)
    with ctx.phase("settle"):
        warm = fresh_dir(os.path.join(ctx.work, "mr_settle"))
        runner.run_config(ctx.spark, mapreduce_config(warm, in_path, ctx.stub.api_url))

    state = {"attempted": 0, "failed": 0, "problems": []}
    dirs: dict[int, str] = {}

    def op(k: int, traced: bool) -> float:
        d = dirs[k] = fresh_dir(os.path.join(ctx.work, f"mr_{k}"))
        cfg = mapreduce_config(d, in_path, ctx.stub.api_url)
        ctx.stub.reset(latency_ms=STUB_LATENCY_MS)
        return _run_op(ctx, k, traced, "runner.run_config",
                       lambda: runner.run_config(ctx.spark, cfg))

    def after(k: int, rec: dict) -> None:
        rec["stub"] = ctx.stub.stats()
        failed, problems = check_mapreduce(dirs[k], MR_RECORDS)
        state["attempted"] += MR_RECORDS
        state["failed"] += failed
        state["problems"] += problems
        shutil.rmtree(dirs.pop(k), ignore_errors=True)

    with ctx.phase("measure"):
        ops = _batch_loop(ctx, op, after)
    plain, traced = _latency_split(ops)
    req_per_rec = [o["stub"]["requests"] / MR_RECORDS for o in ops]
    info = {
        "records": MR_RECORDS,
        "dup_share": MR_DUP_SHARE,
        "instructions": len(INSTRUCTIONS),
        "stub_latency_ms": STUB_LATENCY_MS,
        "ops": len(ops),
        "llm_requests_per_record": median(req_per_rec),
        "llm_requests_per_record_all": sorted(set(req_per_rec)),
        "problems": state["problems"][:5],
    }
    metrics = {
        "records_per_s": MR_RECORDS / median(plain),
        "latency_p50_s": median(plain),
    }
    per_layer = {}
    if ctx.tracer is not None:
        per_layer = layer_metrics(ctx, [o for o in ops if o["traced"]], MR_RECORDS)
        per_layer.update(overhead(plain, traced))
    ctx.detail["ops"] = ops
    return Result(metrics, per_layer, state["attempted"], state["failed"], info)


# -- dedup_corpus ------------------------------------------------------------


def check_dedup(kept: list[str], truth: dict) -> dict:
    """Planted-cluster outcome of one dedup run."""
    kept_set = set(kept)
    planted = sum(len(c) - 1 for c in truth["clusters"])
    removed = sum(len(c) - len(kept_set.intersection(c)) for c in truth["clusters"])
    lost = [c for c in truth["clusters"] if not kept_set.intersection(c)]
    return {
        "recall": removed / planted if planted else 1.0,
        "lost_clusters": len(lost),
        "lost_docs": sum(len(c) for c in lost),
        "false_drops": sum(1 for d in truth["singles"] if d not in kept_set),
        "short_kept": sum(1 for d in truth["short"] if d in kept_set),
        "duplicate_rows": len(kept) - len(kept_set),
        "kept": len(kept),
    }


def dedup_corpus(ctx: Ctx) -> Result:
    from instructionspipe_spark.plans import runner

    docs, truth = gen.corpus(ctx.seed, DEDUP_DOCS, DEDUP_DUP_SHARE, DEDUP_SHORT_SHARE)
    in_path = os.path.join(ctx.work, "corpus.jsonl")
    gen.write_jsonl(docs, in_path)

    def config(path_in: str, out: str) -> str:
        return _write_json(
            out + ".json", dict(DEDUP_CONFIG, in_data_path=path_in, output_path=out)
        )

    # Warm-up: one untimed operation on the same corpus (a smaller one
    # leaves the first full-size operation about twice as slow). Settle: one
    # more; the first operation after the warm-up still ran 10-15% slower
    # than those after it, and now and then twice as slow.
    with ctx.phase("warmup"):
        runner.run_etl_dedup_config(ctx.spark, config(in_path, os.path.join(ctx.work, "dd_warm")))
    with ctx.phase("settle"):
        runner.run_etl_dedup_config(ctx.spark, config(in_path, os.path.join(ctx.work, "dd_settle")))

    state = {"attempted": 0, "failed": 0}

    def op(k: int, traced: bool) -> float:
        cfg = config(in_path, os.path.join(ctx.work, f"dd_{k}"))
        ctx.stub.reset(latency_ms=STUB_LATENCY_MS)
        return _run_op(ctx, k, traced, "runner.run_etl_dedup_config",
                       lambda: runner.run_etl_dedup_config(ctx.spark, cfg))

    def after(k: int, rec: dict) -> None:
        out = os.path.join(ctx.work, f"dd_{k}")
        rec["stub"] = ctx.stub.stats()
        rec["check"] = c = check_dedup([r["doc_id"] for r in _read_parts(out)], truth)
        state["attempted"] += len(docs)
        state["failed"] += c["lost_docs"] + c["false_drops"] + c["short_kept"] + c["duplicate_rows"]
        shutil.rmtree(out, ignore_errors=True)

    with ctx.phase("measure"):
        ops = _batch_loop(ctx, op, after)
    plain, traced = _latency_split(ops)
    info = {
        "docs": len(docs),
        "planted_clusters": len(truth["clusters"]),
        "planted_duplicates": sum(len(c) - 1 for c in truth["clusters"]),
        "dup_share": DEDUP_DUP_SHARE,
        "short_share": DEDUP_SHORT_SHARE,
        "ops": len(ops),
        "near_dup_recall": median([o["check"]["recall"] for o in ops]),
        "false_drops": max(o["check"]["false_drops"] for o in ops),
        "llm_requests": sum(o["stub"]["requests"] for o in ops),
    }
    metrics = {
        "records_per_s": len(docs) / median(plain),
        "latency_p50_s": median(plain),
    }
    per_layer = {}
    if ctx.tracer is not None:
        t_ops = [o for o in ops if o["traced"]]
        per_layer = layer_metrics(ctx, t_ops, len(docs))
        per_layer.update(overhead(plain, traced))
        per_layer["dedup.docs_in"] = len(docs)
        per_layer["dedup.docs_kept"] = median([o["check"]["kept"] for o in t_ops])
        per_layer["dedup.false_drops"] = max(o["check"]["false_drops"] for o in t_ops)
        per_layer["dedup.recall"] = median([o["check"]["recall"] for o in t_ops])
        per_layer["dedup.shuffle_bytes_per_doc"] = per_layer["spark.shuffle_write_bytes"] / len(docs)
    ctx.detail["ops"] = ops
    return Result(metrics, per_layer, state["attempted"], state["failed"], info)


# -- serve_record ------------------------------------------------------------


def _record_key(record: dict) -> str:
    return json.dumps(record, sort_keys=True)


def _post(url: str, record: dict) -> tuple[int, dict | None]:
    req = urllib.request.Request(
        url + "/pipeline/run",
        data=json.dumps(record).encode("utf-8"),
        headers={"Content-Type": "application/json"},
    )
    try:
        with urllib.request.urlopen(req, timeout=120) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, None


def _closed_loop(ctx: Ctx, url: str, records: list[dict], seconds: float,
                 min_requests: int, trace: bool) -> tuple[list[dict], float]:
    """SERVE_CLIENTS clients, each POSTing the next record as soon as its
    previous reply arrives, until ``seconds`` have passed and at least
    ``min_requests`` were sent. Returns the requests and the start time."""
    lock = threading.Lock()
    next_index = [0]
    ops: list[dict] = []
    t_start = time.perf_counter()
    deadline = t_start + seconds

    def client() -> None:
        while True:
            with lock:
                k = next_index[0]
                if k >= min_requests and time.perf_counter() >= deadline:
                    return
                next_index[0] += 1
            record = records[k % len(records)]
            traced = trace and k % 2 == 1
            t0 = time.perf_counter()
            if traced:
                with ctx.tracer.span("client.post", "client", run_id=k + 1) as root:
                    ctx.tracer.expect(_record_key(record), root)
                    status, body = _post(url, record)
            else:
                status, body = _post(url, record)
            t1 = time.perf_counter()
            with lock:
                ops.append({"k": k, "run_id": k + 1, "traced": traced, "wall_s": t1 - t0,
                            "end": t1, "client": threading.current_thread().name,
                            "status": status, "body": body, "record": record})

    threads = [threading.Thread(target=client, name=f"client-{i}") for i in range(SERVE_CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return ops, t_start


def serve_record(ctx: Ctx) -> Result:
    from pyspark.sql import types as T

    from instructionspipe_spark import serving
    from instructionspipe_spark.plans.instructions import load_pipeline
    from instructionspipe_spark.plans.runner import llms_from_config

    cfg_path = mapreduce_config(ctx.work, os.path.join(ctx.work, "unused.jsonl"), ctx.stub.api_url)
    with open(cfg_path) as f:
        cfg = json.load(f)
    pipeline = load_pipeline(cfg_path)
    llm = llms_from_config(cfg["llms"])
    service = serving.PipelineService(ctx.spark, pipeline, llm)
    server, url = serving.serve_background(service)
    pool = gen.ehr_records(ctx.seed, SERVE_RECORD_POOL, MR_DUP_SHARE)
    try:
        # Warm-up: one request per client at stub latency 0. Settle: one
        # more per client at the measured latency; the second of the first
        # two requests at that latency ran about 40% slower than the rest.
        warm = gen.ehr_records(ctx.seed + 7919, 2 * SERVE_CLIENTS, 0.0)
        ctx.stub.reset(latency_ms=0)
        with ctx.phase("warmup"):
            _closed_loop(ctx, url, warm[:SERVE_CLIENTS], 0.0, SERVE_CLIENTS, trace=False)
        ctx.stub.reset(latency_ms=STUB_LATENCY_MS)
        with ctx.phase("settle"):
            _closed_loop(ctx, url, warm[SERVE_CLIENTS:], 0.0, SERVE_CLIENTS, trace=False)
        ctx.stub.reset(latency_ms=STUB_LATENCY_MS)  # zero the settle round's counters
        with ctx.phase("measure"):
            ops, t_start = _closed_loop(
                ctx, url, pool, ctx.seconds, SERVE_MIN_REQUESTS, ctx.tracer is not None
            )
        stub_stats = ctx.stub.stats()
        ctx.stub.reset(latency_ms=0)
    finally:
        server.shutdown()
        server.server_close()

    # Completed rate: each client's requests over that client's busy time.
    busy: dict[str, float] = {}
    for o in ops:
        busy[o["client"]] = max(busy.get(o["client"], 0.0), o["end"] - t_start)
    rate = len(ops) / (sum(busy.values()) / len(busy))

    # Batch twin of every served record: the serving path must equal it, and
    # the twin's lineage must hold the stub's answer for every instruction.
    served = [o["record"] for o in ops]
    fields = sorted(served[0])
    schema = T.StructType(
        [T.StructField(f, T.LongType() if f == "id" else T.StringType()) for f in fields]
    )
    uniq = {_record_key(r): r for r in served}
    df = ctx.spark.createDataFrame([tuple(r[f] for f in fields) for r in uniq.values()], schema)
    batch: dict[str, dict | None] = {}
    with ctx.phase("check"):
        for row in serving.run_pipeline(df, pipeline, llm, lineage=True).collect():
            d = row.asDict(recursive=True)
            lineage = [d.pop(f"{n}__msgs") for n in INSTRUCTIONS]
            answered = all(
                m[2]["content"] is not None and m[2]["content"] == answer(m[1]["content"])
                for m in lineage
            )
            batch[_record_key({f: d[f] for f in fields})] = d if answered else None
    failed = 0
    for o in ops:
        want = batch.get(_record_key(o["record"]))
        o["ok"] = o["status"] == 200 and want is not None and o["body"] == want
        failed += not o["ok"]

    plain, traced = _latency_split(ops)
    tail = tail_percentile(plain)
    info = {
        "clients": SERVE_CLIENTS,
        "loop": "closed",
        "dup_share": MR_DUP_SHARE,
        "stub_latency_ms": STUB_LATENCY_MS,
        "requests": len(ops),
        "requests_per_s": rate,
        "latency_samples": len(plain),
        "latency_tail": (
            {"percentile": tail[0], "value_s": tail[1], "samples": tail[2]}
            if tail else f"needs 11 samples, have {len(plain)}"
        ),
        "llm_requests_per_record": stub_stats["requests"] / len(ops),
    }
    metrics = {
        "records_per_s": rate,
        "latency_p50_s": median(plain),
    }
    per_layer = {}
    if ctx.tracer is not None:
        t_ops = [o for o in ops if o["traced"]]
        per_layer = layer_metrics(ctx, t_ops, 1, stub_stats=[stub_stats], n_stub_ops=len(ops))
        per_layer.update(overhead(plain, traced))
        server_s = _span_durations(ctx.tracer, "serving.PipelineService.run_record")
        per_layer["serving.run_record_s"] = median(list(server_s.values()))
        per_layer["serving.http_overhead_s"] = median(
            [o["wall_s"] - server_s[o["run_id"]] for o in t_ops if o["run_id"] in server_s]
        )
        per_layer["serving.jobs_per_request"] = per_layer["spark.jobs"]
    ctx.detail["ops"] = [{k: v for k, v in o.items() if k not in ("body", "record")} for o in ops]
    return Result(metrics, per_layer, len(ops), failed, info)


# -- per-layer metrics from the trace -----------------------------------------


def _span_durations(tracer: tr.Tracer, *names: str) -> dict[int, float]:
    """Summed duration of spans with one of ``names``, per operation (run id)."""
    out: dict[int, float] = {}
    for s in tracer.spans:
        if s.name in names:
            out[s.run_id] = out.get(s.run_id, 0.0) + (s.end - s.start)
    return out


def overhead(plain: list[float], traced: list[float]) -> dict:
    p, t = median(plain), median(traced)
    return {"trace.overhead_s": t - p, "trace.overhead_frac": (t - p) / p if p else 0.0}


def layer_metrics(ctx: Ctx, t_ops: list[dict], records_per_op: int,
                  stub_stats: list[dict] | None = None, n_stub_ops: int | None = None) -> dict:
    """Per-layer metrics of the traced operations, per operation."""
    tracer = ctx.tracer
    n = len(t_ops)
    runs = {o["run_id"] for o in t_ops}
    spans = [s for s in tracer.spans if s.run_id in runs]
    out: dict[str, float] = {}

    bd = tr.breakdown(spans)
    for layer in ("sources", "plans", "dedup", "serving"):
        out[f"self.{layer}_s"] = bd["layers_s"].get(layer, 0.0) / n
    out["trace.uncovered_s"] = bd["uncovered_s"] / n
    out["trace.wall_s"] = bd["wall_s"] / n
    ctx.detail["breakdown"] = bd

    def per_op(*names: str) -> float:
        d = _span_durations(tracer, *names)
        return median([d.get(r, 0.0) for r in runs])

    out["sources.read_jsonl_s"] = per_op("runner.read_jsonl")
    out["sources.write_jsonl_s"] = per_op("runner.write_jsonl")
    out["plans.load_pipeline_s"] = per_op("runner.load_pipeline")
    out["plans.run_pipeline_s"] = per_op("runner.run_pipeline", "serving.run_pipeline")
    out["dedup.build_s"] = per_op("dedup.minhash_lsh_dedup")

    # Stub counters: per operation for batch ops; over the window for serving.
    stats = stub_stats if stub_stats is not None else [o["stub"] for o in t_ops]
    ops_counted = n_stub_ops if n_stub_ops is not None else n
    req = sum(s["requests"] for s in stats)
    distinct = sum(s["distinct_prompts"] for s in stats)
    conns = sum(s["connections"] for s in stats)
    window = sum(s["busy_window_s"] for s in stats)
    out["llm.requests"] = req / ops_counted
    out["llm.requests_per_record"] = req / ops_counted / records_per_op
    out["llm.distinct_prompts"] = distinct / ops_counted
    out["llm.requests_per_distinct_prompt"] = req / distinct if distinct else 0.0
    out["llm.connections"] = conns / ops_counted
    out["llm.requests_per_connection"] = req / conns if conns else 0.0
    out["llm.peak_in_flight"] = max((s["peak_in_flight"] for s in stats), default=0)
    out["llm.mean_in_flight"] = median([s["mean_in_flight"] for s in stats])
    out["llm.busy_frac"] = sum(s["busy_s"] for s in stats) / window if window else 0.0
    out["llm.first_request_s"] = median([s["first_request_s"] for s in stats])

    # Spark's own counters for the jobs the traced spans submitted.
    rest = tr.SparkRest(ctx.spark.sparkContext)
    rest.settle()
    found = rest.collect({s.id for s in spans})
    totals = tr.spark_totals(found)
    for key, value in totals.items():
        out[f"spark.{key}"] = value / n
    write_spans = {s.id for s in spans if s.name == "runner.write_jsonl"}
    out["sources.sink_jobs"] = sum(1 for j in found["jobs"] if j["span"] in write_spans) / n
    heaviest = max(found["stages"], key=lambda s: s["executorRunTime"], default=None)
    out["spark.task_max_over_median"] = rest.task_max_over_median(heaviest) if heaviest else 0.0
    ctx.detail["spark"] = {
        "jobs": [{k: j[k] for k in ("jobId", "span", "numTasks", "status")} for j in found["jobs"]],
        "stages": [
            {k: s[k] for k in ("stageId", "span", "numTasks", "executorRunTime", "executorCpuTime")}
            for s in found["stages"]
        ],
    }
    return out
