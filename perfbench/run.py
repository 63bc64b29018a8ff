"""Benchmark entry point: one workload, one run.

    python3 perfbench/run.py --workload mapreduce_ehr --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run builds its inputs from ``--seed``,
starts the LLM stub and a SparkSession, measures the workload for
``--seconds``, checks every output, and prints a short summary followed by
one JSON line: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` they
are the per-layer ones from a traced run. Full detail (per-operation
timings, spans, the layer breakdown, Spark stage ids) goes to
``.perfbench/<workload>-seed<seed>-trace<t>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

import harness
import tracing
import workloads

WORKLOADS = {
    "mapreduce_ehr": workloads.mapreduce_ehr,
    "dedup_corpus": workloads.dedup_corpus,
    "serve_record": workloads.serve_record,
}

END_TO_END_UNITS = {
    "setup_s": "s",
    "records_per_s": "records/s",
    "latency_p50_s": "s",
    "peak_rss_mb": "MB",
}

# Per-layer metric -> unit. Absent layers (no LLM calls in dedup_corpus, no
# server in the batch workloads) report 0.
PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "sources.read_jsonl_s": "s",
    "sources.write_jsonl_s": "s",
    "sources.sink_jobs": "count",
    "plans.load_pipeline_s": "s",
    "plans.run_pipeline_s": "s",
    "llm.requests": "count",
    "llm.requests_per_record": "count",
    "llm.distinct_prompts": "count",
    "llm.requests_per_distinct_prompt": "ratio",
    "llm.connections": "count",
    "llm.requests_per_connection": "ratio",
    "llm.peak_in_flight": "count",
    "llm.mean_in_flight": "count",
    "llm.busy_frac": "ratio",
    "llm.first_request_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "spark.task_max_over_median": "ratio",
    "spark.python_run_s": "s",
    "spark.python_start_s": "s",
    "spark.python_init_s": "s",
    "spark.python_bytes_sent": "bytes",
    "spark.python_bytes_received": "bytes",
    "dedup.build_s": "s",
    "dedup.docs_in": "count",
    "dedup.docs_kept": "count",
    "dedup.false_drops": "count",
    "dedup.recall": "ratio",
    "dedup.shuffle_bytes_per_doc": "bytes",
    "serving.run_record_s": "s",
    "serving.http_overhead_s": "s",
    "serving.jobs_per_request": "count",
    "self.sources_s": "s",
    "self.plans_s": "s",
    "self.dedup_s": "s",
    "self.serving_s": "s",
    "trace.uncovered_s": "s",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
    "trace.overhead_frac": "ratio",
}

# Public functions wrapped in the traced run: (module, attribute, layer).
TRACED = (
    ("instructionspipe_spark.plans.runner", "read_jsonl", "sources"),
    ("instructionspipe_spark.plans.runner", "write_jsonl", "sources"),
    ("instructionspipe_spark.plans.runner", "load_pipeline", "plans"),
    ("instructionspipe_spark.plans.runner", "run_pipeline", "plans"),
    ("instructionspipe_spark.serving", "run_pipeline", "plans"),
    ("instructionspipe_spark.operators.dedup", "minhash_lsh_dedup", "dedup"),
)


def _fmt(v: float) -> str:
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def run(args) -> dict:
    t_run = time.perf_counter()
    harness.check_program()
    work = harness.fresh_dir(os.path.join(harness.OUT_DIR, f"work-{os.getpid()}"))
    stub = spark = None
    try:
        harness.prepare_env(work)
        os.chdir(work)
        t0 = time.perf_counter()
        stub = harness.StubProcess(workloads.STUB_LATENCY_MS)
        stub_s = time.perf_counter() - t0
        with harness.RssSampler(exclude={stub.proc.pid}) as rss:
            ctx = workloads.Ctx(None, stub, work, args.seed, args.seconds, None, rss)
            with ctx.phase("setup"):
                spark, setup = harness.start_spark(work)
            setup["setup_s"] = stub_s + setup["get_spark_s"] + setup["first_action_s"]
            ctx.spark = spark
            tracer = None
            if args.trace:
                tracer = tracing.Tracer(sc=spark.sparkContext)
                for module, attr, layer in TRACED:
                    tracer.wrap(module, attr, layer)
                tracer.wrap(
                    "instructionspipe_spark.serving", "PipelineService.run_record", "serving",
                    keyed=lambda _self, record: workloads._record_key(record),
                )
            ctx.tracer = tracer
            try:
                res = WORKLOADS[args.workload](ctx)
            finally:
                if tracer is not None:
                    tracer.unwrap()
        # Peak memory of a fresh process running the operation once: set-up
        # plus the warm-up operation. Later operations only add JVM heap that
        # the collector has not yet returned, which varies run to run.
        first_op_peak = max(ctx.detail["phases"][p]["peak_rss_mb"] for p in ("setup", "warmup"))
        metrics = dict(res.metrics, setup_s=setup["setup_s"], peak_rss_mb=first_op_peak)
        per_layer = {k: 0.0 for k in PER_LAYER_UNITS}
        per_layer.update(res.per_layer)
        per_layer["session.get_spark_s"] = setup["get_spark_s"]
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "cores": harness.cores(),
            "setup": setup,
            "metrics": metrics,
            "per_layer": per_layer if args.trace else {},
            "info": res.info,
            "attempted": res.attempted,
            "failed": res.failed,
            **ctx.detail,
        }
        detail["run_s"] = time.perf_counter() - t_run
        if tracer is not None:
            detail["spans"] = [s.__dict__ for s in tracer.spans]
        return detail
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        if stub is not None:
            stub.close()
        os.chdir(harness.ROOT)
        shutil.rmtree(work, ignore_errors=True)


def _terminate(signum, frame):
    # Unwind through run()'s cleanup so the JVM and the stub are stopped.
    sys.exit(128 + signum)


def main(argv=None) -> int:
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description="instructionspipe-spark end-to-end benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        detail = run(args)
    except harness.MissingProgram as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    except Exception:
        traceback.print_exc()
        return 1

    os.makedirs(harness.OUT_DIR, exist_ok=True)
    path = os.path.join(
        harness.OUT_DIR, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(path, "w") as f:
        json.dump(detail, f, indent=1, default=str)

    if args.trace:
        units, values = PER_LAYER_UNITS, detail["per_layer"]
    else:
        units, values = END_TO_END_UNITS, detail["metrics"]
    info = detail["info"]
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"attempted={detail['attempted']} failed={detail['failed']} "
          f"error_rate={_fmt(detail['failed'] / detail['attempted'])}")
    print("  " + " | ".join(f"{k} {_fmt(detail['metrics'][k])} {u}" for k, u in END_TO_END_UNITS.items()))
    print("  " + " ".join(f"{k}={_fmt(v)}" for k, v in info.items() if not isinstance(v, (list, dict))))
    for k, v in info.items():
        if isinstance(v, (list, dict)) and v:
            print(f"  {k}={json.dumps(v)[:200]}")
    print(f"  run_s={detail['run_s']:.1f} " + " ".join(
        f"{k}=[{p['s']:.1f}s steal={p['steal_frac']:.3f} rss={p['peak_rss_mb']:.0f}MB]"
        for k, p in detail["phases"].items()
    ))
    print(f"  detail: {os.path.relpath(path, harness.ROOT)}")
    result = {
        "correct": detail["failed"] == 0,
        "attempted": detail["attempted"],
        "failed": detail["failed"],
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
