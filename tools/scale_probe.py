"""Scaling probe: run the bench queries at several scale factors and report
per-query scaling exponents — the empirical answer to "would this plan
survive a scale-up?".

For each bench query, times the noop-sink materialization at each sf and
fits alpha in time ~ data^alpha over the largest decade (sf0.01 -> sf0.1).
alpha <= ~1 is linear or better (fixed overhead amortizing); alpha ~ 2 means
a quadratic join/window sneaked in. Local caveats printed with the table:
constant JVM/scheduling overhead dominates small sfs, so exponents are only
meaningful from the largest step.

Usage: python tools/scale_probe.py [--queries a,b,c] [sf_dir ...]
       (default sf dirs: sf0.001 sf0.01 sf0.1; default queries: all bench)
`--queries` limits the probe to named registry queries — used with the
generated second decade (tools/gen_scale_decade.py -> .scale/sf1, which
carries only documents/embeddings) to probe the slowest families at
sf0.1 -> sf1 without needing the full star schema at sf1.
Output: markdown table on stdout.
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    import bench
    import __spark_entry__ as entrymod
    from instructionspipe_spark import get_spark, load_tables

    args = sys.argv[1:]
    only: list[str] | None = None
    if "--queries" in args:
        i = args.index("--queries")
        only = args[i + 1].split(",")
        del args[i : i + 2]
    sf_dirs = args or [
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    ]
    sfs = [float(d.rsplit("sf", 1)[1]) for d in sf_dirs]
    spark = get_spark(app_name="scale-probe")
    queries = entrymod.queries()

    # Warm everything once (JIT, codegen, parquet footers) so per-sf numbers
    # measure the plan, not the first-run warmup. Partial dirs (the
    # generated sf1 decade has only documents/embeddings) warm what exists.
    def warm(sf_dir: str) -> None:
        for t in ("lineitem", "documents"):
            try:
                load_tables(spark, sf_dir, [t])[t].count()
                return
            except Exception:
                continue

    warm(sf_dirs[0])

    probe_names = only if only is not None else list(bench.BENCH_QUERIES)
    times: dict[str, list[float]] = {}
    for sf_dir in sf_dirs:
        warm(sf_dir)
        for name in probe_names:
            fn = queries.get(name)
            if fn is None:
                continue
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            times.setdefault(name, []).append(time.time() - t0)
            print(f"# {name} @ {sf_dir}: {times[name][-1]:.2f}s", file=sys.stderr)

    data_ratio = sfs[-1] / sfs[-2]
    print(f"| query | " + " | ".join(f"sf{s}" for s in sfs) + " | alpha (last step) |")
    print("|---" * (len(sfs) + 2) + "|")
    for name, ts in times.items():
        ratio = ts[-1] / max(ts[-2], 1e-9)
        alpha = math.log(max(ratio, 1e-9)) / math.log(data_ratio)
        cells = " | ".join(f"{t:.2f}s" for t in ts)
        print(f"| {name} | {cells} | {alpha:.2f} |")
    print(
        "\nalpha = log(t_ratio)/log(data_ratio) over the last sf step; "
        "<=1 linear-or-better (overhead amortizing), ~2 quadratic."
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
