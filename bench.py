"""Benchmark harness: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line under 1 KB: {"metric": ..., "value": total_sec, "unit": "sec",
"sf": ..., "n_queries": ..., "slowest": {name: sec} (top 5), "fresh":
{name: sec}}. Every query's median goes to BENCH_SUMMARY.json.

Each query is materialized via the noop sink (`format("noop")`), which
forces evaluation of EVERY output column — `df.count()` would let Catalyst
prune pure-projection queries down to the bare scan and time nothing (the
simhash/token-stats expression columns vanish under a count). A throwaway
warmup action runs first so per-query numbers exclude JVM/codegen warmup.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# The headline set: relational core, window/join surface, dedup family,
# similarity search, text analysis, and the flagship instruction pipeline.
BENCH_QUERIES = [
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_nation_revenue",
    "q4_priority_exists",
    "q6_forecast_revenue",
    "q7_nation_trade",
    "q8_market_share",
    "q10_returned_revenue",
    "q13_customer_distribution",
    "q14_promo_ratio",
    "q15_top_supplier",
    "q17_small_quantity_revenue",
    "q18_large_orders",
    "q19_disjunctive_revenue",
    "q22_dormant_customers",
    "agg_rollup",
    "salted_aggregate",
    "pivot_event_matrix",
    "percentile_order_value",
    "variant_json_extract",
    "join_dims_broadcast",
    "window_rank_orders",
    "exact_dedup_first",
    "minhash_lsh_dedup",
    "simhash_fingerprints",
    "simhash_near_dedup",
    "jaccard_pairs_lsh",
    "similarity_lsh_topk",
    "similarity_lsh_multiprobe",
    "embedding_near_dup",
    "similarity_brute_topk",
    "token_quality_stats",
    "language_quality",
    "sequence_packing",
    "weighted_corpus_sample",
    "corpus_prep_pipeline",
    "asof_join_purchases",
    "tumbling_window_agg",
    "session_windows",
    "sliding_windows",
    "instructions_mapreduce",
    "self_verification",
    # round 4 additions
    "length_quantile_filter_approx",
    "bpe_token_counts",
    "constrained_json_parse",
    "grpo_reward_advantage",
    "document_chunks",
    "tfidf_top_terms",
    "unigram_doc_logprob",
    "cross_corpus_near_dups",
    # round 5 additions
    "similarity_multitable_topk",
    "word_block_dedup",
    "lm_block_manifest",
    "lsh_bucket_stats",
    "frequent_ngrams",
    "lm_corpus_blocks",
    "char_entropy_quality",
    "incremental_batch_dedup",
    "similarity_pq_topk",
    "similarity_ivfadc_topk",
    "template_block_strip",
    # round 6 additions
    "quality_classifier",
    "perplexity_buckets",
    "semantic_dedup",
    # round 10 additions: the scale-safe production shapes
    "incremental_batch_dedup_capped",
    "cross_corpus_near_dups_capped",
    "semantic_dedup_two_level",
    # round 11 addition: hierarchical IVF coarse quantizer
    "similarity_ivf_two_level_topk",
    # round 8 additions
    "rag_context_pipeline",
    "token_budget_mixture",
    "span_dedup_stats",
    "span_dedup",
    "partitioned_scan_pruning",
    "heavy_hitter_tokens",
    # late round 8: the TPC-H completion sweep (22/22 query shapes)
    "q2_min_cost_supplier",
    "q9_product_type_profit",
    "q11_important_parts",
    "q12_late_priority_lines",
    "q16_supplier_counts",
    "q20_promotion_suppliers",
    "q21_waiting_suppliers",
    "similarity_ivfsq_topk",
    "dynamic_partition_pruning",
    "bm25_retrieval",
    "cdc_merge_apply",
    "scd2_event_intervals",
    "funnel_conversion",
    "retention_cohorts",
    "zorder_multidim_scan",
    "funnel_windowed",
    "user_value_outliers",
    "event_transitions",
    "funnel_latency",
    # near_dup_components is deliberately NOT benched: its driver-side
    # iterative loop runs actions at BUILD time, so a noop-sink timing of
    # the final frame would measure only the last join, not the algorithm.
    # streaming_tumbling_equiv / streaming_band_admission likewise: the
    # stream drains to the memory sink at BUILD time (run_stream_to_table),
    # so the noop sink would time only the sink-table scan.
    # r8: lsh_dedup_most_dup (label-propagation actions at build),
    # run_config_pipeline / run_judge_config_metrics (full sink writes at
    # build, the returned frame is a read-back) are excluded for the same
    # reason; their runtime is visible in the oracle-differential timings.
    # late-r8: bucketed_join_revenue excluded too (bucketed-table writes at
    # build); streaming_join_equiv drains in bench --streaming like the
    # other streaming twins. streaming_cdc_equiv is excluded from BOTH
    # lists: its foreachBatch snapshot writes run at build (the noop sink
    # would time a snapshot read-back), and the --streaming rows/s
    # denominator is a table rowcount while the CDC feed is ~0.24x orders —
    # its drain cost is visible in the oracle-differential timings.
]


def _median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def _iqr(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    if n < 4:
        return s[-1] - s[0]
    # Linear-interpolated quartiles (same convention as numpy default).
    def q(p: float) -> float:
        idx = p * (n - 1)
        lo = int(idx)
        hi = min(lo + 1, n - 1)
        return s[lo] + (idx - lo) * (s[hi] - s[lo])

    return q(0.75) - q(0.25)


def bench_skew() -> int:
    """Measure what the round-4 de-skew bought: time LSH near-dedup on a
    synthetic corpus at increasing boilerplate fractions, comparing the
    SHIPPED two-phase representative selection (groupBy partial-agg +
    join-back) against the pre-r4 window formulation
    (Window.partitionBy(band, hash) min — rebuilt here for measurement
    only). The window puts every row of the hot bucket on ONE task, so its
    cost grows with the skewed fraction while the two-phase path stays
    flat. Writes SKEW.md."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from instructionspipe_spark import get_spark
    from instructionspipe_spark.operators.dedup import (
        _banded_frame,
        minhash_signature,
    )
    from instructionspipe_spark.registry import release_persisted
    from instructionspipe_spark.session import ensure_parallelism

    spark = get_spark(app_name="instructionspipe-spark-skew")
    n = int(os.environ.get("SPARK_GRAFT_SKEW_ROWS", "200000"))
    bands, rows_per_band = 4, 4

    def corpus(frac_identical: float):
        pct = int(frac_identical * 100)
        boiler = "identical boilerplate header repeated verbatim across this corpus " * 4
        return ensure_parallelism(
            spark.range(n).select(
                F.col("id").alias("doc_id"),
                F.when(F.col("id") % 100 < pct, F.lit(boiler))
                .otherwise(
                    F.concat(
                        F.lit("unique payload "),
                        F.md5(F.col("id").cast("string")),
                        F.lit(" "),
                        F.md5((F.col("id") + 7919).cast("string")),
                    )
                )
                .alias("text"),
            )
        )

    def pairs_two_phase(with_sig):
        # Mirrors the SHIPPED _sig_band_pairs: banded persisted, two-phase min.
        banded = _banded_frame(with_sig, bands * rows_per_band, bands).persist()
        reps = banded.groupBy("__band_idx", "__band_hash").agg(F.min("__id").alias("__min_id"))
        return banded, (
            banded.join(reps, ["__band_idx", "__band_hash"])
            .filter(F.col("__id") > F.col("__min_id"))
            .select(F.col("__min_id").alias("id_a"), F.col("__id").alias("id_b"))
        )

    def pairs_window(with_sig):
        # Pre-round-4 formulation (single consumer: no persist needed).
        banded = _banded_frame(with_sig, bands * rows_per_band, bands)
        w = Window.partitionBy("__band_idx", "__band_hash")
        return None, (
            banded.withColumn("__min_id", F.min("__id").over(w))
            .filter(F.col("__id") > F.col("__min_id"))
            .select(F.col("__min_id").alias("id_a"), F.col("__id").alias("id_b"))
        )

    def run(frac: float, strategy) -> float:
        df = corpus(frac)
        sig = minhash_signature(F.col("text"), num_perm=bands * rows_per_band)
        with_sig = df.select(F.col("doc_id").alias("__id"), sig.alias("__sig")).persist()
        cached, pairs = strategy(with_sig)
        # count the LOSER set (what dedup consumes) — forces the full pair path
        q = pairs.select("id_b").distinct()
        q.count()  # warm (populates caches so both strategies time warm-cache plans)
        runs = []
        for _ in range(3):
            t0 = time.time()
            q.count()
            runs.append(time.time() - t0)
        with_sig.unpersist(blocking=False)
        if cached is not None:
            cached.unpersist(blocking=False)
        release_persisted()
        return _median(runs)

    results = []
    for frac in (0.0, 0.5, 0.9):
        t_two = run(frac, pairs_two_phase)
        t_win = run(frac, pairs_window)
        results.append((frac, t_two, t_win))
        print(f"# frac={frac}: two-phase {t_two:.2f}s  window {t_win:.2f}s", file=sys.stderr)

    lines = [
        "# SKEW — representative-selection A/B under adversarial skew",
        "",
        f"{n} synthetic docs, boilerplate fraction as listed (all boilerplate rows",
        "share ONE text, i.e. one LSH bucket per band holds frac*n identical",
        "signatures). Median-of-3 warm counts of the distinct loser-id set,",
        f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]. `two_phase` is the shipped path",
        "(operators/dedup.py:_sig_band_pairs: groupBy partial-agg + AQE-splittable",
        "join-back); `window` is the pre-round-4 Window.partitionBy(band, hash)",
        "formulation, rebuilt here for measurement only — its hot bucket lands on",
        "a single task, so its cost scales with the skewed fraction while the",
        "two-phase map-side partial collapses the bucket before the exchange.",
        "Regenerate with `python bench.py --skew`.",
        "",
        "| identical frac | two_phase s | window s | window/two_phase |",
        "|---|---|---|---|",
    ]
    for frac, t_two, t_win in results:
        ratio = round(t_win / t_two, 2) if t_two else float("nan")
        lines.append(f"| {frac} | {round(t_two, 2)} | {round(t_win, 2)} | {ratio}x |")
    lines.append("")
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "SKEW.md"), "w") as f:
        f.write("\n".join(lines))
    print(json.dumps({"metric": "skew_ab", "rows": n, "results": [
        {"frac": f, "two_phase": round(a, 3), "window": round(b, 3)} for f, a, b in results
    ]}))
    return 0


# Queries whose round-over-round medians drifted without code changes
# (VERDICT r5: tfidf 1.48x, unigram 1.55x, grpo 1.41x vs r4) — always
# included in the pressure A/B so the suite-pressure hypothesis stays
# measured, not asserted.
PRESSURE_WATCHLIST = [
    "tfidf_top_terms",
    "unigram_doc_logprob",
    "grpo_reward_advantage",
    # VERDICT r6: 1.4-1.9x vs the r1 baseline on small absolute numbers as
    # the suite grew 36->64 plans; watch before they drift over the 2x gate.
    "session_windows",
    "window_rank_orders",
    "sliding_windows",
]


def bench_pressure() -> int:
    """Sustained-pressure A/B (VERDICT r5 item 8): re-measure the 10 slowest
    queries (by the last full run's BENCH_SUMMARY.json medians) plus the
    drift watchlist IN ISOLATION — fresh ordering, 2x reps, no other queries
    interleaved — and compare the solo median to the in-suite median. A
    solo/suite ratio well under 1 says the suite number carries
    session-pressure cost (JVM heap/codegen-cache churn from 60+ distinct
    plans), not plan cost; a ratio ~1 says the plan itself is that
    expensive. Appends a stability table to BENCH_VARIANCE.md."""
    import __spark_entry__ as entrymod
    from instructionspipe_spark import get_spark, load_tables
    from instructionspipe_spark.registry import release_persisted

    here = os.path.dirname(os.path.abspath(__file__))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = 2 * max(5, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5")))
    with open(os.path.join(here, "BENCH_SUMMARY.json")) as f:
        suite = json.load(f)
    suite_medians: dict[str, float] = suite["queries"]
    spark = get_spark(app_name="instructionspipe-spark-pressure")
    queries = entrymod.queries()
    # Filter to names the registry still exposes: a stale/renamed query in
    # the on-disk summary must be skipped, not a KeyError that kills the run.
    live = {n: t for n, t in suite_medians.items() if n in queries}
    dropped = sorted(set(suite_medians) - set(live))
    if dropped:
        print(f"# pressure: skipping stale summary names: {dropped}", file=sys.stderr)
    slowest = sorted(live, key=live.get, reverse=True)[:10]
    names = list(dict.fromkeys(slowest + [n for n in PRESSURE_WATCHLIST if n in live]))
    tables = load_tables(spark, sf_dir)
    tables["lineitem"].count()

    def run_once(name: str) -> float:
        df = queries[name](spark, sf_dir)
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        return time.time() - t0

    rows = []
    for name in names:
        run_once(name)  # per-query warmup
        samples = [run_once(name) for _ in range(reps)]
        solo = _median(samples)
        rows.append(
            {
                "query": name,
                "suite": suite_medians[name],
                "solo": round(solo, 3),
                "solo_iqr": round(_iqr(samples), 3),
                "ratio": round(solo / suite_medians[name], 2) if suite_medians[name] else None,
            }
        )
        print(f"# {name}: solo {solo:.2f}s vs suite {suite_medians[name]:.2f}s", file=sys.stderr)
        release_persisted()

    md = [
        "# BENCH_PRESSURE — solo-vs-suite A/B",
        "",
        "Own file so a full-bench regen (which rewrites BENCH_VARIANCE.md",
        "fresh) can never clobber this record again — it did in r6.",
        "",
        "## Pressure A/B — solo vs in-suite medians",
        "",
        f"The 10 slowest queries (last full run) + the drift watchlist, re-run",
        f"in ISOLATION at {reps} reps each (`python bench.py --pressure`, sf dir",
        f"`{sf_dir}`). `ratio` = solo/suite: ~1.0 means the in-suite median is",
        "genuine plan cost; well below 1.0 means the suite number carries",
        "session pressure (codegen-cache/heap churn across 60+ distinct plans),",
        "not a plan regression.",
        "",
        "| query | suite median s | solo median s | solo IQR | solo/suite |",
        "|---|---|---|---|---|",
    ]
    for r in rows:
        md.append(
            f"| {r['query']} | {r['suite']} | {r['solo']} | {r['solo_iqr']} | {r['ratio']} |"
        )
    md.append("")
    pressure_path = os.path.join(here, "BENCH_PRESSURE.md")
    # Preserve the fresh-JVM section (written by --fresh) across pressure
    # rewrites — a full --pressure regen clobbered it once in r9.
    tail = ""
    try:
        with open(pressure_path) as f:
            existing = f.read()
        marker = "\n## Fresh-JVM isolation"
        if marker in existing:
            tail = existing[existing.index(marker):]
    except FileNotFoundError:
        pass
    with open(pressure_path, "w") as f:
        f.write("\n".join(md) + tail)
    print(json.dumps({"metric": "pressure_ab", "sf": suite.get("sf"), "rows": rows}))
    return 0


def bench_fresh_one(name: str) -> int:
    """Child process for --fresh: ONE query in a brand-new JVM — no other
    plan has touched the codegen cache, heap, or broadcast manager. Prints
    one JSON line {query, fresh, iqr, runs}."""
    import __spark_entry__ as entrymod
    from instructionspipe_spark import get_spark, load_tables

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = max(5, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5")))
    spark = get_spark(app_name=f"instructionspipe-spark-fresh-{name}")
    queries = entrymod.queries()
    tables = load_tables(spark, sf_dir)
    tables["lineitem"].count()

    def run_once() -> float:
        df = queries[name](spark, sf_dir)
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        return time.time() - t0

    run_once()  # warmup: codegen + footers, same discipline as main()
    samples = [run_once() for _ in range(reps)]
    print(
        json.dumps(
            {
                "query": name,
                "fresh": round(_median(samples), 3),
                "iqr": round(_iqr(samples), 3),
                "runs": [round(s, 3) for s in samples],
            }
        )
    )
    return 0


def _r1_baselines() -> dict[str, float]:
    """Per-query r1 baseline medians, parsed from BENCH_r01.json's captured
    output (its structured 'parsed' field is empty — r1 predates it)."""
    here = os.path.dirname(os.path.abspath(__file__))
    try:
        with open(os.path.join(here, "BENCH_r01.json")) as f:
            tail = json.load(f).get("tail", "")
    except FileNotFoundError:
        return {}
    return {
        m.group(1): float(m.group(2))
        for m in re.finditer(r"# (\w+): materialized in ([0-9.]+)s", tail)
    }


def bench_fresh() -> int:
    """Fresh-JVM isolation bench (VERDICT r8 item 6): run each watchlist
    query in its OWN subprocess/JVM so nothing — not even the pressure
    run's shared session — can attribute another plan's codegen-cache or
    heap churn to it. This is the definitive methodology for the
    vs-baseline gate on sub-second queries: the r1 baseline was recorded
    in a 36-plan session, today's suite runs 89 plans in one JVM, so the
    in-suite median measures session pressure, not the plan. Appends a
    section to BENCH_PRESSURE.md. `python bench.py --fresh [names...]`."""
    import subprocess

    here = os.path.dirname(os.path.abspath(__file__))
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    names = args or PRESSURE_WATCHLIST
    baselines = _r1_baselines()
    try:
        with open(os.path.join(here, "BENCH_SUMMARY.json")) as f:
            # .get, not [..]: an older/partial summary without 'queries'
            # must not abort the sweep after the subprocess work.
            suite_medians = json.load(f).get("queries", {})
    except (FileNotFoundError, json.JSONDecodeError):
        suite_medians = {}
    rows = []
    for name in names:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--fresh-one", name],
            capture_output=True,
            text=True,
            cwd=here,
        )
        line = next(
            (l for l in out.stdout.splitlines() if l.startswith('{"query"')), None
        )
        if line is None:
            print(f"# fresh {name}: FAILED\n{out.stderr[-800:]}", file=sys.stderr)
            continue
        r = json.loads(line)
        base = baselines.get(name)
        r["suite"] = suite_medians.get(name)
        r["baseline_r1"] = base
        r["vs_baseline"] = round(r["fresh"] / base, 2) if base else None
        rows.append(r)
        print(
            f"# fresh {name}: {r['fresh']}s (suite {r['suite']}, r1 base "
            f"{base}, vs-baseline {r['vs_baseline']}x)",
            file=sys.stderr,
        )
    md = [
        "",
        "## Fresh-JVM isolation (one subprocess per query)",
        "",
        "Each query in its OWN JVM (`python bench.py --fresh`): no shared",
        "codegen cache, heap, or broadcast state from the other 88 plans.",
        "The r1 baseline was recorded in a 36-plan session; the in-suite",
        "median under 89 plans measures session pressure, so THIS column is",
        "the vs-baseline gate number for the watchlist.",
        "",
        "| query | fresh-JVM median s | IQR | in-suite s | r1 baseline s | fresh/baseline |",
        "|---|---|---|---|---|---|",
    ]
    for r in rows:
        md.append(
            f"| {r['query']} | {r['fresh']} | {r['iqr']} | {r['suite']} | "
            f"{r['baseline_r1']} | {r['vs_baseline']} |"
        )
    md.append("")
    # Promote fresh medians to the RECORDED methodology (VERDICT r9 #7):
    # merge them into BENCH_SUMMARY.json so the next plain `python bench.py`
    # run (and therefore the driver's BENCH_r{N}.json) carries both columns
    # and cross-round comparisons stop re-litigating session pressure.
    summary_path = os.path.join(here, "BENCH_SUMMARY.json")
    try:
        with open(summary_path) as f:
            summary = json.load(f)
    except (FileNotFoundError, json.JSONDecodeError):
        summary = {}
    summary["fresh"] = {
        r["query"]: {
            "median": r["fresh"],
            "iqr": r["iqr"],
            "baseline_r1": r["baseline_r1"],
            "vs_baseline": r["vs_baseline"],
        }
        for r in rows
    }
    with open(summary_path, "w") as f:
        json.dump(summary, f, indent=1)
        f.write("\n")
    pressure_path = os.path.join(here, "BENCH_PRESSURE.md")
    try:
        with open(pressure_path) as f:
            existing = f.read()
    except FileNotFoundError:
        existing = ""
    # Idempotent: replace any previous fresh-JVM section instead of stacking.
    marker = "\n## Fresh-JVM isolation"
    if marker in existing:
        existing = existing[: existing.index(marker)].rstrip() + "\n"
    with open(pressure_path, "w") as f:
        f.write(existing + "\n".join(md))
    print(json.dumps({"metric": "fresh_jvm", "rows": rows}))
    return 0


def main() -> int:
    import __spark_entry__ as entrymod
    from instructionspipe_spark import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    # Round 3 proved min-of-2 cannot distinguish a real 1.5x regression
    # from shared-host noise (q1 measured 0.97s in SCALING.md and 1.94s in
    # BENCH_r03.json the same round, same data). The fix: one untimed warmup
    # pass, then >=5 counted reps, each a full pass over the query list with
    # the ORDER alternating between reps (forward/reverse) so slow drift on
    # the shared host decorrelates from query identity. Per query we report
    # the MEDIAN (robust to a descheduled executor thread) and the IQR as
    # the noise bar; BENCH_VARIANCE.md records the full per-query spread.
    reps = max(5, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5")))

    spark = get_spark(app_name="instructionspipe-spark-bench")
    queries = entrymod.queries()

    # Warmup: force JVM + codegen + parquet footer reads before timing.
    from instructionspipe_spark import load_tables
    from instructionspipe_spark.registry import release_persisted

    tables = load_tables(spark, sf_dir)
    tables["lineitem"].count()

    names = [n for n in BENCH_QUERIES if n in queries]

    def run_once(name: str) -> float:
        # Build + materialize = one cold end-to-end sample. Building a query
        # releases the previous query's managed_persist caches (see
        # registry.query), so every sample pays the full plan cost — no
        # warm-cache asymmetry between reps.
        df = queries[name](spark, sf_dir)
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        return time.time() - t0

    # Untimed warmup pass: codegen compilation + OS page cache for every
    # query's input files, so rep 1 isn't systematically colder.
    for name in names:
        run_once(name)

    samples: dict[str, list[float]] = {name: [] for name in names}
    for rep in range(reps):
        order = names if rep % 2 == 0 else list(reversed(names))
        for name in order:
            samples[name].append(run_once(name))
        print(f"# rep {rep + 1}/{reps} done ({'fwd' if rep % 2 == 0 else 'rev'})", file=sys.stderr)
    release_persisted()

    timings = {name: round(_median(samples[name]), 3) for name in names}
    variance = {
        name: {
            "median": timings[name],
            "iqr": round(_iqr(samples[name]), 3),
            "min": round(min(samples[name]), 3),
            "max": round(max(samples[name]), 3),
        }
        for name in names
    }
    for name in names:
        v = variance[name]
        print(f"# {name}: median {v['median']:.2f}s  iqr {v['iqr']:.2f}  [{v['min']:.2f}, {v['max']:.2f}]", file=sys.stderr)

    md = [
        "# BENCH_VARIANCE — per-query spread for the headline bench",
        "",
        f"{reps} counted reps after one untimed warmup pass, sf dir `{sf_dir}`,",
        f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]. Query order alternates forward/reverse between",
        "reps so shared-host drift decorrelates from query identity. Each sample",
        "is a cold build+materialize (managed_persist caches released between",
        "queries), so medians are end-to-end plan cost, not warm-cache cost.",
        "A cross-round delta smaller than the sum of the two rounds' IQRs is",
        "noise, not a regression. Regenerate with `python bench.py`.",
        "",
        "Which gate reads which column (r9 BENCH_PRESSURE finding): the",
        "in-suite medians here gate the SUITE TOTAL and cross-round",
        "regressions; the vs-r1-baseline gate for sub-second watchlist",
        "queries reads the fresh-JVM medians (`python bench.py --fresh`,",
        "recorded under the `fresh` key of BENCH_SUMMARY.json and in",
        "BENCH_PRESSURE.md) — the r1 baseline was a 36-plan session, today's",
        "suite runs ~90 plans in one JVM, so the in-suite median measures",
        "session codegen/heap churn, not the plan.",
        "",
        "| query | median s | IQR s | min s | max s |",
        "|---|---|---|---|---|",
    ]
    for name in names:
        v = variance[name]
        md.append(f"| {name} | {v['median']} | {v['iqr']} | {v['min']} | {v['max']} |")
    md.append("")
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_VARIANCE.md"), "w") as f:
        f.write("\n".join(md))

    total = round(sum(timings.values()), 3)
    # The FULL record (every query's median and IQR) goes to
    # BENCH_SUMMARY.json on disk; stdout gets headline_line's compact copy.
    summary = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }
    summary_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_SUMMARY.json"
    )
    # Carry the fresh-JVM medians recorded by `bench.py --fresh` (VERDICT r9
    # #7): the round's artifact then holds BOTH methodologies — in-suite
    # medians (the suite-total / regression gate) and fresh-JVM medians (the
    # vs-r1-baseline gate for sub-second watchlist queries).
    try:
        with open(summary_path) as f:
            prev_fresh = json.load(f).get("fresh", {})
    except (FileNotFoundError, json.JSONDecodeError):
        prev_fresh = {}
    full = dict(summary)
    full["iqr"] = {name: variance[name]["iqr"] for name in names}
    full["reps"] = reps
    full["sf_dir"] = sf_dir
    if prev_fresh:
        full["fresh"] = prev_fresh
    with open(summary_path, "w") as f:
        json.dump(full, f, indent=1)
        f.write("\n")
    print(headline_line(full))
    sys.stdout.flush()
    return 0


def headline_line(summary: dict) -> str:
    """The one stdout JSON line of a full run, from its BENCH_SUMMARY.json
    record: metric/value/unit/sf, the query count, the 5 slowest queries and
    the fresh-JVM medians. It must stay under 1 KB: the run's stdout tail is captured
    with a 2,000-char window, and the line that carried all 92 per-query
    timings (2,810 chars) arrived cut and did not parse."""
    queries = summary["queries"]
    slowest = sorted(queries, key=lambda n: (-queries[n], n))[:5]
    line = {k: summary[k] for k in ("metric", "value", "unit", "sf")}
    line["n_queries"] = len(queries)
    line["slowest"] = {n: queries[n] for n in slowest}
    if summary.get("fresh"):
        line["fresh"] = {n: v["median"] for n, v in summary["fresh"].items()}
    return json.dumps(line, separators=(",", ":"))


def bench_kernel() -> int:
    """Async LLM kernel throughput (VERDICT r6 item 5): the engine's bespoke
    physical operator (plans/llm_kernel.py AsyncKernelLlm -> OpenAiLlm) has
    correctness tests but no perf number — measure rows/s through the REAL
    mapInPandas + event-loop + semaphore + stdlib-HTTP path against a
    latency-injected local chat-completions stub, sweeping per-batch
    concurrency. Expected shape: throughput ~ partitions * concurrency /
    latency until scheduling overhead dominates — the measured table makes
    the reference's qualitative async-fan-out claim (README.md:82-85)
    quantitative. Writes BENCH_KERNEL.md; `python bench.py --kernel`."""
    import hashlib
    import multiprocessing as mp
    import socket
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from pyspark.sql import functions as F

    from instructionspipe_spark import get_spark
    from instructionspipe_spark.plans.llm_kernel import OpenAiLlm

    latency = float(os.environ.get("SPARK_GRAFT_KERNEL_LATENCY", "0.05"))
    # Chaos mode (VERDICT r9 #6): SPARK_GRAFT_KERNEL_CHAOS=<fraction> makes
    # the stub fail that fraction of requests, split evenly across
    # 429 / 500 / stall-past-timeout / short-read. Selection is a hash of
    # (prompt, per-process attempt number), so a retried request re-rolls
    # and heals with probability (1 - f) per attempt — the measured table
    # then shows what the transport retry ladder costs end-to-end.
    # Correctness under chaos is pinned by tests/test_live_http.py's
    # scripted chaos tests; this mode measures THROUGHPUT under faults.
    chaos_frac = float(os.environ.get("SPARK_GRAFT_KERNEL_CHAOS", "0"))
    chaos_stall = 3.0
    # Adaptive fixture size (VERDICT r7 #4): a fixed 1000-row fixture made the
    # high-concurrency rows measure per-batch event-loop startup, not the
    # kernel (conc=64 reached 778 rows/s vs a 10240 ceiling purely because
    # the work ran out in ~1 s). Scale rows with concurrency so each step
    # sustains several seconds of steady state; SPARK_GRAFT_KERNEL_ROWS
    # overrides with a fixed size.
    fixed_rows = os.environ.get("SPARK_GRAFT_KERNEL_ROWS")
    parts = int(os.environ.get("SPARK_GRAFT_KERNEL_PARTS", "8"))
    # Chaos measures the retry ladder's cost, not the saturation curve —
    # two representative concurrencies keep the fault run tight.
    sweep = [16, 64] if chaos_frac > 0 else [1, 4, 16, 64, 128]
    rows_for = lambda conc: int(fixed_rows) if fixed_rows else max(1000, 400 * conc)

    # The stub must NOT be the bottleneck being measured: a single-process
    # ThreadingHTTPServer caps at ~450 req/s (one GIL parsing every request
    # line-by-line) — measured standalone with a plain thread-pool client,
    # no Spark involved — which silently floors every concurrency>=16 row.
    # So the stub is N_SRV processes all bound to ONE port via SO_REUSEPORT
    # (kernel-side accept load balancing), with the counters in shared
    # memory: n_requests / in-flight peak / first-request->last-response
    # steady-state window stay exact across processes.
    n_srv = int(os.environ.get("SPARK_GRAFT_KERNEL_STUB_PROCS", "8"))
    c_lock = mp.Lock()
    c_requests = mp.Value("l", 0, lock=False)
    c_inflight = mp.Value("l", 0, lock=False)
    c_peak = mp.Value("l", 0, lock=False)
    c_first = mp.Value("d", 0.0, lock=False)
    c_last = mp.Value("d", 0.0, lock=False)
    c_faults = mp.Value("l", 0, lock=False)

    with socket.socket() as _probe:
        _probe.bind(("127.0.0.1", 0))
        port = _probe.getsockname()[1]

    def _stub_proc():
        class Srv(ThreadingHTTPServer):
            daemon_threads = True
            request_queue_size = 1024
            allow_reuse_address = True

            def server_bind(self):
                self.socket.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEPORT, 1)
                ThreadingHTTPServer.server_bind(self)

        import zlib

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):
                pass

            def do_POST(self):
                body = self.rfile.read(int(self.headers["Content-Length"]))
                prompt = json.loads(body)["messages"][-1]["content"]
                with c_lock:
                    c_requests.value += 1
                    c_inflight.value += 1
                    c_peak.value = max(c_peak.value, c_inflight.value)
                    if c_first.value == 0.0:
                        c_first.value = time.time()
                    req_no = c_requests.value
                try:
                    if chaos_frac > 0:
                        # Roll on the GLOBAL request number, not a per-process
                        # per-prompt count: with SO_REUSEPORT a retry can land
                        # on a process that has never seen the prompt, and a
                        # (prompt, local_call=1) key would re-fail
                        # DETERMINISTICALLY — measured: ~21% of chaos-marked
                        # prompts exhausted a 4-retry budget that way. The
                        # global number makes every attempt an iid re-roll.
                        key = f"{prompt}|{req_no}".encode()
                        if (zlib.crc32(key) % 10000) / 10000 < chaos_frac:
                            with c_lock:
                                c_faults.value += 1
                            mode = ("429", "500", "stall", "short")[
                                zlib.crc32(key + b"m") % 4
                            ]
                            if mode in ("429", "500"):
                                err = b'{"error": {"message": "chaos"}}'
                                self.send_response(int(mode))
                                self.send_header("Content-Length", str(len(err)))
                                self.end_headers()
                                self.wfile.write(err)
                                return
                            if mode == "stall":
                                time.sleep(chaos_stall)  # past request_timeout
                                return
                            # short-read: declared length, half the bytes
                            full = b'{"choices": [{"finish_reason": "stop"}]}'
                            self.send_response(200)
                            self.send_header("Content-Length", str(len(full)))
                            self.end_headers()
                            self.wfile.write(full[: len(full) // 2])
                            return
                    time.sleep(latency)
                    data = json.dumps(
                        {
                            "id": "bench",
                            "object": "chat.completion",
                            "model": "bench",
                            "choices": [
                                {
                                    "index": 0,
                                    "finish_reason": "stop",
                                    "message": {
                                        "role": "assistant",
                                        "content": hashlib.md5(prompt.encode()).hexdigest(),
                                    },
                                }
                            ],
                        }
                    ).encode()
                    self.send_response(200)
                    self.send_header("Content-Type", "application/json")
                    self.send_header("Content-Length", str(len(data)))
                    self.end_headers()
                    self.wfile.write(data)
                finally:
                    with c_lock:
                        c_inflight.value -= 1
                        c_last.value = time.time()

        Srv(("127.0.0.1", port), Handler).serve_forever()

    procs = [mp.Process(target=_stub_proc, daemon=True) for _ in range(n_srv)]
    for pr in procs:
        pr.start()
    deadline = time.time() + 10
    while True:  # wait for at least one listener
        try:
            socket.create_connection(("127.0.0.1", port), timeout=1).close()
            break
        except OSError:
            if time.time() > deadline:
                raise RuntimeError("kernel-bench stub failed to listen")
            time.sleep(0.05)

    spark = get_spark(app_name="instructionspipe-spark-kernel-bench")
    base_url = f"http://127.0.0.1:{port}/v1"
    def make_df(n_rows):
        d = (
            spark.range(n_rows)
            .select(
                F.col("id"), F.concat(F.lit("bench prompt "), F.col("id").cast("string")).alias("p")
            )
            .repartition(parts)
        )
        d.write.format("noop").mode("overwrite").save()  # warm JVM + partitions
        return d

    rows = []
    try:
        for conc in sweep:
            n_rows = rows_for(conc)
            df = make_df(n_rows)
            llm = OpenAiLlm(
                model="bench",
                base_url=base_url,
                max_concurrency=conc,
                # Under chaos a stalled request must TIME OUT (and enter the
                # retry ladder) well before the stub's stall elapses.
                request_timeout=2.0 if chaos_frac > 0 else 120.0,
                # Budget sized to the fixture, not the default: per-row
                # exhaustion is f^(retries+1); at f=0.08 the default 4
                # retries leaves ~10% odds that SOME row of a 32k-row sweep
                # exhausts (observed). 7 retries puts the whole-sweep odds
                # at ~5e-7 while the expected ladder depth stays ~1/(1-f).
                transport_retries=7 if chaos_frac > 0 else 4,
            )
            with c_lock:
                c_requests.value = c_peak.value = c_faults.value = 0
                c_first.value = c_last.value = 0.0
            t0 = time.time()
            llm.complete_df(df, "p", "ans").write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            with c_lock:
                n_req, peak = c_requests.value, c_peak.value
                n_faults = c_faults.value
                window = (c_last.value - c_first.value) if c_first.value else dt
            rows.append(
                {
                    "concurrency": conc,
                    "n_rows": n_rows,
                    "sec": round(dt, 2),
                    "rows_per_s": round(n_rows / dt, 1),
                    "steady_rows_per_s": round(n_req / window, 1) if window else None,
                    "requests": n_req,
                    "peak_in_flight": peak,
                    "theoretical_rows_per_s": round(parts * conc / latency, 1),
                    **({"faults_injected": n_faults} if chaos_frac > 0 else {}),
                }
            )
            print(
                f"# conc={conc}: {n_rows} rows  {dt:.2f}s  {n_rows / dt:.0f} rows/s  "
                f"steady {n_req / window:.0f}  peak {peak}",
                file=sys.stderr,
            )
    finally:
        for pr in procs:
            pr.terminate()

    here = os.path.dirname(os.path.abspath(__file__))
    md = [
        "# BENCH_KERNEL — AsyncKernelLlm throughput vs stub endpoint",
        "",
        f"max(1000, 400*concurrency) prompts over {parts} partitions through the",
        "real OpenAiLlm mapInPandas kernel (stdlib-HTTP transport) against a",
        f"local chat stub with {latency * 1000:.0f} ms injected latency per request.",
        "Effective fan-out = partitions x per-batch semaphore; `peak_in_flight`",
        "proves the bound is honored end-to-end. `theoretical` = partitions *",
        "concurrency / latency, the latency-bound ceiling. `steady rows/s` is",
        "measured SERVER-side over the first-request->last-response window, so",
        "it excludes Spark job scheduling + per-batch event-loop startup — the",
        "gap between the two columns IS that fixed overhead.",
        "Regenerate with `python bench.py --kernel`.",
        "",
        "| concurrency | rows | sec | rows/s | steady rows/s | theoretical | peak in-flight | requests |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        md.append(
            f"| {r['concurrency']} | {r['n_rows']} | {r['sec']} | {r['rows_per_s']} | "
            f"{r['steady_rows_per_s']} | {r['theoretical_rows_per_s']} | "
            f"{r['peak_in_flight']} | {r['requests']} |"
        )
    md += [
        "",
        "Reading the table (r8 saturation analysis, VERDICT r7 #4):",
        "",
        "- concurrency <= 16 is LATENCY-BOUND and near-ceiling (steady ~80%",
        "  of theoretical; the gap is per-request urlopen connection setup).",
        "- The r7 table's ~800 rows/s plateau was TWO stacked artifacts, both",
        "  fixed here: the single-process stub itself capped at ~450 req/s",
        "  (GIL-bound HTTP parsing; now N processes on one SO_REUSEPORT",
        "  port), and asyncio's default executor capped in-flight POSTs at",
        "  min(32, cpus+4) per partition regardless of the semaphore (the",
        "  kernel now sizes the executor to max_concurrency — peak_in_flight",
        "  ~= partitions * concurrency proves the semaphore is the bound).",
        "- Saturation: ~3.8k rows/s at concurrency 64, DEGRADING at 128 —",
        "  beyond ~500 in-flight this single box is CPU-bound on the",
        "  thread-per-request transport + the co-located stub sharing 32",
        "  cores, not on the kernel's async machinery. In production the",
        "  endpoint is remote: read the table as ~4k req/s of client-side",
        "  capacity per 8-partition executor, scaling with executor count.",
    ]
    md.append("")
    path = os.path.join(here, "BENCH_KERNEL.md")
    chaos_hdr = "## Chaos mode — throughput under injected transport faults"
    try:
        with open(path) as f:
            old = f.read()
    except FileNotFoundError:
        old = ""
    old_chaos = old[old.find(chaos_hdr):] if chaos_hdr in old else ""
    if chaos_frac > 0:
        # Chaos runs REPLACE only the chaos section; the clean-sweep table
        # above was measured without faults and must not be overwritten by
        # a fault-degraded rerun.
        chaos_md = [
            chaos_hdr,
            "",
            f"`SPARK_GRAFT_KERNEL_CHAOS={chaos_frac}`: the stub fails that",
            "fraction of requests (hash of prompt+attempt, so retries re-roll),",
            "split evenly across 429 / 500 / stall-past-timeout / short-read;",
            "client request_timeout=2.0s, transport_retries=7 (sized so the",
            "whole sweep's exhaustion odds are ~5e-7 at f=0.08), backoff",
            "0.25*2^k s. Correctness under the same faults is pinned by the",
            "scripted chaos tests in tests/test_live_http.py; this table is",
            "the throughput cost. `requests - rows` = retry traffic.",
            "",
            "| concurrency | rows | sec | rows/s | requests | faults injected | peak in-flight |",
            "|---|---|---|---|---|---|---|",
        ]
        for r in rows:
            chaos_md.append(
                f"| {r['concurrency']} | {r['n_rows']} | {r['sec']} | "
                f"{r['rows_per_s']} | {r['requests']} | "
                f"{r.get('faults_injected', 0)} | {r['peak_in_flight']} |"
            )
        chaos_md.append("")
        base = old[: old.find(chaos_hdr)].rstrip() if chaos_hdr in old else old.rstrip()
        out = (base + "\n\n" if base else "") + "\n".join(chaos_md)
        with open(path, "w") as f:
            f.write(out)
    else:
        with open(path, "w") as f:
            f.write("\n".join(md))
            if old_chaos:
                f.write("\n" + old_chaos)
    print(
        json.dumps(
            {
                "metric": "kernel_throughput",
                "latency_s": latency,
                "chaos_frac": chaos_frac,
                "rows": rows,
            }
        )
    )
    return 0


STREAMING_QUERIES = [
    # (query name, input-rows SQL over the sf dir's events/documents)
    ("streaming_tumbling_equiv", "events"),
    ("streaming_sliding_equiv", "events"),
    ("streaming_session_equiv", "events"),
    ("streaming_late_drop_equiv", "events"),
    ("streaming_dedup_equiv", "events"),
    ("streaming_stateful_counts_equiv", "events"),
    ("streaming_join_equiv", "events"),
    ("streaming_outer_join_equiv", "events"),
    ("streaming_static_join_equiv", "events"),
    ("streaming_band_admission", "documents"),
    ("streaming_llm_cache_equiv", "documents"),
]


def bench_streaming() -> int:
    """Streaming drain throughput (round 7): the streaming layer has oracle
    rows but no perf record — time each streaming-equals-batch twin's FULL
    drain (file source -> state store -> sink -> snapshot) at the bench SF
    and report rows/s through the streaming runtime. Each twin's dominant
    cost is the stream itself (the batch-side snapshot is the emitted
    result, orders of magnitude smaller). Median of 3 after one warmup
    (warmup also materializes the twins' scratch inputs). Writes
    BENCH_STREAMING.md; `python bench.py --streaming`."""
    import duckdb

    import __spark_entry__ as entrymod
    from instructionspipe_spark import get_spark
    from instructionspipe_spark.registry import release_persisted

    here = os.path.dirname(os.path.abspath(__file__))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    spark = get_spark(app_name="instructionspipe-spark-streaming-bench")
    queries = entrymod.queries()

    counts = {
        t: duckdb.sql(f"SELECT COUNT(*) FROM '{sf_dir}/{t}.parquet'").fetchone()[0]
        for t in ("events", "documents")
    }

    rows = []
    for name, table in STREAMING_QUERIES:
        fn = queries.get(name)
        if fn is None:
            continue

        def run_once() -> float:
            t0 = time.time()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            release_persisted()
            return time.time() - t0

        run_once()  # warmup + scratch materialization
        med = _median([run_once() for _ in range(3)])
        n_in = counts[table]
        rows.append(
            {
                "query": name,
                "sec": round(med, 2),
                "input_rows": n_in,
                "rows_per_s": round(n_in / med, 0),
            }
        )
        print(f"# {name}: {med:.2f}s  {n_in / med:,.0f} rows/s", file=sys.stderr)

    md = [
        "# BENCH_STREAMING — drain throughput of the streaming twins",
        "",
        f"Full end-to-end drain of each streaming-equals-batch registry query",
        f"at sf{sf} (`{sf_dir}`): file source -> watermark/state store -> sink",
        "-> snapshot, median of 3 after warmup. `rows/s` is INPUT rows through",
        "the streaming runtime per wall second — the number a capacity plan",
        "needs (emitted results are orders of magnitude smaller). The LLM",
        "cache twin includes two full foreachBatch pipeline executions plus",
        "cache-table round-trips. Regenerate with `python bench.py --streaming`.",
        "",
        "| query | sec | input rows | rows/s |",
        "|---|---|---|---|",
    ]
    for r in rows:
        md.append(f"| {r['query']} | {r['sec']} | {r['input_rows']} | {int(r['rows_per_s'])} |")
    md.append("")
    _splice_md(
        os.path.join(here, "BENCH_STREAMING.md"), _STATE_HDR, body="\n".join(md)
    )
    print(json.dumps({"metric": "streaming_drain", "sf": sf, "rows": rows}))
    return 0


_STATE_HDR = "## State growth & provider decision"


def _splice_md(path: str, hdr: str, body: str | None = None, section: str | None = None) -> None:
    """Rewrite ``path`` replacing either the main body (everything before
    ``hdr``) or the ``hdr`` section, preserving the other — so the drain
    table and the state-growth probe can be regenerated independently."""
    try:
        with open(path) as f:
            old = f.read()
    except FileNotFoundError:
        old = ""
    old_body = old[: old.find(hdr)].rstrip() if hdr in old else old.rstrip()
    old_section = old[old.find(hdr) :].rstrip() if hdr in old else ""
    new_body = (body if body is not None else old_body).rstrip()
    new_section = (section if section is not None else old_section).rstrip()
    with open(path, "w") as f:
        f.write(new_body + ("\n\n" + new_section + "\n" if new_section else "\n"))


def bench_state() -> int:
    """Stateful-streaming state-growth probe (VERDICT r9 #5): the 14
    streaming twins replay 2-3 micro-batches at tiny SFs — nothing measured
    STATE-STORE behavior over a long-running stream. Drive one two-sided
    stateful job (stream_interval_join) and one keyed dedup
    (dropDuplicatesWithinWatermark) over 12 chronological micro-batches at
    sf1 (1M events) and sf10 (10M events), under BOTH state-store providers
    (default HDFS-backed heap map vs RocksDB), and record per-batch state
    rows / bytes / evictions from StreamingQueryProgress. Appends the
    '## State growth' section to BENCH_STREAMING.md (the drain table above
    it is preserved); `python bench.py --state`."""
    import shutil

    import duckdb

    from pyspark.sql import functions as F

    from instructionspipe_spark import get_spark
    from instructionspipe_spark.streaming.jobs import (
        stream_interval_join,
        streaming_dedup,
    )

    here = os.path.dirname(os.path.abspath(__file__))
    n_chunks = 12
    all_tiers = {
        "sf1": (os.path.join(here, ".scale/sf1/events.parquet"), 1_000_000),
        "sf10": (os.path.join(here, ".scale/sf10/events.parquet"), 10_000_000),
        "sf100": (os.path.join(here, ".scale/sf100/events.parquet"), 100_000_000),
    }
    all_providers = {
        "hdfs": "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
        "rocksdb": "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    }
    # Resumable sweep: each (tier, job, provider) result merges into a
    # results file and the md regenerates from the MERGED record, so the
    # sf10 drains (minutes each) can run one invocation at a time.
    # sf100 (100M events, ~3.4M peak state rows) is opt-in: pass
    # SPARK_GRAFT_STATE_TIERS=sf100 — it exists to test the provider
    # decision's on-heap-growth prediction one decade further.
    sel_tiers = os.environ.get("SPARK_GRAFT_STATE_TIERS", "sf1,sf10").split(",")
    sel_jobs = os.environ.get(
        "SPARK_GRAFT_STATE_JOBS", "interval_join,dedup"
    ).split(",")
    sel_providers = os.environ.get(
        "SPARK_GRAFT_STATE_PROVIDERS", "hdfs,rocksdb"
    ).split(",")
    tiers = [(n, *all_tiers[n]) for n in sel_tiers if n in all_tiers]
    providers = {n: all_providers[n] for n in sel_providers if n in all_providers}
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    scratch = os.path.join(here, ".bench_scratch", "state_probe")
    spark = get_spark(app_name="instructionspipe-spark-state-bench")

    def make_chunks(parquet: str, chunk_dir: str) -> None:
        """12 chronological parquet chunks, written in order so the file
        source's (mtime, path) ordering replays them as 12 in-order
        micro-batches — the watermark then advances ~2.5 days per batch and
        eviction is observable mid-stream."""
        if os.path.isdir(chunk_dir) and len(os.listdir(chunk_dir)) == n_chunks:
            return
        shutil.rmtree(chunk_dir, ignore_errors=True)
        os.makedirs(chunk_dir)
        con = duckdb.connect()
        con.execute(
            f"CREATE TEMP TABLE ev AS SELECT event_id, ts, user_id, event_type,"
            f" value, ntile({n_chunks}) OVER (ORDER BY ts) AS b"
            f" FROM read_parquet('{parquet}')"
        )
        for i in range(1, n_chunks + 1):
            con.execute(
                f"COPY (SELECT event_id, ts, user_id, event_type, value FROM ev"
                f" WHERE b = {i} ORDER BY ts)"
                f" TO '{chunk_dir}/chunk_{i:02d}.parquet' (FORMAT PARQUET)"
            )

    def run_probe(chunk_dir: str, job: str, prov_cls: str, ckpt: str):
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(chunk_dir)
        )
        if job == "interval_join":
            left = src.filter(F.col("event_type") == "click").select(
                "user_id", F.col("ts").alias("l_ts"), F.col("event_id").alias("l_id")
            )
            right = src.filter(F.col("event_type") == "purchase").select(
                "user_id", F.col("ts").alias("r_ts"), F.col("event_id").alias("r_id")
            )
            out = stream_interval_join(
                left, right, ["user_id"], "l_ts", "r_ts", "1 hour",
                watermark="30 minutes",
            )
        else:
            out = streaming_dedup(src, ["event_id"], "ts", watermark="1 hour")
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", prov_cls)
        t0 = time.time()
        q = (
            out.writeStream.format("noop")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        dt = time.time() - t0
        batches = []
        for p in q.recentProgress:
            d = p if isinstance(p, dict) else json.loads(p.json)
            so = d.get("stateOperators") or []
            if not so and d.get("numInputRows", 0) == 0:
                continue  # bookkeeping-only micro-batch
            mem = sum(o.get("memoryUsedBytes", 0) or 0 for o in so)
            if mem == 0:  # RocksDB reports through customMetrics
                mem = sum(
                    (o.get("customMetrics") or {}).get("rocksdbTotalMemoryUsage", 0)
                    for o in so
                )
            batches.append(
                {
                    "batch": d.get("batchId"),
                    "input_rows": d.get("numInputRows", 0),
                    "state_rows": sum(o.get("numRowsTotal", 0) for o in so),
                    "removed": sum(o.get("numRowsRemoved", 0) or 0 for o in so),
                    "mem_mb": round(mem / 1e6, 1),
                    "sec": round(
                        (d.get("durationMs") or {}).get("triggerExecution", 0) / 1000,
                        2,
                    ),
                }
            )
        return dt, batches

    results_path = os.path.join(scratch, "results.json")
    try:
        with open(results_path) as f:
            merged: dict = json.load(f)
    except (FileNotFoundError, json.JSONDecodeError):
        merged = {}
    for sf_name, parquet, n_rows in tiers:
        if not os.path.exists(parquet):
            print(f"# {sf_name}: {parquet} missing, skipped", file=sys.stderr)
            continue
        chunk_dir = os.path.join(scratch, sf_name)
        make_chunks(parquet, chunk_dir)
        for job in sel_jobs:
            for prov_name, prov_cls in providers.items():
                ckpt = os.path.join(scratch, f"ckpt_{sf_name}_{job}_{prov_name}")
                shutil.rmtree(ckpt, ignore_errors=True)
                dt, batches = run_probe(chunk_dir, job, prov_cls, ckpt)
                shutil.rmtree(ckpt, ignore_errors=True)
                peak_rows = max((b["state_rows"] for b in batches), default=0)
                rec = {
                    "sf": sf_name,
                    "job": job,
                    "provider": prov_name,
                    "drain_sec": round(dt, 1),
                    "rows_per_s": round(n_rows / dt),
                    "n_batches": len(batches),
                    "peak_state_rows": peak_rows,
                    "end_state_rows": batches[-1]["state_rows"] if batches else 0,
                    "peak_state_mb": max((b["mem_mb"] for b in batches), default=0),
                    "total_removed": sum(b["removed"] for b in batches),
                    "batches": batches,
                }
                merged[f"{sf_name}|{job}|{prov_name}"] = rec
                os.makedirs(scratch, exist_ok=True)
                with open(results_path, "w") as f:
                    json.dump(merged, f, indent=1)
                print(
                    f"# {sf_name} {job} {prov_name}: {dt:.1f}s, peak state "
                    f"{peak_rows} rows / "
                    f"{max((b['mem_mb'] for b in batches), default=0)} MB",
                    file=sys.stderr,
                )
    # Render from the MERGED record, ordered (sf, job, provider).
    order = {"sf1": 0, "sf10": 1, "sf100": 2}
    results = sorted(
        merged.values(),
        key=lambda r: (order.get(r["sf"], 9), r["job"], r["provider"]),
    )

    md = [
        _STATE_HDR,
        "",
        "12 chronological micro-batches (maxFilesPerTrigger=1 over in-order",
        "chunks; the watermark advances ~2.5 days per batch) through the two",
        "stateful shapes whose state can grow without bound if eviction",
        "breaks: the two-sided interval join (1h window, 30min watermark) and",
        "keyed dropDuplicatesWithinWatermark (1h). `peak/end state rows` come",
        "from StreamingQueryProgress.stateOperators; `removed` counts evicted",
        "state rows. Regenerate with `python bench.py --state`.",
        "",
        "| sf | job | provider | drain s | input rows/s | peak state rows | end state rows | peak state MB | evicted |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    for r in results:
        md.append(
            f"| {r['sf']} | {r['job']} | {r['provider']} | {r['drain_sec']} | "
            f"{r['rows_per_s']} | {r['peak_state_rows']} | {r['end_state_rows']} | "
            f"{r['peak_state_mb']} | {r['total_removed']} |"
        )
    # one detailed curve: the biggest tier's interval join, both providers
    # side by side (state-row counts are provider-independent semantics;
    # memory and batch seconds are where the providers differ)
    # biggest tier where BOTH providers have a record (a partial sweep may
    # have only one provider at the newest tier — don't crash the render)
    curve_src = [r for r in results if r["job"] == "interval_join"]
    both = [
        sf
        for sf in dict.fromkeys(r["sf"] for r in curve_src)
        if {r["provider"] for r in curve_src if r["sf"] == sf} >= {"hdfs", "rocksdb"}
    ]
    if both:
        biggest = both[-1]
        hd = next(r for r in curve_src if r["sf"] == biggest and r["provider"] == "hdfs")
        rk = next(
            r for r in curve_src if r["sf"] == biggest and r["provider"] == "rocksdb"
        )
        md += [
            "",
            f"Per-batch curve — interval join at {biggest}:",
            "",
            "| batch | input | state rows | evicted | hdfs MB / s | rocksdb MB / s |",
            "|---|---|---|---|---|---|",
        ]
        for bh, br in zip(hd["batches"], rk["batches"]):
            md.append(
                f"| {bh['batch']} | {bh['input_rows']} | {bh['state_rows']} | "
                f"{bh['removed']} | {bh['mem_mb']} / {bh['sec']} | "
                f"{br['mem_mb']} / {br['sec']} |"
            )
    md += [
        "",
        "Reading (r10 probe):",
        "",
        "- **Eviction law holds across three decades**: peak state rows grow",
        "  exactly 10x with 10x event density (join 34.0k -> 339.5k -> 3.39M;",
        "  dedup 86.2k -> 861.6k) because the watermark horizon is FIXED —",
        "  peak state ~ event_rate x horizon, independent of stream length.",
        "  End-state rows return to the last batch's horizon; `evicted`",
        "  accounts for the rest. Nothing accumulates across the 12 batches.",
        "- **Wall-clock is batch-overhead-bound until state gets big**: the",
        "  join drains 10x the events in the same ~59 s from sf1 to sf10 (12",
        "  fixed micro-batch round-trips dominate); at sf100 the state store",
        "  itself starts to matter and the providers diverge (see decision).",
        "",
        "### Provider decision (pinned, r10; sf100 re-measured)",
        "",
        "**RocksDB for production large-state jobs; the default HDFS-backed",
        "provider wherever peak state fits comfortably in executor heap",
        "(tests, the oracle twins, bounded-horizon jobs on well-sized",
        "executors).** The full measured trade, three decades of the",
        "interval join: state rows grow exactly 10x/decade (34.0k -> 339.5k",
        "-> 3.39M at sf100 = 100M events); the HDFS provider holds that on",
        "the executor JVM HEAP (19.6 MB -> 201 MB -> **2.68 GB**) while",
        "RocksDB holds it off-heap (45 -> 441 -> 1134 MB native). Wall-clock",
        "favors HDFS when heap is abundant — at sf100 under this probe's",
        "48 GB heap, HDFS drains in 75.3 s vs RocksDB's 156.6 s (RocksDB",
        "pays memtable/compaction per batch) — so the decision is a MEMORY",
        "SIZING rule, not a throughput rule: with production executors",
        "(8-16 GB, shared with wide shuffles) a 2.7 GB GC-visible state",
        "store is an OOM/GC hazard and one more decade is unrunnable,",
        "while RocksDB's ~2x batch-time premium buys state that no longer",
        "participates in executor sizing, plus changelog checkpointing for",
        "fast restarts. Rule of thumb from the curves: peak state bytes <",
        "~20% of executor heap -> default provider is faster and fine;",
        "beyond that, or when state size is unpredictable (the exact case",
        "eviction guards against), RocksDB — pinned in",
        "`streaming/jobs.py::RECOMMENDED_STATE_CONF`; the twins keep the",
        "default provider so the oracle gate also covers it.",
    ]
    md.append("")
    _splice_md(
        os.path.join(here, "BENCH_STREAMING.md"), _STATE_HDR, section="\n".join(md)
    )
    print(json.dumps({"metric": "state_growth", "results": results}))
    return 0


if __name__ == "__main__":
    if "--skew" in sys.argv[1:]:
        raise SystemExit(bench_skew())
    if "--pressure" in sys.argv[1:]:
        raise SystemExit(bench_pressure())
    if "--kernel" in sys.argv[1:]:
        raise SystemExit(bench_kernel())
    if "--streaming" in sys.argv[1:]:
        raise SystemExit(bench_streaming())
    if "--state" in sys.argv[1:]:
        raise SystemExit(bench_state())
    if "--fresh-one" in sys.argv[1:]:
        raise SystemExit(bench_fresh_one(sys.argv[sys.argv.index("--fresh-one") + 1]))
    if "--fresh" in sys.argv[1:]:
        raise SystemExit(bench_fresh())
    raise SystemExit(main())
