"""Plan audit: verify SCALE.md's physical-plan claims across the whole
registry at once — the `.explain` loop, automated.

For every registry query, reports:
- raw fact tables (lineitem/orders/events/documents/embeddings) broadcast
  with only Filter/Project between scan and BroadcastExchange;
- CartesianProduct / BroadcastNestedLoopJoin nodes;
- per-query node census (BHJ/SMJ/Exchange counts).

Severity model: an UNHINTED Catalyst broadcast of a filtered fact is
INFO-level — the choice is stats-driven, so the same code picks SMJ when the
table stops fitting the threshold at real scale (file-size stats). A
nested-loop join whose subtree contains an Aggregate/Limit (scalar-subquery
shape: one-row side) is also INFO. HARD violations — the plans that do NOT
survive a 100x scale-up — are raw-fact broadcasts inside BENCH queries
(which carry explicit hints and are perf-graded) and quadratic joins with
no reduced side.

Usage: python tools/plan_audit.py [sf_dir] [query ...]
Exit 1 only on hard violations.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FACTS = ("lineitem", "orders", "events", "documents", "embeddings")


def _indent(ln: str) -> int:
    return len(ln) - len(ln.lstrip(" :+-"))


def _subtree(lines: list, i: int) -> list:
    sub = []
    for nxt in lines[i + 1 :]:
        if nxt.strip() and _indent(nxt) <= _indent(lines[i]):
            break
        sub.append(nxt)
    return sub


def audit_plan(plan: str) -> dict:
    lines = plan.splitlines()
    raw_fact_broadcasts = []
    hard_cartesian = 0
    soft_cartesian = 0
    for i, ln in enumerate(lines):
        if "BroadcastExchange" in ln:
            sub = _subtree(lines, i)
            if any("Join" in s or "HashAggregate" in s for s in sub):
                continue  # reduced side: fine to broadcast
            for s in sub:
                m = re.search(r"(\w+)\.parquet", s)
                if m and m.group(1) in FACTS:
                    raw_fact_broadcasts.append(m.group(1))
        if "CartesianProduct" in ln or "BroadcastNestedLoopJoin" in ln:
            sub = _subtree(lines, i)
            # Bounded side => not a scale risk: scalar-subquery shapes
            # (HashAggregate/Limit) and constant-k TakeOrdered sides (e.g.
            # the IVF centroid set = orderBy().limit(n_cells)).
            if any("HashAggregate" in s or "Limit" in s or "TakeOrdered" in s for s in sub):
                soft_cartesian += 1
            else:
                hard_cartesian += 1
    return {
        "raw_fact_broadcasts": sorted(set(raw_fact_broadcasts)),
        "hard_cartesian": hard_cartesian,
        "soft_cartesian": soft_cartesian,
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "exchange": plan.count("Exchange hashpartitioning"),
    }


def main() -> int:
    import __spark_entry__ as entrymod
    from instructionspipe_spark import get_spark

    import bench

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = get_spark(app_name="plan-audit")
    bench_set = set(bench.BENCH_QUERIES)

    hard = 0
    for name, fn in entrymod.queries().items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001
            print(f"ERR  {name}: {str(e).splitlines()[0][:120]}")
            hard += 1
            continue
        a = audit_plan(plan)
        flags = []
        if a["raw_fact_broadcasts"]:
            # Largest-table rule (mirrors tests/test_plans.py::
            # test_no_raw_fact_table_broadcasts): building the hash relation
            # on the BIGGEST fact in the plan is backwards at every scale;
            # broadcasting a smaller fact while a bigger one streams is the
            # right local plan and flips to SMJ at real-scale stats. Hard
            # only for bench queries (perf-graded, explicitly structured);
            # corpus-side (documents/embeddings) broadcasts are never hinted.
            rank = {"lineitem": 3, "orders": 2, "events": 1}
            present = [f for f in rank if f + ".parquet" in plan]
            biggest = max(present, key=lambda f: rank[f]) if present else None
            rel = [f for f in a["raw_fact_broadcasts"] if f == biggest]
            if rel and name in bench_set:
                flags.append(f"HARD RAW-FACT-BROADCAST={rel}")
                hard += 1
            else:
                flags.append(f"info raw-fact-broadcast={a['raw_fact_broadcasts']} (unhinted; SMJ at scale)")
        if a["hard_cartesian"]:
            if name in (
                "similarity_brute_topk", "embedding_near_dup", "ngram_jaccard_pairs",
                # Trained-mode recall contracts deliberately COMPUTE the exact
                # brute-force baseline next to the ANN/dedup result — the
                # cartesian IS the contract's truth side, not the scale path
                # (which is the banded/celled variant under test).
                "ivfadc_trained_recall", "pq_trained_recall", "semantic_dedup_trained",
                "ivfsq_trained_recall",
                # The RAG row deliberately uses the exact brute-force
                # retriever so its oracle replays every stage; the gated
                # IVF/PQ/LSH rows are the documented drop-in for the
                # retrieval stage at scale (same (query_id, vec_id, rank)
                # contract).
                "rag_context_pipeline",
            ):
                flags.append("info cartesian (documented brute-force baseline; blocked/LSH variant is the scale path)")
            else:
                flags.append(f"HARD CARTESIAN={a['hard_cartesian']}")
                hard += 1
        if a["soft_cartesian"]:
            flags.append("info 1-row-nlj (scalar subquery)")
        status = "WARN" if any(f.startswith("HARD") for f in flags) else "ok  "
        print(
            f"{status} {name}: bhj={a['bhj']} smj={a['smj']} exch={a['exchange']}"
            + (" " + " ".join(flags) if flags else "")
        )
    print(f"\n{hard} hard violations")
    return 1 if hard else 0


if __name__ == "__main__":
    raise SystemExit(main())
