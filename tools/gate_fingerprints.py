"""Check and re-attest the gate fingerprints (QUERY_FINGERPRINTS.json).

The model and the gate order live in ``instructionspipe_spark/gate.py``:
``__spark_entry__.queries()`` puts every changed-or-new query first, then
the stalest attestations, and the driver's gate samples the first
``GATE_WINDOW``. ``check`` fails when a changed-or-new query sits outside
that window (more of them than the window holds); ``update`` re-attests
the window at the closing round number (they are about to be gated) and
leaves every other entry untouched.

Usage:
    python tools/gate_fingerprints.py check
    python tools/gate_fingerprints.py update --round N
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from instructionspipe_spark.gate import (  # noqa: E402,F401
    BASELINE_PATH,
    GATE_WINDOW,
    changed_queries,
    current_fingerprints,
    load_baseline,
)


def gate_head() -> list[str]:
    import __spark_entry__ as entry

    return list(entry.queries())[:GATE_WINDOW]


def check() -> int:
    cur = current_fingerprints()
    baseline = load_baseline()
    if not baseline:
        print(
            "gate_fingerprints: NO baseline (QUERY_FINGERPRINTS.json missing)"
            " — run `update --round N --seed` once to attest the current"
            " state before relying on check."
        )
        return 1
    changed = changed_queries(cur, baseline)
    head = set(gate_head())
    violations = sorted(q for q in changed if q not in head)
    stale_entries = sorted(set(baseline) - set(cur))
    if stale_entries:
        print(
            f"gate_fingerprints: WARN {len(stale_entries)} baseline entries "
            f"name queries no longer in the registry: {stale_entries}"
        )
    if violations:
        print(
            f"gate_fingerprints: FAIL — {len(violations)} quer"
            f"{'y' if len(violations) == 1 else 'ies'} changed since their "
            f"newest gate record but sit OUTSIDE the {GATE_WINDOW}-row gate "
            f"head (more changed-or-new queries than the window holds):"
        )
        for q in violations:
            print(f"  {q} ({changed[q]})")
        return 1
    in_head = sorted(q for q in changed if q in head)
    print(
        f"gate_fingerprints: OK — {len(changed)} changed-or-new "
        f"(all inside the gate head: {in_head}), "
        f"{len(cur) - len(changed)} attested-unchanged."
    )
    return 0


def update(round_no: int, seed: bool = False) -> int:
    cur = current_fingerprints()
    baseline = load_baseline()
    if not seed:
        rc = check()
        if rc != 0:
            print("gate_fingerprints: refusing to update — check failed.")
            return rc
    head = set(gate_head()) if not seed else set(cur)
    out: dict[str, dict] = {}
    for q, fp in sorted(cur.items()):
        if q in head:
            out[q] = {"fingerprint": fp, "attested_round": round_no}
        else:
            prev = baseline.get(q, {})
            out[q] = {
                "fingerprint": prev.get("fingerprint", fp),
                "attested_round": prev.get("attested_round", round_no),
            }
    with open(BASELINE_PATH, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(
        f"gate_fingerprints: wrote {BASELINE_PATH} — "
        f"{len(head & set(cur))} attested at round {round_no}, "
        f"{len(out) - len(head & set(cur))} carried."
    )
    return 0


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("mode", choices=["check", "update"])
    p.add_argument("--round", type=int, default=None)
    p.add_argument(
        "--seed",
        action="store_true",
        help="attest EVERY query at --round (bootstrap only: use when the "
        "full registry was just verified end-to-end, e.g. a fresh 3-SF "
        "ORACLE_FULL record plus the judge's independent re-run)",
    )
    a = p.parse_args()
    if a.mode == "check":
        return check()
    if a.round is None:
        p.error("update requires --round N")
    return update(a.round, seed=a.seed)


if __name__ == "__main__":
    raise SystemExit(main())
