"""Mechanize "changed since last gate" (VERDICT r9, Next-round #2).

The r9 decimal sweep edited four queries' oracle SQL AFTER their newest
driver-gate record; nothing failed, the invariant "a gate record attests
the CURRENT query text" just silently broke, and only manual
cross-referencing caught it. This tool makes that failure loud.

Model: ``QUERY_FINGERPRINTS.json`` holds, per registry query, the
fingerprint ATTESTED by its newest driver-gate exposure —
``sha256(source of the query callable + "\\x00" + its oracle SQL)``.
The close checklist runs ``check``: every query whose CURRENT fingerprint
differs from (or is absent from) the attested baseline MUST be inside the
first 50 entries of ``__spark_entry__.queries()`` (the driver's gate
window) — otherwise the close FAILS. ``update`` then re-attests the head-50
at the closing round number (they are about to be gated) and leaves every
other entry untouched.

Granularity note (deliberate, per the verdict's prescription): the
fingerprint covers the registry callable's own source and the full
generated oracle text — so oracle-generator edits are caught even when no
registry line changed — but NOT transitive operator bodies; operator-level
changes are covered by the 3-SF ORACLE_FULL record, which re-executes
every query each round.

Usage:
    python tools/gate_fingerprints.py check
    python tools/gate_fingerprints.py update --round N
"""

from __future__ import annotations

import argparse
import hashlib
import inspect
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
BASELINE_PATH = os.path.join(REPO, "QUERY_FINGERPRINTS.json")
GATE_WINDOW = 50

sys.path.insert(0, REPO)


def current_fingerprints() -> dict[str, str]:
    from instructionspipe_spark.registry import ORACLES, QUERIES

    out: dict[str, str] = {}
    for name, fn in QUERIES.items():
        src = inspect.getsource(inspect.unwrap(fn))
        # Oracles reading a repo fixture embed its absolute path; hash the
        # checkout-independent text so a copy elsewhere fingerprints equal.
        oracle = ORACLES.get(name, "").replace(REPO, "<repo>")
        out[name] = hashlib.sha256(
            (src + "\x00" + oracle).encode()
        ).hexdigest()[:20]
    return out


def gate_head() -> list[str]:
    import __spark_entry__ as entry

    return list(entry.queries())[:GATE_WINDOW]


def load_baseline() -> dict[str, dict]:
    try:
        with open(BASELINE_PATH) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def changed_queries(
    cur: dict[str, str], baseline: dict[str, dict]
) -> dict[str, str]:
    """Queries needing a fresh gate record: fingerprint differs from the
    attested one, or the query has never been attested (new row)."""
    return {
        q: ("new" if q not in baseline else "edited")
        for q, fp in cur.items()
        if baseline.get(q, {}).get("fingerprint") != fp
    }


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
            f"head (add them to _GATE_FIRST in __spark_entry__.py):"
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
