"""Gate order: which registry queries the driver's correctness gate sees.

The driver's harness samples the FIRST ``GATE_WINDOW`` entries of
``__spark_entry__.queries()``. ``QUERY_FINGERPRINTS.json`` holds, per
registry query, the fingerprint attested by its newest gate exposure —
``sha256(source of the query callable + "\\x00" + its oracle SQL)`` — and
the round of that exposure. :func:`gate_order` derives the whole order
from it, so no list is maintained by hand:

1. every query whose current fingerprint differs from the attested one, or
   that has none (changed-or-new) — these need a fresh gate record;
2. then every other query by ascending ``attested_round`` — the stalest
   attestations are re-gated first;

with registry order breaking ties. ``tools/gate_fingerprints.py check``
fails when a changed-or-new query falls outside the window (more than
``GATE_WINDOW`` of them), and ``update --round N`` re-attests the window
at round N, which rotates it to the back of the next order.

Granularity: the fingerprint covers the registry callable's own source
and the full generated oracle text — so oracle-generator edits are caught
even when no registry line changed — but NOT transitive operator bodies;
operator-level changes are covered by the 3-SF ORACLE_FULL record, which
re-executes every query.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BASELINE_PATH = os.path.join(REPO, "QUERY_FINGERPRINTS.json")
GATE_WINDOW = 50


def current_fingerprints() -> dict[str, str]:
    from instructionspipe_spark.registry import ORACLES, QUERIES

    out: dict[str, str] = {}
    for name, fn in QUERIES.items():
        src = inspect.getsource(inspect.unwrap(fn))
        # Oracles reading a repo fixture embed its absolute path; hash the
        # checkout-independent text so a copy elsewhere fingerprints equal.
        oracle = ORACLES.get(name, "").replace(REPO, "<repo>")
        out[name] = hashlib.sha256((src + "\x00" + oracle).encode()).hexdigest()[:20]
    return out


def load_baseline() -> dict[str, dict]:
    try:
        with open(BASELINE_PATH) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def changed_queries(cur: dict[str, str], baseline: dict[str, dict]) -> dict[str, str]:
    """Queries needing a fresh gate record: fingerprint differs from the
    attested one, or the query has never been attested (new row)."""
    return {
        q: ("new" if q not in baseline else "edited")
        for q, fp in cur.items()
        if baseline.get(q, {}).get("fingerprint") != fp
    }


def gate_order() -> list[str]:
    """Every registry query, in gate order (see the module docstring)."""
    cur = current_fingerprints()
    baseline = load_baseline()
    changed = changed_queries(cur, baseline)
    return sorted(
        cur,
        key=lambda q: (q not in changed, 0 if q in changed else baseline[q]["attested_round"]),
    )
