"""The changed-since-last-gate invariant (VERDICT r9, Next-round #2).

The r9 decimal sweep edited four oracles after their newest gate record
and nothing failed. These tests pin the mechanization: an edited or new
query that is NOT inside the 50-row gate head fails the close checklist.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

import gate_fingerprints as gf  # noqa: E402


def test_baseline_exists_and_check_passes():
    """The committed QUERY_FINGERPRINTS.json must attest the current tree:
    every changed-or-new query sits inside the gate head. This is the exact
    check the close checklist runs."""
    assert os.path.exists(gf.BASELINE_PATH)
    assert gf.check() == 0


def test_every_registry_query_has_baseline_or_is_in_head():
    cur = gf.current_fingerprints()
    baseline = gf.load_baseline()
    head = set(gf.gate_head())
    for q in cur:
        assert q in baseline or q in head, (
            f"{q} has no attested fingerprint and is not in the gate head"
        )


def test_edited_query_outside_head_is_flagged():
    cur = gf.current_fingerprints()
    head = set(gf.gate_head())
    victim = next(q for q in cur if q not in head)
    tampered = {
        q: {"fingerprint": fp, "attested_round": 9} for q, fp in cur.items()
    }
    tampered[victim]["fingerprint"] = "0" * 20  # simulate a post-gate edit
    changed = gf.changed_queries(cur, tampered)
    assert changed == {victim: "edited"}
    assert victim not in head  # i.e. check() on this baseline would fail


def test_new_query_is_flagged_as_new():
    cur = gf.current_fingerprints()
    victim = next(iter(cur))
    baseline = {
        q: {"fingerprint": fp, "attested_round": 9}
        for q, fp in cur.items()
        if q != victim
    }
    assert gf.changed_queries(cur, baseline) == {victim: "new"}


def test_fingerprint_covers_oracle_text():
    """An oracle-generator edit (the r9 failure mode) must change the
    fingerprint even when the registry callable's source is untouched."""
    import hashlib
    import inspect

    from instructionspipe_spark.registry import ORACLES, QUERIES

    name = next(iter(ORACLES))
    src = inspect.getsource(inspect.unwrap(QUERIES[name]))
    base = gf.current_fingerprints()[name]
    perturbed = hashlib.sha256(
        (src + "\x00" + ORACLES[name] + " ").encode()
    ).hexdigest()[:20]
    assert perturbed != base


def test_gate_head_is_exactly_the_window():
    assert len(gf.gate_head()) == gf.GATE_WINDOW


def test_check_fails_when_changes_overflow_the_window(monkeypatch):
    """The head is generated, so it always takes the changed-or-new rows
    first — but it holds only GATE_WINDOW of them: one more changed row
    than the window must still fail the check."""
    from instructionspipe_spark import gate

    cur = gf.current_fingerprints()
    tampered = {q: {"fingerprint": fp, "attested_round": 9} for q, fp in cur.items()}
    for q in list(cur)[: gf.GATE_WINDOW + 1]:
        tampered[q]["fingerprint"] = "0" * 20
    monkeypatch.setattr(gate, "load_baseline", lambda: tampered)
    monkeypatch.setattr(gf, "load_baseline", lambda: tampered)
    assert len(gf.changed_queries(cur, tampered)) == gf.GATE_WINDOW + 1
    assert gf.check() == 1
    last = list(cur)[gf.GATE_WINDOW]
    tampered[last]["fingerprint"] = cur[last]  # exactly a window's worth
    assert gf.check() == 0
