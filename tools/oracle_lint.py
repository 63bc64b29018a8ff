"""Static lint for cross-engine rounding/typing hazards in the registry.

Both r8 correctness escapes were one-grep detectable:

  * q12_late_priority_lines — DuckDB returns HUGEINT (int128) for an
    integer ``SUM(CASE … THEN 1 ELSE 0 END)`` while Spark returns bigint;
    an uncast conditional count hash-mismatches under the driver's strict
    typing even when every value agrees.
  * ivfsq_trained_recall — ``round(sum(round(x, 6)), 4)`` on IEEE doubles
    is association-order-sensitive and the outer ROUND can land on a
    half-ulp boundary where Spark (HALF_UP on the double) and DuckDB
    (round-half-even on the double) disagree; sums that feed a ROUND must
    pass through exact DECIMAL so both engines round the same exact value
    half-away-from-zero.

This tool makes the class unshippable (wired into the verify skill's
end-of-round close checklist):

  (a) oracle SQL: flag ``SUM(CASE`` / ``SUM(CAST(… AS INT*))`` not wrapped
      in an outer ``CAST( … AS BIGINT)``;
  (b) oracle SQL: flag ``ROUND(SUM(…))`` / ``ROUND(AVG(…))`` whose inner
      aggregate is not computed over a DECIMAL (order-sensitive double
      accumulation feeding a ROUND);
  (c) Spark source: flag ``F.round(F.sum(…))`` / ``F.round(F.avg(…))``
      whose aggregate input has no ``.cast("decimal…")``;
  (d) parity: per query, the multiset of ROUND digit literals in the
      oracle SQL should match the F.round digits in the query's Spark
      source (warning only — helper indirection makes this heuristic).

Exit 1 on any (a)–(c) finding not whitelisted below; (d) prints warnings.

Usage: python tools/oracle_lint.py [-v]
"""

from __future__ import annotations

import inspect
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Findings reviewed by hand and accepted. Format: (query_or_file, reason).
WHITELIST: dict[str, str] = {
    # Window running aggregates: both engines evaluate the frame in the
    # same ORDER BY sequence, so the double accumulation order is pinned
    # and identical — decimal is unnecessary.
    "window_lag_running:ROUND(SUM(value) OVER": "frame-ordered sequential sum",
    "window_moving_avg:ROUND(AVG(value) OVER": "frame-ordered sequential avg",
    # AVG over integers is an exact integer sum divided once at the end in
    # both engines — no accumulation-order sensitivity; and the ROUND
    # digits (4) sit far from any k/n boundary expressible at test scale.
    "cost_estimate:ROUND(AVG(n_tokens)": "avg over exact ints",
}


def _strip_ws(s: str) -> str:
    return re.sub(r"\s+", " ", s)


def _outer_cast_wraps(sql: str, idx: int) -> bool:
    """True if the SUM/AVG starting at ``idx`` sits directly inside a
    CAST( … AS <type>) — i.e. the nearest enclosing call is a CAST."""
    prefix = sql[:idx].rstrip()
    return bool(re.search(r"CAST\(\s*$", prefix, re.IGNORECASE))


def _balanced_arg(sql: str, open_paren: int) -> str:
    """Return the parenthesized argument starting at ``open_paren``."""
    depth = 0
    for j in range(open_paren, len(sql)):
        if sql[j] == "(":
            depth += 1
        elif sql[j] == ")":
            depth -= 1
            if depth == 0:
                return sql[open_paren + 1 : j]
    return sql[open_paren + 1 :]


def lint_oracle_sql(name: str, sql: str) -> list[str]:
    finds: list[str] = []
    flat = _strip_ws(sql)

    # (a) integer conditional counts must be CAST(… AS BIGINT)
    for m in re.finditer(r"SUM\s*\(", flat, re.IGNORECASE):
        arg = _balanced_arg(flat, m.end() - 1)
        arg_u = arg.upper()
        is_int_sum = bool(
            re.match(r"\s*CASE\b", arg_u)
            and re.search(r"THEN\s+\d+\s+ELSE\s+\d+", arg_u)
        ) or bool(re.match(r"\s*CAST\s*\(.*AS\s+(U?(TINY|SMALL|BIG)?INT)", arg_u))
        if is_int_sum and not _outer_cast_wraps(flat, m.start()):
            finds.append(
                f"{name}: uncast integer SUM -> DuckDB HUGEINT vs Spark "
                f"bigint [SUM({arg[:60]}…)]"
            )

    # (b) ROUND over a double-accumulating aggregate
    for m in re.finditer(r"ROUND\s*\(\s*(SUM|AVG)\s*\(", flat, re.IGNORECASE):
        inner_open = flat.index("(", m.end() - 1)
        arg = _balanced_arg(flat, inner_open)
        if "DECIMAL" in arg.upper():
            continue
        if _whitelisted(name, flat):
            continue
        finds.append(
            f"{name}: ROUND({m.group(1).upper()}(…)) over non-DECIMAL input "
            f"— order-sensitive double accumulation [{arg[:60]}…]"
        )
    return finds


def _whitelisted(name: str, flat_sql: str) -> bool:
    for key in WHITELIST:
        q, frag = key.split(":", 1)
        if q == name and frag.replace(" ", "") in flat_sql.replace(" ", ""):
            return True
    return False


def lint_spark_source(name: str, src: str) -> list[str]:
    finds: list[str] = []
    flat = _strip_ws(src)
    for m in re.finditer(r"F\.round\(\s*F\.(sum|avg)\(", flat):
        open_paren = flat.index("(", m.end() - 1)
        arg = _balanced_arg(flat, open_paren)
        if ".cast(" in arg and "decimal" in arg:
            continue
        # Window-frame aggregates (.over(...)) evaluate sequentially; a
        # decimal cast of the aggregate RESULT (quantize-before-round)
        # also neutralizes the cross-engine ROUND divergence.
        tail = flat[open_paren + len(arg) + 2 : open_paren + len(arg) + 40]
        if ".over(" in tail[:10] or re.match(
            r"\s*\.cast\(\s*f?[\"']decimal", tail
        ):
            continue
        # Plain integer-column aggregates are exact; match known int columns.
        if re.fullmatch(r"\s*[\"']\w+[\"']\s*", arg) and re.search(
            r"n_tokens|cnt|count", arg
        ):
            continue
        # A bare local identifier whose defining statement casts to decimal
        # (e.g. profit = (...).cast("decimal(25,6)")) is already exact.
        ident = arg.strip()
        if re.fullmatch(r"[A-Za-z_]\w*", ident) and re.search(
            rf"\b{ident}\s*=\s*[^=].*?\.cast\(\s*[\"']decimal", flat
        ):
            continue
        finds.append(
            f"{name}: F.round(F.{m.group(1)}(…)) without decimal cast "
            f"[{arg[:60]}…]"
        )
    return finds


def round_digit_multiset(s: str, spark: bool) -> list[int]:
    pat = r"F\.round\([^()]*(?:\([^()]*\))*[^()]*,\s*(\d+)\s*\)" if spark else (
        r"ROUND\((?:[^()]|\([^()]*(?:\([^()]*\))*[^()]*\))*,\s*(\d+)\s*\)"
    )
    return sorted(int(d) for d in re.findall(pat, s))


def main() -> int:
    verbose = "-v" in sys.argv
    from instructionspipe_spark.registry import ORACLES, QUERIES

    hard: list[str] = []
    warns: list[str] = []
    for name, sql in ORACLES.items():
        hard.extend(lint_oracle_sql(name, sql))
    # Registry functions mostly CALL operators — the r9 quality_classifier
    # escape lived in operators/textstats.py, invisible to a registry-only
    # scan. Lint every package source file for the Spark-side patterns too.
    import glob
    import os

    pkg = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                       "instructionspipe_spark")
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, os.path.join(pkg, ".."))
        with open(path) as f:
            hard.extend(lint_spark_source(rel, f.read()))
    for name, fn in QUERIES.items():
        try:
            src = inspect.getsource(fn)
        except (OSError, TypeError):
            continue
        if name in ORACLES:
            od = round_digit_multiset(ORACLES[name], spark=False)
            sd = round_digit_multiset(src, spark=True)
            if od and sd and od != sd and verbose:
                warns.append(f"{name}: oracle ROUND digits {od} vs Spark {sd}")

    for w in warns:
        print(f"WARN {w}")
    if hard:
        for h in hard:
            print(f"FAIL {h}")
        print(f"\n{len(hard)} hard finding(s)")
        return 1
    print(f"oracle_lint: clean ({len(ORACLES)} oracles, {len(QUERIES)} queries)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
