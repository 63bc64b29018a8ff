"""Vanilla-session contract: every gated query must run on a BARE
SparkSession with default confs, because the driver's correctness gate
builds its own session (no get_spark). Round 1 lost 13/50 gate rows to
queries that silently assumed get_spark()'s confs (nanosAsLong at session
build; an 'm'-only broadcast-threshold parser vs the default "10485760b").

The bare session must live in a separate JVM — in-process getOrCreate would
reuse the suite's configured session — so the contract test shells out.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from instructionspipe_spark.session import parse_byte_string

SF_DIR = "/root/testdata/sf0.001"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# One query per round-1 failure class: broadcast_if_small threshold parsing
# (q3), events.parquet nanos timestamps (group_counts, tumbling_window_agg),
# and the newly-gated deterministic IVF.
_PROBE = """
import sys
sys.path.insert(0, REPO)
from pyspark.sql import SparkSession

spark = SparkSession.builder.master("local[2]").appName("vanilla-probe").getOrCreate()
assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == "10485760b", (
    "probe invalid: session is not vanilla"
)

import __spark_entry__ as entry

queries = entry.queries()
for name in ("q3_top_orders", "group_counts", "tumbling_window_agg", "similarity_ivf_topk"):
    n = queries[name](spark, SF_DIR).count()
    print(name, n)
    assert n > 0, name
print("VANILLA_OK")

# Differential fuzz on the SAME bare session: the suite's fuzzer otherwise
# only ever sees get_spark()'s confs, which is exactly how the round-1
# vanilla-session crashes slipped through to the driver's gate.
import os
import random

import duckdb

from instructionspipe_spark.catalog import register_views
from tests.conftest import assert_df_equal
from tests.test_sql_fuzz import gen_join_query, gen_query

register_views(spark, SF_DIR)
con = duckdb.connect()
for name in "region nation customer supplier part orders lineitem events documents embeddings".split():
    p = os.path.join(SF_DIR, name + ".parquet")
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
rng = random.Random(4242)
for sql in [gen_query(rng) for _ in range(4)] + [gen_join_query(rng) for _ in range(3)]:
    assert_df_equal(spark.sql(sql), con.query(sql)), sql
print("FUZZ_VANILLA_OK")
"""


def test_gated_queries_on_bare_session():
    probe = f"SF_DIR = {SF_DIR!r}\nREPO = {REPO!r}\n" + _PROBE
    proc = subprocess.run(
        [sys.executable, "-c", probe],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "VANILLA_OK" in proc.stdout, f"stdout:\n{proc.stdout}\nstderr:\n{proc.stderr[-3000:]}"
    assert "FUZZ_VANILLA_OK" in proc.stdout, f"stdout:\n{proc.stdout}\nstderr:\n{proc.stderr[-3000:]}"


@pytest.mark.parametrize(
    "raw,expected",
    [
        ("10485760b", 10485760),
        ("10485760", 10485760),
        ("64m", 64 * 1024**2),
        ("64mb", 64 * 1024**2),
        ("1g", 1024**3),
        ("2gb", 2 * 1024**3),
        ("512k", 512 * 1024),
        ("512kb", 512 * 1024),
        ("1t", 1024**4),
        ("-1b", -1),
        ("-1", -1),
        (" 10 m ", 10 * 1024**2),
        ("garbage", 10 * 1024**2),  # fallback default
        (None, 10 * 1024**2),
    ],
)
def test_parse_byte_string(raw, expected):
    assert parse_byte_string(raw) == expected
