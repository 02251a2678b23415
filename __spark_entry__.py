"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship RAG-shaped query (SURVEY §3.1 / §7.1) at
sf0.001; `queries()` / `oracle_sql()` expose the SURVEY §2 operator
inventory: the Spark queries live in `vector_database_app_spark/registry.py`
and their DuckDB oracle SQL in `vector_database_app_spark/oracles/`.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from vector_database_app_spark.registry import QUERIES, TWINS  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    The reference's `run_search` lifecycle (rag_search/vector_db.py:615-671)
    re-expressed declaratively: query vector → exact top-k over the corpus →
    join hits to documents → deterministic summary aggregate.
    """
    return QUERIES["rag_topk_summary"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for each oracle-checkable query; entries absent
    here (LSH/minhash internals, Arrow UDF stages) are rows-only by design."""
    from vector_database_app_spark.oracles import ORACLE

    return dict(ORACLE)


def twins() -> dict[str, dict[str, str]]:
    """Rows-only → value-oracled-twin map: for every `queries()` key with
    no `oracle_sql()` entry, the value-oracled query covering the closest
    checkable slice of its semantics (`twin`) and why the query itself
    cannot carry a cross-engine value oracle (`reason`). Mechanically
    checkable: keys == queries() − oracle_sql(); every `twin` is a live
    oracle_sql() key (asserted in tests/test_driver_compat.py)."""
    return {k: dict(v) for k, v in TWINS.items()}
