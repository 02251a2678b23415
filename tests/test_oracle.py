"""The in-repo mirror of the driver's correctness gate: run every
`queries()[name]` and its `oracle_sql()[name]` side by side via DuckDB and
compare row count + sorted values. Runs at sf0.001 by default (fast);
set SPARK_GRAFT_TEST_SF=/root/testdata/sf0.01 to mirror the driver exactly.
"""

from __future__ import annotations

import math

import duckdb
import pytest

from vector_database_app_spark.oracles import ORACLE
from vector_database_app_spark.registry import QUERIES
from vector_database_app_spark.schemas import DRIVER_TABLES


def _duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in DRIVER_TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def _normalize(df):
    """Sort columns by name, then rows by all values, stringify floats to a
    fixed precision so -0.0/ulp noise can't differ (values are pre-rounded
    by the queries themselves — this is only canonicalization)."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].map(_canon)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def _canon(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "∅"
        if v == 0:
            v = 0.0
        return format(v, ".9g")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(str(_canon(x)) for x in v) + "]"
    if hasattr(v, "tolist"):  # numpy scalar/array
        return _canon(v.tolist())
    return str(v)


ORACLE_NAMES = sorted(set(QUERIES) & set(ORACLE))
ROWS_ONLY_NAMES = sorted(set(QUERIES) - set(ORACLE))


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_match(spark, sf_dir, name):
    got = QUERIES[name](spark, sf_dir).toPandas()
    con = _duck(sf_dir)
    want = con.execute(ORACLE[name]).fetchdf()
    assert sorted(got.columns) == sorted(want.columns), (
        f"column mismatch: spark={sorted(got.columns)} duck={sorted(want.columns)}"
    )
    assert len(got) == len(want), f"row count: spark={len(got)} duck={len(want)}"
    # dtype-KIND parity: the driver hashes raw pandas values, where int64
    # 2279 and float64 2279.0 hash differently even though the stringified
    # compare below can't tell them apart (round-1 pivot_wide red row:
    # DuckDB HUGEINT→float64 vs Spark bigint). Catch it here, not at the
    # driver.
    kind_mism = [
        (c, str(got[c].dtype), str(want[c].dtype))
        for c in sorted(got.columns)
        if got[c].dtype.kind != want[c].dtype.kind
    ]
    assert not kind_mism, f"pandas dtype-kind mismatch (driver hash would differ): {kind_mism}"
    g, w = _normalize(got), _normalize(want)
    mism = (g != w).any(axis=1)
    if mism.any():
        idx = mism[mism].index[:5]
        raise AssertionError(
            f"value mismatch in {name} ({int(mism.sum())} rows), first rows:\n"
            f"spark:\n{g.loc[idx]}\nduck:\n{w.loc[idx]}"
        )


@pytest.mark.parametrize("name", ROWS_ONLY_NAMES)
def test_rows_only_runs(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0
