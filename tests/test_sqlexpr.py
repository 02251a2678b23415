"""functions/sqlexpr: the one module that splices names and values into
generated SQL. Literal round trips, the merge chain over symbols that
need escaping, and source guards that keep the concern in that one
module. Identifier quoting is pinned in tests/test_optimizations_r12.py."""

from __future__ import annotations

import inspect
import math
import re
import struct
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from vector_database_app_spark import registry
from vector_database_app_spark.functions import sqlexpr, vector
from vector_database_app_spark.functions.sqlexpr import dlit, slit
from vector_database_app_spark.operators import (
    multimodal,
    pq,
    search,
    tokenize,
    unigram,
)

PKG = Path(__file__).resolve().parent.parent / "vector_database_app_spark"


def test_slit_matches_lit(spark):
    texts = ["don't", "a\\b", "\\'", "tab\there", "向量検索", "a\\%b_''"]
    row = spark.range(1).select(
        *[F.expr(slit(t)).alias(f"s{i}") for i, t in enumerate(texts)],
        *[F.lit(t).alias(f"l{i}") for i, t in enumerate(texts)],
    ).collect()[0]
    for i, t in enumerate(texts):
        assert row[f"s{i}"] == row[f"l{i}"] == t


def test_dlit_round_trips_bit_exact(spark):
    values = [-0.0, 5e-324, 1.0 / 3.0, 1e308]
    row = spark.range(1).select(
        *[F.expr(dlit(v)).alias(f"v{i}") for i, v in enumerate(values)]
    ).collect()[0]
    for i, v in enumerate(values):
        assert struct.pack(">d", row[f"v{i}"]) == struct.pack(">d", v)
    assert math.copysign(1.0, row["v0"]) == -1.0


def test_apply_merges_sql_chain_escapes_symbols(spark):
    """Symbols holding a quote or a backslash take the one-parse SQL
    chain and encode exactly as the per-node Column chain does."""
    merges = [
        {"left_sym": "n", "right_sym": "'"},
        {"left_sym": "n'", "right_sym": "t"},
        {"left_sym": "\\", "right_sym": "d"},
        {"left_sym": "a", "right_sym": "\\d"},
    ]
    words = ["don't", "n'n't", "a\\d", "\\d\\d", "plain", "'\\"]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    column_chain = F.split("w", "")
    for m in merges:
        column_chain = tokenize.merge_step_expr(
            column_chain, m["left_sym"], m["right_sym"]
        )
    rows = df.select(
        "w",
        tokenize.apply_merges_expr("split(w, '')", merges).alias("sql"),
        column_chain.alias("col"),
    ).collect()
    assert all(r.sql == r.col for r in rows), rows
    got = {r.w: r.sql for r in rows}
    assert got["don't"] == ["d", "o", "n't"]
    assert got["a\\d"] == ["a\\d"]


#: names the helpers replaced; none may come back
_RETIRED = re.compile(r"\b(_dlit|_SQL_SAFE_SYM|_IDENT|_ident)\b|CAST\('\{")


def test_generated_sql_literals_live_in_sqlexpr_only():
    home = PKG / "functions" / "sqlexpr.py"
    hits = [
        f"{path.relative_to(PKG)}:{n}: {line.strip()}"
        for path in sorted(PKG.rglob("*.py"))
        if path != home
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if _RETIRED.search(line)
    ]
    assert not hits, hits


@pytest.mark.parametrize(
    "fn",
    [
        vector._dot_sql,
        vector._cosine_sql,
        vector.dot_unrolled_sql,
        search._srp_bucket,
        search.pca_project_expr,
        search.pca_search,
        pq._l2_argmin_code,
        pq.pq_encode,
        tokenize.merge_step_sql,
        unigram.match_fold_expr,
        multimodal.image_near_dups,
        registry._opq_rotate_expr,
    ],
    ids=lambda fn: f"{fn.__module__.rsplit('.', 1)[-1]}.{fn.__name__}",
)
def test_generated_sql_sites_call_sqlexpr(fn):
    helpers = {"ident", "dlit", "slit", "fold_dot"}
    called = set(re.findall(r"\b(\w+)\(", inspect.getsource(fn)))
    assert called & helpers, fn.__qualname__
    for name in called & helpers:
        assert fn.__globals__[name] is getattr(sqlexpr, name)
