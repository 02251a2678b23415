"""Vector math as Catalyst column expressions.

The reference computes similarity driver-side with scikit-learn over a
materialized (N, d) numpy matrix (`rag_search/vector_db.py:684-696` —
`cosine_similarity` + full `argsort`). Here the dot product / cosine are
higher-order-function expressions that run JVM-side inside the scan stage:
no Python boundary, no full materialization, and Catalyst can still push
metadata filters *below* the similarity projection.

All helpers cast to double before accumulating (the stored vectors are
float32) and fold strictly left-to-right in array order, which makes the
result bit-reproducible and directly comparable to an equivalent
strict-order SQL formulation in the DuckDB oracle.

At 100 TB these expressions are the *exact re-rank* half of the story; the
candidate-generation half (LSH / IVF) lives in ``operators.search``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .sqlexpr import dlit, fold_dot, ident


def _as_double(v: Column | str) -> Column:
    v = F.col(v) if isinstance(v, str) else v
    return v.cast("array<double>")


def _dot_sql(a: str, b: str) -> str:
    """The EXACT SQL text of the Column-API dot below — same functions,
    same strict left fold, same double casts — parsed in ONE py4j round
    trip instead of one per AST node. Building these trees through the
    Column API costs ~0.1 s of py4j chatter per cosine call site at
    query-construction time (profiled r12: 2 518 py4j commands for one
    ANN constructor, 0.89 s socket wait); the SQL string is ~75× cheaper
    to construct and resolves to the identical expression tree
    (collect-verified bit-equal on the embeddings corpus).

    Both names go through ``sqlexpr.ident``, so a column named like a
    literal or a keyword (``null``, ``order``) resolves as a column,
    exactly as ``F.col`` does."""
    return fold_dot(
        f"CAST({ident(a)} AS ARRAY<DOUBLE>)",
        f"CAST({ident(b)} AS ARRAY<DOUBLE>)",
    )


def _cosine_sql(a: str, b: str) -> str:
    d = _dot_sql(a, b)
    na = f"sqrt({_dot_sql(a, a)})"
    nb = f"sqrt({_dot_sql(b, b)})"
    return (
        f"CASE WHEN ({na} * {nb}) > {dlit(0.0)} "
        f"THEN {d} / ({na} * {nb}) ELSE {dlit(0.0)} END"
    )


def dot(a: Column | str, b: Column | str) -> Column:
    """Strict left-fold dot product: sum_i a[i]*b[i] in element order.

    Reference equivalent: the matmul inside sklearn cosine_similarity
    (`rag_search/vector_db.py:692`).
    """
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(_dot_sql(a, b))
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(v: Column | str) -> Column:
    return F.sqrt(dot(v, v))


def cosine(a: Column | str, b: Column | str) -> Column:
    """cosine = dot/(||a||*||b||). For vectors normalized at write time
    (write invariant, mirroring the reference's normalize-in-every-embedder,
    `rag_search/vector_db.py:460,488,506,525,543`) this equals `dot`, but we
    compute the full form so the operator is correct for any input.

    Zero-safe: a zero-norm side (the engine's OOV-only Word2Vec
    convention, quarantined rows) scores 0.0 — under Spark 4's default
    ANSI mode a bare division would raise DIVIDE_BY_ZERO and kill the
    whole search the first time an all-OOV query or chunk appears
    (advisor r3 finding). Values for nonzero vectors are bit-identical
    to the unguarded form."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(_cosine_sql(a, b))
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > F.lit(0.0), dot(a, b) / denom).otherwise(
        F.lit(0.0)
    )


def cosine_rounded(a: Column | str, b: Column | str, scale: int = 6) -> Column:
    """Cosine rounded to `scale` decimals — the determinism contract for
    oracle-checked queries (FIXTURES.md determinism rules): ranking and
    threshold predicates are evaluated on the *rounded* value so float
    last-ulp differences across engines cannot flip results."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(f"round({_cosine_sql(a, b)}, {int(scale)})")
    return F.round(cosine(a, b), scale)


def l2_normalize(v: Column | str) -> Column:
    """Normalize to unit length; zero vectors pass through unchanged."""
    n = l2_norm(v)
    vv = _as_double(v)
    return F.when(n > F.lit(0.0), F.transform(vv, lambda x: x / n)).otherwise(vv)


def int8_scale(v: Column | str) -> Column:
    """Symmetric int8 quantization scale: max|x| / 127 (0 for the zero
    vector so downstream division stays finite via nullif guards)."""
    vv = _as_double(v)
    return F.array_max(F.transform(vv, F.abs)) / F.lit(127.0)


def int8_quantize(v: Column | str, scale: Column) -> Column:
    """Quantize to int8 codes by TRUNCATION toward zero — both engines
    truncate identically (Spark double→long cast / DuckDB trunc), unlike
    round(), whose half-way ties break differently across engines."""
    vv = _as_double(v)
    return F.transform(
        vv, lambda x: (x / F.nullif(scale, F.lit(0.0))).cast("long")
    )


def int8_dequant_error(v: Column | str, scale: Column, rounding: int = 6) -> Column:
    """Max absolute reconstruction error |x - q*scale| of the int8
    round-trip — the quality metric that decides whether a corpus can
    serve ANN from quantized vectors (4x smaller scans) with exact
    re-rank on the float originals."""
    vv = _as_double(v)
    q = int8_quantize(v, scale)
    err = F.zip_with(vv, q, lambda x, c: F.abs(x - c * scale))
    return F.round(F.coalesce(F.array_max(err), F.lit(0.0)), rounding)


def dot_unrolled_sql(a: str, b: str, dim: int) -> str:
    """Flattened generated-SQL dot product over two NAMED array columns:
    ``a[1]*b[1] + a[2]*b[2] + ... + a[dim]*b[dim]`` as one left-assoc
    expression. Bit-identical to :func:`dot`'s sequential fold (IEEE
    addition performed in the same order: the fold computes
    ((0+x1)+x2)+... and 0+x1 == x1), but it stays inside whole-stage
    codegen instead of the per-element interpreted lambda evaluation
    higher-order functions pay — measured ~30× faster on the NSW edge
    build's pair scoring (operators/search.nsw_build), where the fold
    cost ~0.5 ms per 64-dim pair. Use for HOT pair-scoring loops; the
    Column-API fold stays the default elsewhere (compact plans, arbitrary
    Column inputs)."""
    a, b = ident(a), ident(b)
    terms = " + ".join(
        f"(CAST(element_at({a}, {i + 1}) AS DOUBLE) * "
        f"CAST(element_at({b}, {i + 1}) AS DOUBLE))"
        for i in range(dim)
    )
    return f"({terms})"
