"""The one way to splice names and values into generated SQL.

Hot expressions (cosine/dot, the PQ/PCA/SRP literal trees, the BPE and
unigram encode chains) are emitted as ONE SQL string parsed by a single
``F.expr`` call instead of one py4j round trip per Column-API node
(PERF.md r7/r12). Every caller's column name, Python float and learned
string reaches that text through these helpers, so quoting, escaping and
the strict-fold dot live in one place. Column names are always quoted,
so reserved words (``order``) and literal-like names (``null``) resolve
as columns, exactly as ``F.col`` does.
"""

from __future__ import annotations


def ident(name: str) -> str:
    """``name`` as a quoted SQL identifier. A dotted name reads a struct
    field (or a qualified column) part by part, as ``F.col(name)`` does;
    backticks inside a part are doubled, so they name a literal backtick
    and never close the quote."""
    if not isinstance(name, str):
        raise TypeError(
            f"ident takes a column NAME; got {type(name).__name__}"
        )
    return ".".join(
        "`" + part.replace("`", "``") + "`" for part in name.split(".")
    )


def dlit(x: float) -> str:
    """Exact double literal: repr round-trips through Java
    Double.parseDouble bit-for-bit, and the CAST folds at plan time
    (ConstantFolding), so it is free at execution."""
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def slit(s: str) -> str:
    """String literal for any text: backslash and quote are escaped, so
    Spark's parser reads back exactly ``s``."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def fold_dot(a_sql: str, b_sql: str) -> str:
    """sum_i a[i]*b[i] folded strictly left to right from 0.0 — the
    element order the DuckDB oracles replay, so values are bit-identical
    across engines. Both arguments are SQL array expressions."""
    return (
        f"aggregate(zip_with({a_sql}, {b_sql}, (x, y) -> x * y), "
        f"{dlit(0.0)}, (acc, x) -> acc + x)"
    )
