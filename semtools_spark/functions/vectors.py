"""JVM-side vector math over array<float>/array<double> columns.

For small fixed dims (testdata embeddings are 64-dim) these stay inside
whole-stage codegen — no Python boundary. The pandas-UDF variants in
embedding.py are for the hot embed path where a matmul per Arrow batch wins.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def vector_literal(vec) -> Column:
    """array<double> literal from a Python/NumPy vector."""
    return F.array(*[F.lit(float(x)) for x in vec])


def dot_expr(a: str, b: str) -> Column:
    """Sequential-fold dot product (deterministic summation order —
    matches a left-to-right fold in the oracle)."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"0.0D, (acc, v) -> acc + v)"
    )


def l2_norm_expr(a: str) -> Column:
    return F.sqrt(
        F.expr(f"aggregate({a}, 0.0D, (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))")
    )


def _unrolled_cosine_sql(a: str, b: str, dim: int) -> str:
    """Fixed-dim cosine distance with the summation UNROLLED into plain
    element arithmetic. Spark's higher-order functions (aggregate /
    zip_with) are CodegenFallback — every row pays an interpreted
    per-element lambda walk — while GetArrayItem + arithmetic stay inside
    whole-stage codegen (guide §4.1: prefer built-ins/codegen over
    interpreted paths). Bit-identical to the fold: IEEE addition is
    evaluated in the same left-to-right order (``t0 + t1 + …`` associates
    left, and the fold's leading ``0.0 + t0`` equals ``t0`` for every
    input except ``-0.0``, whose sign cannot survive into
    ``1 - num/den`` anyway), and NULL/NaN propagation reaches the same
    ``CASE WHEN den > 0`` guard."""
    num = " + ".join(
        f"(CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE))" for i in range(dim)
    )
    na = " + ".join(
        f"(CAST({a}[{i}] AS DOUBLE) * CAST({a}[{i}] AS DOUBLE))" for i in range(dim)
    )
    nb = " + ".join(
        f"(CAST({b}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE))" for i in range(dim)
    )
    den = f"(SQRT({na}) * SQRT({nb}))"
    return (
        f"CASE WHEN {den} > 0 THEN CAST(1.0 AS DOUBLE) - ({num}) / {den} "
        f"ELSE CAST(1.0 AS DOUBLE) END"
    )


def cosine_distance_expr(a: str, b: str, dim: int | None = None) -> Column:
    """1 − cosine similarity; 1.0 when either norm is zero.

    ``dim`` (optional) enables the unrolled whole-stage-codegen form for
    vectors statically known to have that length; rows whose arrays do
    NOT match ``dim`` fall back to the fold lazily per row, so the output
    is bit-identical to the dim=None path for every input."""
    num = dot_expr(a, b)
    den = l2_norm_expr(a) * l2_norm_expr(b)
    fold = F.when(den > 0, F.lit(1.0) - num / den).otherwise(F.lit(1.0))
    if dim is None:
        return fold
    guard = (F.expr(f"size({a})") == dim) & (F.expr(f"size({b})") == dim)
    return F.when(guard, F.expr(_unrolled_cosine_sql(a, b, dim))).otherwise(fold)


def dot_sql_duckdb(a: str, b: str) -> str:
    """DuckDB rendering of dot_expr. list_reduce is a sequential left fold,
    matching Spark's aggregate() summation order bit-for-bit — required so
    floor(dist·1e6) integerization agrees across engines."""
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}), "
        f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)"
    )


def cosine_distance_sql_duckdb(a: str, b: str) -> str:
    num = dot_sql_duckdb(a, b)
    na = f"sqrt({dot_sql_duckdb(a, a)})"
    nb = f"sqrt({dot_sql_duckdb(b, b)})"
    return f"(CASE WHEN {na} * {nb} > 0 THEN 1.0 - ({num}) / ({na} * {nb}) ELSE 1.0 END)"
