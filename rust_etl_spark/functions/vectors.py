"""Embedding/vector column math — pure built-in higher-order functions.

Cosine similarity is computed with double-precision arithmetic from the
first multiply (float32 inputs are widened *before* the product) so the
Spark result and the DuckDB oracle agree to ~1e-13 relative; callers
round to a fixed number of digits before comparing or thresholding.

Scale: `F.zip_with` + `F.aggregate` run inside codegen per row — no
UDF, no Python. For top-k ANN the brute-force path is a broadcast of
the (tiny) query vector against a scan; the LSH/IVF paths bucket first
so the candidate set shrinks by orders of magnitude before any dot
product is evaluated.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def to_double_array(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sum of elementwise products, folded left-to-right in double."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


#: Digits every distance and similarity score is rounded to before any
#: comparison, threshold or ordering.
NDIGITS = 6


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two (already double) arrays, rounded to
    ``NDIGITS``.

    Portable half-up floor rounding: cosine is a
    DERIVED float, and round(double, n) is only empirically portable —
    the floor form agrees across engines by construction (negatives
    round half-toward-+inf identically on both)."""
    from rust_etl_spark.functions.rounding import round_half_up

    return round_half_up(dot(a, b) / (norm(a) * norm(b)), NDIGITS)


def l2sq(a: Column, b: Column) -> Column:
    """Squared L2 distance of two (already double) arrays, rounded to
    ``NDIGITS`` with portable half-up floor rounding (see
    :func:`cosine`). The IVF assignment kernels mirror this rounding
    bit for bit (distances are non-negative, so the
    half-toward-+inf caveat never applies)."""
    from rust_etl_spark.functions.rounding import round_half_up

    return round_half_up(
        F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda acc, x: acc + x),
        NDIGITS,
    )


def l2sq_sql(a_expr: str, b_expr: str) -> str:
    """DuckDB mirror of :func:`l2sq` — double-widened, same fold order,
    same floor-based rounding."""
    diff = (
        f"list_transform(range(1, len({a_expr}) + 1), "
        f"i -> (CAST(({a_expr})[i] AS DOUBLE) - CAST(({b_expr})[i] AS DOUBLE)) "
        f"* (CAST(({a_expr})[i] AS DOUBLE) - CAST(({b_expr})[i] AS DOUBLE)))"
    )
    from rust_etl_spark.functions.rounding import round_half_up_sql

    return round_half_up_sql(f"list_reduce({diff}, (acc, x) -> acc + x)", NDIGITS)


def cosine_sql(a_expr: str, b_expr: str) -> str:
    """DuckDB mirror of :func:`cosine` — double-widened, same rounding."""
    da = f"list_transform({a_expr}, x -> CAST(x AS DOUBLE))"
    db = f"list_transform({b_expr}, x -> CAST(x AS DOUBLE))"
    d = f"list_reduce(list_transform(range(1, len({a_expr}) + 1), i -> ({da})[i] * ({db})[i]), (acc, x) -> acc + x)"
    na = f"sqrt(list_reduce(list_transform({da}, x -> x * x), (acc, x) -> acc + x))"
    nb = f"sqrt(list_reduce(list_transform({db}, x -> x * x), (acc, x) -> acc + x))"
    from rust_etl_spark.functions.rounding import round_half_up_sql

    return round_half_up_sql(f"({d}) / (({na}) * ({nb}))", NDIGITS)
