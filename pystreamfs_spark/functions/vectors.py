"""Vector math over array<float/double> columns — JVM-side, no Python in
the hot path.

Every function is a higher-order-function fold (``aggregate`` /
``zip_with``), which works for any array length and casts each element to
double before multiplying. Operands are ``Column | str``: a string is a
column name.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(x: "Column | str") -> Column:
    return F.col(x) if isinstance(x, str) else x


def dot(a: "Column | str", b: "Column | str") -> Column:
    # cast BEFORE multiplying: float32 inputs must not multiply in float32
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: "Column | str") -> Column:
    return F.sqrt(
        F.aggregate(_c(a), F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def cosine(a: "Column | str", b: "Column | str") -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_with_norms(a: "Column | str", b: "Column | str", na: Column, nb: Column) -> Column:
    """cosine(a, b) with caller-precomputed norms — bit-identical to
    :func:`cosine` (same dot fold, same ``na * nb`` product order), but a
    pair join can fold each row's norm ONCE instead of once per partner:
    3 array folds per pair drop to 1. Pass ``na = norm(a)`` computed on
    the pre-join side."""
    return dot(a, b) / (na * nb)
