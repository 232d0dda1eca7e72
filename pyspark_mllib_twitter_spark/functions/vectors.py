"""Vector math over ``array<float|double>`` columns — pure ``pyspark.sql.functions``.

The reference computes cosine similarity as a Python ``Vector.dot`` inside an
RDD UDF against a driver-broadcast dict (``/root/reference/COMP5349_2.py:29-47``).
Here the same math is expressed with JVM-side higher-order functions
(``zip_with`` + ``aggregate``), with no Python boundary at all. Lambda
higher-order functions are ``CodegenFallback`` expressions: whole-stage
codegen calls their interpreted ``eval`` per row, so their cost grows with
the array length. Embeddings stay ``array<double>`` (not VectorUDT) so they
are SQL-native, Arrow-transferable, and oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double_array(col: Column | str) -> Column:
    """Cast array<float> → array<double> so sums accumulate in fp64 (matches
    the DuckDB oracle, which we also force to DOUBLE[])."""
    return F.col(col).cast("array<double>") if isinstance(col, str) else col.cast("array<double>")


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product of two numeric array columns (left-fold, in array order)."""
    a, b = as_double_array(a), as_double_array(b)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def nonzeros(a: Column | str) -> Column:
    """The nonzero entries of a numeric array column as
    ``array<struct<i int, x double>>`` (0-based index, value), in array
    order. Compute it once per row and fold it many times with
    :func:`sparse_dot`."""
    a = as_double_array(a)
    return F.filter(
        F.transform(a, lambda x, i: F.struct(i.alias("i"), x.alias("x"))),
        lambda e: e["x"] != 0.0,
    )


def sparse_dot(nz: Column, b: Column | str) -> Column:
    """``dot(a, b)`` from ``nz = nonzeros(a)``, bit for bit: the left fold
    adds the nonzero terms in the same array order, and each term the dense
    fold adds besides them is a signed zero, which leaves an accumulator
    that starts at ``+0.0`` unchanged (``b`` finite). The fold runs over
    ``nz``'s entries, not over ``b``'s full length."""
    b = as_double_array(b)
    return F.aggregate(
        nz,
        F.lit(0.0),
        lambda acc, e: acc + e["x"] * F.get(b, e["i"]),
    )


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; null-safe denominator (0-vector → NULL)."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom != 0, dot(a, b) / denom)


def l2_normalize(a: Column | str) -> Column:
    """L2-normalize an array column (the Normalizer(p=2) semantics of
    COMP5349_2.py:174-178, minus the VectorUDT detour)."""
    a = as_double_array(a)
    n = l2_norm(a)
    return F.when(n != 0, F.transform(a, lambda x: x / n)).otherwise(a)
