"""Vector math as pure Column expressions (JVM-side, codegen-friendly).

The reference hand-rolls these per app over ``TreeMap<Integer,Double>``:
cosine similarity (incr-hadoop-0.1/src/examples/org/apache/hadoop/examples/
iterative/IterKmeans.java:295-310). Here they are ``zip_with`` + ``aggregate`` over ``array<T>``
columns — no Python UDF in the hot path, so whole-stage codegen applies and
the expressions scale with executor count, not driver throughput.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Σ a_i * b_i over two equal-length array columns (double result)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm2(a: Column) -> Column:
    """L2 norm of an array column."""
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; 0.0 for zero-norm inputs (reference convention:
    IterKmeans.java:295-310 divides only when norms are positive)."""
    denom = norm2(a) * norm2(b)
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))


def unit(a: Column, norm_col: Column) -> Column:
    """Element-wise a / |a| given a precomputed norm column; all-zeros for
    zero-norm input, so a plain ``dot`` of two unit vectors reproduces
    ``cosine``'s 0.0 zero-norm convention. The norm MUST be a plain bound
    column (not an inline aggregate): a captured aggregate expression
    inside the transform lambda would re-evaluate per element."""
    return F.when(
        norm_col > 0,
        F.transform(a, lambda x: x.cast("double") / norm_col),
    ).otherwise(F.transform(a, lambda x: F.lit(0.0)))
