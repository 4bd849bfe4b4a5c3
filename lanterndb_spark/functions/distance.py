"""Vector distance functions as pure Catalyst column expressions.

Reference semantics (lanterndata/lantern):
- ``l2sq_dist`` is SQUARED euclidean distance, no sqrt
  (lantern_hnsw/src/hnsw.c:354-360).
- ``cos_dist`` is cosine *distance* = 1 - cosine similarity
  (lantern_hnsw/src/hnsw.c:362-368).
- ``hamming_dist`` operates on integer[] where every int32 element
  contributes 32 bits, i.e. total bit dim = len * 32
  (lantern_hnsw/src/hnsw.c:308-319, 370-376).
- Dimension mismatch is an error in the reference (hnsw.c:300-303); here
  ``zip_with`` pads with NULL which propagates to a NULL distance — use
  :func:`check_dims` in pipelines that need the hard failure.

Everything here is built from ``zip_with``/``aggregate``/``bit_count`` so
the whole expression stays JVM-side — no Python boundary in the hot path.
It is NOT compiled code, though: in Spark 4.1 ``ZipWith`` and
``ArrayAggregate`` are ``CodegenFallback`` expressions, so whole-stage
codegen calls back into their interpreted ``eval`` (a per-element lambda
fold) for every row. Elements are cast to double first so results are
bit-identical to a double-precision oracle (same sequential fold order).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Column | str


def _c(col: ColumnOrName) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _d(col: ColumnOrName) -> Column:
    """Cast a vector column to array<double> for stable arithmetic."""
    return _c(col).cast("array<double>")


def _fold_sum(arr: Column) -> Column:
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def l2sq_dist(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Squared euclidean distance (NO sqrt — matches lantern's ``<->``)."""
    return _fold_sum(F.zip_with(_d(a), _d(b), lambda x, y: (x - y) * (x - y)))


def l2_dist(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Euclidean distance (pgvector-compatible convenience)."""
    return F.sqrt(l2sq_dist(a, b))


def inner_dist(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Negative inner product (pgvector ``<#>`` convention)."""
    return -_fold_sum(F.zip_with(_d(a), _d(b), lambda x, y: x * y))


def vector_norm(a: ColumnOrName) -> Column:
    return F.sqrt(_fold_sum(F.transform(_d(a), lambda x: x * x)))


def cos_dist(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Cosine distance = 1 - dot(a,b) / (|a|*|b|).

    Zero-norm inputs yield NULL (undefined angle). The guard matters
    under ANSI mode (Spark 4 default), where a bare division would
    RAISE on the first zero vector and kill the whole job.
    """
    dot = _fold_sum(F.zip_with(_d(a), _d(b), lambda x, y: x * y))
    denom = F.nullif(vector_norm(a) * vector_norm(b), F.lit(0.0))
    return F.lit(1.0) - dot / denom


def hamming_dist(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Bit-level hamming distance over int arrays (32 bits per element)."""
    xored = F.zip_with(
        _c(a).cast("array<int>"),
        _c(b).cast("array<int>"),
        # bit_count evaluates on the sign-extended 64-bit value, which would
        # count 64 bits for negative elements; mask to the low 32 bits so each
        # element contributes exactly 32 bits like the reference (hnsw.c:308-319)
        lambda x, y: F.bit_count(
            x.bitwiseXOR(y).cast("bigint").bitwiseAND(F.lit(0xFFFFFFFF))
        ),
    )
    return F.aggregate(xored, F.lit(0), lambda acc, x: acc + x).cast("int")


_METRICS = {
    "l2sq": l2sq_dist,
    "l2": l2_dist,
    "cos": cos_dist,
    "cosine": cos_dist,
    "hamming": hamming_dist,
    "inner": inner_dist,
}

# operator sugar, mirroring lantern_hnsw/sql/lantern.sql:32-45
_OPERATORS = {"<->": "l2sq", "<=>": "cos", "<+>": "hamming", "<#>": "inner"}


def distance(metric: str, a: ColumnOrName, b: ColumnOrName) -> Column:
    """Dispatch by metric name or operator sugar ('<->', '<=>', '<+>')."""
    metric = _OPERATORS.get(metric, metric)
    try:
        return _METRICS[metric](a, b)
    except KeyError:
        raise ValueError(f"unknown metric {metric!r}; one of {sorted(_METRICS)}")


def query_vec(vec, element_type: str = "double") -> Column:
    """Literal query vector as an array column."""
    return F.array([F.lit(x) for x in vec]).cast(f"array<{element_type}>")


def vector_dims(a: ColumnOrName) -> Column:
    return F.size(_c(a))


def check_dims(df, col: ColumnOrName, dim: int):
    """Pipeline-level dimension check (reference: CheckHnswIndexDimensions,
    lantern_hnsw/src/hnsw/build.c:339-352). Raises if any row mismatches."""
    bad = df.filter(F.size(_c(col)) != F.lit(dim)).limit(1).count()
    if bad:
        raise ValueError(f"vector column has rows with dimension != {dim}")
    return df
