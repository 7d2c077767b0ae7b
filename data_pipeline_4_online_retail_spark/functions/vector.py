"""Vector math over ``array<float>`` embedding columns.

Two forms of the same left-fold arithmetic:

- built-in higher-order functions (``zip_with`` + ``aggregate``): no
  Python worker and no serialization, but Spark evaluates their lambdas
  interpreted (``CodegenFallback``), one dispatch per element; fine for
  cosine against one query vector;
- Arrow-batched pandas UDFs that fold dim by dim, vectorized across the
  batch's rows: :func:`matrix_fold_udf` (every row against a fixed
  matrix: k-means centroids, PQ codebooks, LSH hyperplanes) and
  :func:`dot_product_seq_udf` (two columns, pair by pair). Each keeps the
  fold's addition order, so its doubles are bit-identical to the
  higher-order-function form and to the DuckDB oracle twins.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


NANO_SCALE = 1e9  # exactly representable: 10^9 < 2^53


def nano_units(col: str | Column) -> Column:
    """Engine-mirrored quantization of a float/double to integer
    nano-units: ``floor(|v| * 1e9 + 0.5)`` in IEEE double, sign applied
    (round-half-away, like HALF_UP). Replaces ``cast(decimal(18,9))``
    in cross-engine mean aggregates (r8): Spark's double→decimal cast
    rounds HALF_UP on the exact value while DuckDB's rounds half-even,
    and float32 data CAN land exactly on a half boundary (0.1494140625
    · 1e9 = 149414062.5 — a real sf0.1 embedding value that split the
    engines). This formula is the SAME double multiply/add/floor on
    both sides, so the result is bit-identical by construction — no
    margin argument needed. DuckDB twin: :data:`NANO_UNITS_SQL`."""
    vd = _c(col).cast("double")
    pos = F.floor(vd * F.lit(NANO_SCALE) + F.lit(0.5))
    neg = -F.floor(-vd * F.lit(NANO_SCALE) + F.lit(0.5))
    return F.when(vd >= 0, pos).otherwise(neg).cast("long")


# DuckDB twin of nano_units — format with the value expression, e.g.
# NANO_UNITS_SQL.format(v="CAST(val AS DOUBLE)"). floor() returns DOUBLE
# in DuckDB; the BIGINT cast of an exact integer double is exact.
NANO_UNITS_SQL = (
    "(CASE WHEN {v} >= 0 THEN CAST(floor({v} * 1e9 + 0.5) AS BIGINT) "
    "ELSE -CAST(floor(-({v}) * 1e9 + 0.5) AS BIGINT) END)"
)


def nano_mean(col: str | Column) -> Column:
    """Order-independent exact mean of nano-quantized values, returned
    as double: ``CAST(SUM(nano) AS DOUBLE) / 1e9 / COUNT(*)`` with the
    sum carried in decimal(38,0) (exact at any scale; the double cast
    of the exact integer sum is the single rounding both engines
    share). DuckDB twin: :data:`NANO_MEAN_SQL` (SUM(BIGINT) → HUGEINT
    is exact there)."""
    s = F.sum(nano_units(col).cast("decimal(38,0)")).cast("double")
    return s / F.lit(NANO_SCALE) / F.count(F.lit(1))


NANO_MEAN_SQL = (
    "(CAST(SUM(" + NANO_UNITS_SQL + ") AS DOUBLE) / 1e9 / COUNT(*))"
)


def nano_units_py(v: float) -> int:
    """Python replica of :func:`nano_units` (same IEEE double ops)."""
    import math

    if v >= 0:
        return math.floor(v * NANO_SCALE + 0.5)
    return -math.floor(-v * NANO_SCALE + 0.5)


def dot_product(a: str | Column, b: str | Column) -> Column:
    """Σ aᵢ·bᵢ as double."""
    prods = F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def dot_chain(a: str | Column, b: str | Column, dim: int) -> Column:
    """Σ aᵢ·bᵢ as double for a KNOWN fixed dimension, spelled as a
    positional ``element_at`` chain (r13): the higher-order-function
    fold in :func:`dot_product` evaluates through the interpreted
    CodegenFallback path, paying per-element lambda dispatch — on a
    pairwise join that is dispatch × dim × |pairs|. The chain's
    left-to-right additions reproduce the fold's summation order
    exactly (the fold's extra 0.0 seed can only flip the sign of a zero
    result — invisible to any magnitude comparison). CALLERS must guard
    on ``size(a) == dim AND size(b) == dim`` and fall back to
    :func:`dot_product` otherwise — ``element_at`` past the end would
    silently NULL the sum."""
    ca, cb = _c(a), _c(b)

    def term(i: int) -> Column:
        return F.element_at(ca, i).cast("double") * F.element_at(cb, i).cast(
            "double"
        )

    s = term(1)
    for i in range(2, dim + 1):
        s = s + term(i)
    return s


def l2_norm(a: str | Column) -> Column:
    """‖a‖₂ as double."""
    return F.sqrt(
        F.aggregate(
            _c(a), F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine_similarity(a: str | Column, b: str | Column) -> Column:
    """cos(a, b); NULL-safe only insofar as inputs are non-null arrays.
    Zero vectors yield NULL (division by zero → NULL in non-ANSI mode)."""
    return dot_product(a, b) / (l2_norm(a) * l2_norm(b))


def dot_product_seq_udf():
    """Arrow-batched dot product with the EXACT fold semantics of
    :func:`dot_product`: the accumulation runs dim-by-dim left-to-right
    (vectorized across rows, sequential across dims), so every row's
    float result is bit-identical to the interpreted higher-order-
    function fold — at ~3x the throughput, because the HOF path pays
    per-element lambda dispatch while this pays one numpy op per dim
    per batch. Use in pair-heavy plans (candidate verification joins);
    the HOF form remains the dependency-free default for per-vector
    work. ``tests/test_dedup.py::test_semantic_dedup_udf_twin_exact``
    pins UDF == fold on real data."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    @F.pandas_udf(T.DoubleType())
    def dot_seq(a, b):
        if len(a) == 0:  # a zero-row Arrow batch yields shape (0,) below
            return pd.Series([], dtype=np.float64)
        mat_a = np.array(a.tolist(), dtype=np.float64)
        mat_b = np.array(b.tolist(), dtype=np.float64)
        # ragged embedding lengths would build 1-D object arrays and
        # silently compute garbage — fail loudly instead
        if mat_a.ndim != 2 or mat_b.ndim != 2:
            raise ValueError(
                f"embeddings must be fixed-width: got shapes "
                f"{mat_a.shape} / {mat_b.shape}"
            )
        acc = np.zeros(len(mat_a), dtype=np.float64)
        for d in range(mat_a.shape[1]):
            acc = acc + mat_a[:, d] * mat_b[:, d]
        return pd.Series(acc)

    return dot_seq


def matrix_fold(x, w, op: str):
    """(rows of ``x``) x (rows of ``w``) accumulators of a left fold over
    the dims, starting from 0.0: ``acc + x[d] * w[d]`` for ``op="dot"``,
    ``acc + (x[d] - w[d]) ** 2`` (as ``t * t``) for ``op="l2"``. Each
    step is one numpy op over all (row, matrix row) pairs and the dims
    run in order, so every entry is the double the scalar fold gives."""
    import numpy as np

    acc = np.zeros((len(x), len(w)), dtype=np.float64)
    for d in range(x.shape[1]):
        if op == "dot":
            acc = acc + x[:, d : d + 1] * w[:, d]
        else:
            t = x[:, d : d + 1] - w[:, d]
            acc = acc + t * t
    return acc


def matrix_fold_udf(mats: list, op: str, bits: int = 0):
    """Arrow-batched pandas UDF over an ``array<float>`` column that folds
    each row against fixed matrices held in its closure.

    ``mats`` holds one matrix (rows of Python floats) per contiguous
    slice of the embedding, in order; the slice widths are the matrices'
    widths and must add up to the embedding's. Slice ``b`` is widened to
    double and folded against every row of ``mats[b]`` by
    :func:`matrix_fold` with ``op``. The result is one array per row:

    - ``bits == 0``: ``array<int>``, per slice the index of the matrix
      row with the smallest accumulator, the first one on a tie
      (k-means assignment, PQ codes);
    - ``bits > 0``: ``array<bigint>``, per run of ``bits`` consecutive
      matrix rows one bucket whose bit j is ``acc > 0`` for the run's
      row j (LSH sign-bit buckets, one per table).

    Ragged or mis-sized embeddings raise instead of computing garbage."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    ws = [np.asarray(m, dtype=np.float64) for m in mats]
    width = sum(w.shape[1] for w in ws)
    weights = np.left_shift(np.int64(1), np.arange(bits, dtype=np.int64))
    elem = T.LongType() if bits else T.IntegerType()

    @F.pandas_udf(T.ArrayType(elem))
    def fold(col):
        # no type hints: under postponed annotations pandas_udf cannot
        # read them from a closure
        if len(col) == 0:
            return pd.Series([], dtype=object)
        x = np.vstack(col.to_numpy()).astype(np.float64)
        if x.shape[1] != width:
            raise ValueError(f"embeddings have {x.shape[1]} dims, matrices {width}")
        out, lo = [], 0
        for w in ws:
            acc = matrix_fold(x[:, lo : lo + w.shape[1]], w, op)
            lo += w.shape[1]
            if bits:
                out.append((acc.reshape(len(x), -1, bits) > 0) @ weights)
            else:
                out.append(np.argmin(acc, axis=1)[:, None].astype(np.int32))
        return pd.Series(list(np.hstack(out)))

    return fold
