"""Vector expressions over array<float>/array<double> embedding columns.

Built-in higher-order functions (zip_with / aggregate) keep the math
JVM-side with no Python per row — but NOT whole-stage-codegen'd:
Catalyst interprets HOF lambdas per element (measured in
operators/similarity.py: the expression path loses to an Arrow matmul
~2x at 5000x64), so these expressions are the right default for
dimension-table-sized inputs and for staying UDF-free, while corpus-
sized hot paths should prefer the Arrow kernels (``lsh_band_buckets``,
``quantize_int8_arrow``). Elements are upcast to double before
accumulation so results are reproducible and match a sequential-
summing SQL oracle exactly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .scalars import ColumnOrName, _col


def dot(a: ColumnOrName, b: ColumnOrName) -> Column:
    prods = F.zip_with(_col(a), _col(b), lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: ColumnOrName) -> Column:
    col = _col(a)
    sq = F.aggregate(
        col, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    )
    return F.sqrt(sq)


def cosine(a: ColumnOrName, b: ColumnOrName) -> Column:
    d = norm(a) * norm(b)
    return F.when(d > 0, dot(a, b) / d).otherwise(F.lit(0.0))


def l2_normalize(a: ColumnOrName) -> Column:
    """Unit-normalize an embedding (array<double> out); zero vectors
    pass through unchanged (no division by zero). Upstream of cosine
    retrieval this turns dot product into cosine similarity — the
    standard pre-index step."""
    col = _col(a)
    n = norm(col)
    return F.when(
        n > 0, F.transform(col, lambda x: x.cast("double") / n)
    ).otherwise(F.transform(col, lambda x: x.cast("double")))


def quantize_int8(a: ColumnOrName, scale: Column | None = None) -> Column:
    """Symmetric int8 quantization of an embedding: each element maps
    to floor(x / scale * 127 + 0.5) clamped to [-127, 127], with
    ``scale`` defaulting to the vector's max |x| (per-row dynamic
    range — the usual choice when no global calibration pass exists).
    floor(+0.5) is used instead of round() so the halfway rule is
    identical in every engine (round() half-even vs half-away differs
    across engines); all arithmetic is exact-double.

    8× smaller vectors for ANN candidate generation; exact re-rank
    stays on the float column."""
    col = _col(a)
    s = scale if scale is not None else F.aggregate(
        col, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x.cast("double")))
    )
    q = F.transform(
        col,
        lambda x: F.greatest(
            F.lit(-127),
            F.least(
                F.lit(127),
                F.floor(x.cast("double") / s * 127 + F.lit(0.5)).cast("int"),
            ),
        ),
    )
    zeros = F.transform(col, lambda x: F.lit(0))
    return F.when(s > 0, q).otherwise(zeros)


def quantize_int8_arrow(a: ColumnOrName) -> Column:
    """Arrow-kernel twin of ``quantize_int8`` that also emits the l2
    norm: one vectorized numpy pass per batch returning
    ``struct<l2_norm: double, q8: array<int>>``.

    Same arithmetic contract as the expression path — per-row
    dynamic-range scale max|x|, floor(x/scale*127 + 0.5) clamped to
    [-127, 127], all in IEEE double — so both paths (and any SQL
    oracle using the same formula) agree bit-for-bit; numpy just does
    the identical elementwise double ops in one C loop. Preferred on
    corpus-sized inputs: Catalyst interprets HOF lambdas per element
    (~K*D ops/row on the expression path), while this kernel is one
    matmul-shaped batch op (measured at sf0.1, 5000x64: expression
    chain 1.07s end-to-end vs 0.26s Arrow)."""

    @F.pandas_udf("struct<l2_norm: double, q8: array<int>>")
    def _quant(v):
        import numpy as np
        import pandas as pd

        if len(v) == 0:
            return pd.DataFrame({"l2_norm": [], "q8": []})
        M = np.stack(v.to_numpy()).astype(np.float64)
        norms = np.sqrt((M * M).sum(axis=1))
        sc = np.abs(M).max(axis=1)
        safe = np.where(sc > 0, sc, 1.0)
        q = np.floor(M / safe[:, None] * 127.0 + 0.5)
        q = np.clip(q, -127, 127).astype(np.int32)
        q[sc <= 0] = 0
        return pd.DataFrame(
            {"l2_norm": norms, "q8": [row.tolist() for row in q]}
        )

    return _quant(_col(a))
