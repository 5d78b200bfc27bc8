"""Vector expressions over array<float>/array<double> embedding columns.

Built-in higher-order functions (zip_with / aggregate) keep the math
JVM-side with no Python per row — but NOT whole-stage-codegen'd:
Catalyst interprets HOF lambdas per element (measured: expression LSH
bucketing lost to an Arrow matmul ~2x at 5000x64), so these
expressions are the right default for dimension-table-sized inputs
and for staying UDF-free, while corpus-sized hot paths should prefer
the Arrow kernels (``lsh_band_buckets``, ``quantize_int8``). Elements
are upcast to double before accumulation so results are reproducible
and match a sequential-summing SQL oracle exactly.
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


def quantize_int8(a: ColumnOrName) -> Column:
    """Symmetric int8 quantization of an embedding plus its l2 norm, as
    one vectorized numpy pass per Arrow batch returning
    ``struct<l2_norm: double, q8: array<int>>``.

    Each element maps to floor(x / scale * 127 + 0.5) clamped to
    [-127, 127], with ``scale`` the vector's max |x| (per-row dynamic
    range); a zero vector quantizes to zeros. floor(+0.5) instead of
    round() keeps the halfway rule identical in every engine (round()
    half-even vs half-away differs), and all arithmetic is IEEE
    double, so a SQL oracle using the same formula agrees
    bit-for-bit. The Arrow kernel replaced a zip_with/transform
    expression chain: Catalyst interprets HOF lambdas per element
    (measured at sf0.1, 5000x64: expression chain 1.07s end-to-end vs
    0.26s Arrow)."""

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
