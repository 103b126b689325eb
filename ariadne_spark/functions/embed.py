"""The embedding-score contract, written once for Spark, numpy and DuckDB.

Every embedding score in the engine (q21/q38, LSH/IVF/PQ re-rank,
SemDeDup, the CLIP alignment gate) is an INTEGER dot product over
components quantized as `round(x * 1000)`, half away from zero, taken
on the exact rational value of the product (`CENT_QSCALE` likewise): a
float32 times 1000 (or 10^6) is exact in double (24 + 20 bits < 53),
so every form below widens to double BEFORE the multiply.

Multiplying in float instead rounds the product first and moves
values that sit just below a .5 tie onto it: 0.3195f * 1000 is
319.49999928 exactly but 319.5 in float, so it quantizes to 320
instead of 319. Spark 4 widens float * int to double only while
`spark.sql.ansi.enabled` is true (the default) and keeps float with
ANSI off; DuckDB keeps FLOAT. The explicit casts here make the answer
independent of both.

- `quantize`   Spark Column over array<float|double> -> array<long>
- `QUANTIZE_SQL` DuckDB lambda body for `list_transform(v, x -> ...)`
- `q_round`    numpy twin for the Arrow-batched kernels
- `int_dot`    Spark int64 dot product of two quantized arrays
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

EMB_QSCALE = 1_000  # the score scale: dot_q is on EMB_QSCALE^2
CENT_QSCALE = 1_000_000  # centroid / cluster-sum scale (ann, pq)

QUANTIZE_SQL = f"CAST(round(CAST(x AS DOUBLE) * {EMB_QSCALE}) AS BIGINT)"


def quantize(vec: Column, scale: int = EMB_QSCALE) -> Column:
    """array<float> -> array<long>: round(x * scale) per component,
    multiplied in double (see module docstring)."""
    return F.transform(
        vec, lambda x: F.round(x.cast("double") * F.lit(scale)).cast("long")
    )


def q_round(mat: np.ndarray, scale: int) -> np.ndarray:
    """numpy twin of `quantize`: half-away-from-zero in float64, exact
    for float32 input. np.round is half-to-even and diverges at exact
    .5 ties (0.0625 * 1000: np.round -> 62, quantize -> 63)."""
    m = np.asarray(mat, dtype=np.float64)
    return (np.sign(m) * np.floor(np.abs(m) * scale + 0.5)).astype(np.int64)


def int_dot(qa: Column, qb: Column) -> Column:
    """Exact int64 dot product of two quantized arrays."""
    return F.aggregate(
        F.zip_with(qa, qb, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
