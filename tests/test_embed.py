"""The embedding-score contract (`functions/embed.py`) at its tie class.

Every float32 nearest a quantization tie `(n + 0.5) / 1000`, with its
±1 and ±2 ulp neighbours, is quantized by the Spark helper (under both
ANSI settings), the numpy twin and the DuckDB fragment, and each must
equal the exact rational round-half-away-from-zero of the value. A
product rounded to float before `round` moves a value one ulp below a
tie onto it; these inputs are exactly the ones that shows on.
"""

from __future__ import annotations

import math
from fractions import Fraction

import duckdb
import numpy as np
from pyspark.sql import functions as F

from ariadne_spark.functions.embed import (
    CENT_QSCALE,
    EMB_QSCALE,
    QUANTIZE_SQL,
    q_round,
    quantize,
)


def _nearest_f32(r: Fraction) -> np.float32:
    f = np.float32(float(r))
    near = [np.nextafter(f, np.float32(-np.inf)), f, np.nextafter(f, np.float32(np.inf))]
    return min(near, key=lambda g: abs(Fraction(float(g)) - r))


def _tie_class() -> np.ndarray:
    out = []
    for n in range(-1000, 1001):
        f = _nearest_f32(Fraction(2 * n + 1, 2 * EMB_QSCALE))
        lo = np.nextafter(f, np.float32(-np.inf))
        hi = np.nextafter(f, np.float32(np.inf))
        out += [
            np.nextafter(lo, np.float32(-np.inf)), lo, f, hi,
            np.nextafter(hi, np.float32(np.inf)),
        ]
    sub = np.finfo(np.float32).smallest_subnormal
    out += [np.float32(0), np.float32(1), np.float32(-1), sub]
    return np.array(out, dtype=np.float32)


def _exact(vals: np.ndarray, scale: int) -> list[int]:
    """round-half-away-from-zero of the exact rational value * scale."""
    out = []
    for v in vals:
        r = abs(Fraction(float(v)) * scale)
        out.append(int(math.copysign(math.floor(r + Fraction(1, 2)), float(v))))
    return out


def test_quantize_tie_class_exact_in_every_engine(spark):
    vals = _tie_class()
    want = _exact(vals, EMB_QSCALE)
    want_cent = _exact(vals, CENT_QSCALE)
    # the inputs really straddle ties: a float product lands some on one
    assert any(
        float(np.float32(v) * np.float32(EMB_QSCALE)) % 1 == 0.5
        and Fraction(float(v)) * EMB_QSCALE % 1 != Fraction(1, 2)
        for v in vals
    )

    assert q_round(vals, EMB_QSCALE).tolist() == want
    assert q_round(vals, CENT_QSCALE).tolist() == want_cent

    duck = duckdb.connect()
    got = duck.execute(
        f"SELECT list_transform(CAST(? AS FLOAT[]), x -> {QUANTIZE_SQL})",
        [vals.tolist()],
    ).fetchone()[0]
    assert got == want

    df = spark.createDataFrame([(vals.tolist(),)], "v array<float>")
    key = "spark.sql.ansi.enabled"
    prior = spark.conf.get(key)
    try:
        for ansi in ("true", "false"):
            spark.conf.set(key, ansi)
            row = df.select(
                quantize(F.col("v")).alias("q"),
                quantize(F.col("v"), CENT_QSCALE).alias("qc"),
            ).first()
            assert row["q"] == want, f"ansi={ansi}"
            assert row["qc"] == want_cent, f"ansi={ansi}"
    finally:
        spark.conf.set(key, prior)
