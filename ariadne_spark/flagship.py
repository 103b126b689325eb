"""The flagship spatial pipeline, defined once for every bench.

decode+phash verify -> polygon PIP join -> banded kNN -> tile pyramid
-> rasterize, over the deterministic synthetic images table. `bench.py`
(the headline JSON), `jobs/pipeline_bench.py` (the spark-submit job
behind the N-vs-4N scaling evidence) and `bench_stress.py` (the four
plan stages) all run them from here, so they measure the same plans.
The module ships inside the package, hence inside the `--py-files`
zip.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.phash import phash_udf
from .operators.knn import knn_edges
from .operators.pip import pip_join
from .operators.tiles import build_pyramid, rasterize_tiles
from .session import get_spark
from .synth.images import images_df
from .synth.regions import generate_regions

CACHE_DIR = os.environ.get("SPARK_GRAFT_BENCH_CACHE", "/tmp/ariadne_bench_cache")

# Sandbox fixture files are small (hundreds of MB in all): the default
# 128 MB split packing would collapse the scan to a handful of input
# partitions and serialize the Arrow-UDF decode. At real scale the scan
# is naturally wide and this pair is moot.
SCAN_CONF = {
    "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
    "spark.sql.files.openCostInBytes": str(1 * 1024 * 1024),
}

# Whole-pipeline trials per measurement; the fastest trial is reported
# as a set (its stage times are internally consistent), not per-stage
# minima across trials. This host shows noise windows where identical
# code measures 1.3-6x slower (BENCH.md "Cross-run variance"), and the
# first trial also pays python-worker forks and JVM JIT.
TRIALS = 2

# The four stages that read only the geometry columns: name -> plan
# builder over the `meta` table. Building a plan may itself run a small
# driver-side job (knn's ring-occupancy estimate), so callers build it
# inside their timed block.
PLANS: dict[str, Callable[[DataFrame], DataFrame]] = {
    "pip_join": lambda meta: pip_join(meta, generate_regions(), deepest_only=True),
    "knn": lambda meta: knn_edges(meta, k=5, max_hamming=16),
    "tile_pyramid": lambda meta: build_pyramid(meta, max_z=8),
    "rasterize": lambda meta: rasterize_tiles(meta, z=5, fmt="png"),
}


def noop(df: DataFrame) -> None:
    """Materialize every row through the noop sink (full execution, no
    driver-side collect)."""
    df.write.format("noop").mode("overwrite").save()


def ensure_images(n: int, spark: SparkSession | None = None) -> str:
    """Path of the cached n-row images table, synthesized (distributed,
    deterministic) on first use. Synthesis is fixture setup, not the
    measured workload. Without `spark`, a session is built for the
    synthesis and stopped after it."""
    # cache key v2: the synth lossy format string is 'fjpg' (a stale
    # fmt='jpeg' fixture would route FJPG blobs into the real JPEG
    # decoder and fail loudly)
    path = f"{CACHE_DIR}/images_v2_{n}.parquet"
    done = f"{CACHE_DIR}/images_v2_{n}.done"
    if not os.path.exists(done):
        os.makedirs(CACHE_DIR, exist_ok=True)
        own = spark is None
        if own:
            spark = get_spark(app_name="ariadne_synth")
        images_df(spark, n).write.mode("overwrite").parquet(path)
        if own:
            spark.stop()
        with open(done, "w") as fh:
            fh.write("ok")
    return path


def spread_meta(images: DataFrame) -> DataFrame:
    """The geometry-only columns, spread over cores*3 partitions and
    persisted. They are a few MB at sandbox scale, so a single scan
    split would serialize the narrow stages; a real-scale scan is wide
    already. The caller unpersists."""
    cores = images.sparkSession.sparkContext.defaultParallelism
    meta = images.drop("bytes").repartition(cores * 3).persist()
    meta.count()
    return meta


def decode_mismatches(images: DataFrame) -> int:
    """Rows whose stored phash differs from the phash recomputed from
    the decoded blob (0 on an intact table)."""
    return (
        images.select(
            "phash", phash_udf(F.col("bytes"), F.col("fmt")).alias("recomputed")
        )
        .where(F.col("phash") != F.col("recomputed"))
        .count()
    )


def run_stages(spark: SparkSession, images_path: str) -> tuple[float, dict[str, float]]:
    """One timed pass of all five stages. Returns the pass's wall time
    (including the meta step) and seconds per stage."""
    t_pass = time.perf_counter()
    images = spark.read.parquet(images_path)
    meta = spread_meta(images)
    timings: dict[str, float] = {}

    t0 = time.perf_counter()
    bad = decode_mismatches(images)
    timings["decode_phash"] = time.perf_counter() - t0
    assert bad == 0, f"{bad} phash mismatches — decode stage corrupt"

    for name, plan in PLANS.items():
        t0 = time.perf_counter()
        noop(plan(meta))
        timings[name] = time.perf_counter() - t0

    meta.unpersist()
    return time.perf_counter() - t_pass, timings


def best_trial(
    spark: SparkSession, images_path: str, trials: int = TRIALS
) -> tuple[float, dict[str, float]]:
    """The fastest of `trials` whole passes, as (wall, stage seconds)."""
    return min(
        (run_stages(spark, images_path) for _ in range(trials)), key=lambda t: t[0]
    )
