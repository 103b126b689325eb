"""SparkSession factory with scale-oriented defaults.

Defaults are tuned for the sandbox (local[N], 128 GiB) but every knob is
the one you would set on a 1000-executor cluster: AQE on (runtime
re-plan + skew-join backstop), Arrow on (every pandas UDF moves data in
Arrow batches), shuffle partitions sized to parallelism.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# session conf flag: "true" when get_spark was given an explicit
# shuffle_partitions, which then holds for the session's lifetime
SHUFFLE_PINNED = "spark.ariadne.shufflePinned"
INITIAL_PARTITIONS = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def shuffle_policy(cores: int, shuffle_partitions: int | None) -> tuple[int, int]:
    """(spark.sql.shuffle.partitions, AQE initialPartitionNum) defaults.

    Partitions must be sized by BYTES, never as partitions-per-core
    waves — measured at 24M rows/local[8] (BENCH.md "Round 4:
    shuffle-partition sizing"), cores*2 leaves the kNN candidate stage
    running two waves of ~1 GB sort tasks (982 s, 13.4 GB spill) while
    cores*8 (~285 MB/task) runs 580 s with ZERO spill and half the RSS;
    the same policy at sf0.1/local[32] measured suite −27% / images_per_sec
    +89% (BENCH.md "Round 4 close"). So the default sets a high-ish AQE
    *initial* partition number (coalescing then shrinks small shuffles
    back down by bytes at runtime; AQE can never split an un-skewed
    oversized partition, so erring high is the safe side) and keeps
    spark.sql.shuffle.partitions as the non-AQE fallback. An EXPLICIT
    shuffle_partitions argument pins BOTH knobs (A/B reproducibility).
    """
    if shuffle_partitions is not None:
        if shuffle_partitions <= 0:
            raise ValueError(
                f"shuffle_partitions must be positive, got {shuffle_partitions} "
                "(pass None for the cores-derived defaults)"
            )
        return shuffle_partitions, shuffle_partitions
    sp = max(cores * 2, 8)
    return sp, max(cores * 8, 64)


def scaled_initial_partitions(
    cores: int, input_bytes: int, target_bytes: int = 4 << 20
) -> int:
    """Bytes-scaled AQE initial partition count: one initial partition
    per ~4 MB of on-disk input (compressed parquet expands ~3-5x in
    flight, so that is ~15-20 MB per map task), clamped to
    [cores, cores*8]. The cores*8 ceiling IS the round-4 wave-smoothing
    policy — big inputs land exactly there, so the 24M-row and 2M-image
    pipeline wins are untouched; tiny inputs stop paying 256-bucket map
    overhead on sub-second shuffles (round-4 verdict item 4: measured
    ~5-11% on cold sub-2s queries at sf0.1, BENCH.md round 5). The
    floor keeps the parallelismFirst contract: never fewer initial
    partitions than cores."""
    lo = max(cores, 8)
    hi = max(cores * 8, 64)
    return int(min(hi, max(lo, -(-int(input_bytes) // target_bytes))))


def scale_shuffle_to_input(spark, input_bytes: int) -> int:
    """Retune the session's AQE initial partition number to a job's
    input size (AQE configs are runtime-mutable). Returns the session's
    value afterwards. Callers that know their input bytes (the sf-dir
    table loader, size-aware jobs) call this before building their
    plan; everything else keeps the session default (cores*8). A
    session built with an explicit shuffle_partitions is pinned and
    left as it is."""
    if spark.conf.get(SHUFFLE_PINNED, "false") == "true":
        return int(spark.conf.get(INITIAL_PARTITIONS))
    cores = spark.sparkContext.defaultParallelism
    n = scaled_initial_partitions(cores, input_bytes)
    spark.conf.set(INITIAL_PARTITIONS, str(n))
    return n


def get_spark(
    cores: int | None = None,
    app_name: str = "ariadne_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cores: parallelism for local mode. On a real cluster set
    SPARK_GRAFT_MASTER: this builder's master overrides spark-submit's
    `--master`.

    shuffle_partitions: None derives both shuffle knobs from `cores`
    (shuffle_policy) and lets size-aware callers retune them
    (scale_shuffle_to_input); a value pins both for the session.
    """
    cores = cores or default_parallelism()
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    pinned = shuffle_partitions is not None
    shuffle_partitions, initial_partitions = shuffle_policy(cores, shuffle_partitions)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config(INITIAL_PARTITIONS, str(initial_partitions))
        .config(SHUFFLE_PINNED, str(pinned).lower())
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalesces by BYTES, which serializes Python grouped-map
        # stages whose cost is per-row CPU, not I/O (measured: the
        # rasterize stage collapsed to ONE task). Keep a parallelism
        # floor; large shuffles still coalesce toward the advisory size.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16KB")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # keep Arrow batches ~8MB for binary-heavy rows: at 10k rows/batch
        # (~40MB of image blobs) N concurrent tasks hold N*40MB of IPC
        # buffers and the JVM GC inverts the scaling curve (measured 63s
        # vs 8.4s for the same 300k-row decode at 32 threads)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # report bucketed-sorted scan ordering so colocated merge joins
        # skip the per-bucket Sort (sources/bucketed.py). Safe globally:
        # Spark still verifies one-file-per-bucket before trusting the
        # on-disk order (FileSourceScanExec's singleFilePartitions
        # check), so multi-file buckets silently fall back to sorting.
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
