#!/usr/bin/env python3
"""spark-submit entry: run the flagship spatial pipeline, print timings.

Usage (the north rule's deployment shape — `spark-submit --py-files`):

    SPARK_GRAFT_CPUS=8 spark-submit --master local[8] \
        --py-files /tmp/ariadne_spark.zip \
        jobs/pipeline_bench.py --images /path/images.parquet

The session comes from `ariadne_spark.session.get_spark`, the stages
from `ariadne_spark.flagship` — the same session policy and plans as
`bench.py`. `get_spark` sets the master from SPARK_GRAFT_CPUS (or
SPARK_GRAFT_MASTER), and builder options override spark-submit's
`--master`, so the environment decides the parallelism. Prints ONE
JSON line with per-stage seconds and result fingerprints.
`bench_scaling.py` invokes it at two parallelism levels on the SAME
input and computes scaling efficiency.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# see bench.py: pin BLAS pools before any worker forks
for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")


def main() -> None:
    from ariadne_spark import flagship
    from ariadne_spark.functions.fingerprint import df_fingerprint
    from ariadne_spark.session import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("--images", required=True)
    ap.add_argument(
        "--trials", type=int, default=flagship.TRIALS,
        help="whole-pipeline passes; the fastest pass is reported as a set",
    )
    args = ap.parse_args()

    spark = get_spark(app_name="ariadne_pipeline_bench", extra_conf=flagship.SCAN_CONF)
    spark.sparkContext.setLogLevel("ERROR")
    cores = spark.sparkContext.defaultParallelism
    images = spark.read.parquet(args.images)
    n_images = images.count()  # also warms the JVM + file listing

    _, timings = flagship.best_trial(spark, args.images, args.trials)

    # order-independent (n_rows, content hash) of each result — the
    # cross-cluster-size EQUALITY evidence: the north rule requires
    # identical join rows / tile assignments at N and 4N, not just
    # matching throughput
    meta = flagship.spread_meta(images)
    fingerprints = {name: df_fingerprint(plan(meta)) for name, plan in flagship.PLANS.items()}
    meta.unpersist()

    total = sum(timings.values())
    print(
        json.dumps(
            {
                "cores": cores,
                "n_images": n_images,
                "stages": {k: round(v, 3) for k, v in timings.items()},
                "total_sec": round(total, 3),
                "images_per_sec": round(n_images / total, 1),
                "fingerprints": fingerprints,
            }
        )
    )
    sys.stdout.flush()
    spark.stop()


if __name__ == "__main__":
    main()
