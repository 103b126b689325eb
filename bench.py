#!/usr/bin/env python3
"""Headline benchmark — the driver's per-round feedback loop.

Runs two suites on `local[$SPARK_GRAFT_CPUS]` against
`$SPARK_GRAFT_SF_DIR` (default /root/testdata/sf0.1):

1. the flagship spatial pipeline over the deterministic synthetic
   images table (decode+phash verify -> polygon PIP join -> banded kNN
   -> tile pyramid -> rasterize) — the BASELINE.json metric is this
   pipeline's throughput in images/sec;
2. a representative subset of the driver-contract operator queries
   (`__spark_entry__.queries()`), each fully materialized through the
   noop sink (no driver collect).

Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...,
   "images_per_sec": ..., "n_images": ..., "cpus": ...,
   "trials": 2, "agg": "best"}

Every measured section runs 2 trials and reports the best (the
incremental scenario has done this since it was added): this host
shows transient noise windows where identical code measures 1.3-6x
slower (BENCH.md "Cross-run variance"), so a single shot can
misreport a round. Workload size/distribution are unchanged from
round 1; round-1 numbers were single-shot, so treat cross-round
deltas smaller than the documented noise band as ties.

The five pipeline stages, the fixture cache and the scan conf live in
`ariadne_spark/flagship.py`, shared with `jobs/pipeline_bench.py`
(the spark-submit job behind `bench_scaling.py`'s N vs 4N evidence),
so the headline bench and the scaling evidence run the same plans.
"""

from __future__ import annotations

import json
import os
import sys
import time

# one BLAS thread per python worker (workers inherit this env in local
# mode): N workers x 32-thread OpenBLAS pools oversubscribe the host
for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from ariadne_spark import flagship  # noqa: E402
from ariadne_spark.session import get_spark  # noqa: E402

HEADLINE_QUERIES = [
    "q02_tpch_q1",
    "q04_multihop_chain",
    "q08_order_rank_window",
    "q13_pip_bbox_deepest",
    "q14_knn_phash_topk",
    "q15_tile_pyramid",
    "q18_jaccard_neardup",
    "q21_embedding_topk",
    "q31_salted_skew_join",
    "q32_sessionize",
]


def incremental_update_scenario(spark, n: int = 20_000) -> float:
    """1-cell-change incremental update latency (the reference's
    headline metric: `project.bench.test.ts:79-129` times update_file
    against a warm project). Full build is cached fixture setup; the
    measured work is: modify 100 images of ONE coarse cell (phash
    perturbation — geometry unchanged, so exactly one partition of
    images_indexed changes) and re-run the partition-scoped stages."""
    import shutil

    from ariadne_spark.operators.incremental import SpatialPipeline
    from ariadne_spark.synth.regions import generate_regions

    images_path = flagship.ensure_images(n, spark)
    # cache key carries a STORE SCHEMA version: the cached store's
    # committed schemas must match what the current pipeline writes
    # (e.g. the knn table gained Resolution.reason in round 3) or the
    # partition-scoped update is rejected by schema conformance —
    # bump the suffix whenever a pipeline table gains/loses a column
    base = f"{flagship.CACHE_DIR}/inc_store_{n}_v4"  # rebuilt off the v2 fixture
    done = f"{base}.done"
    if not os.path.exists(done):
        shutil.rmtree(base, ignore_errors=True)
        p = SpatialPipeline(spark, base, generate_regions())
        p.full_build(spark.read.parquet(images_path).drop("bytes"))
        with open(done, "w") as fh:
            fh.write("ok")
    # min of 2 trials on fresh store copies: this box's measurements
    # are noisy (see BENCH.md) and trial 1 additionally pays one-time
    # python-worker/JVM warmup that a long-lived service never repays
    best = float("inf")
    for trial in range(flagship.TRIALS):
        run_dir = f"{flagship.CACHE_DIR}/inc_run_{trial}"
        shutil.rmtree(run_dir, ignore_errors=True)
        shutil.copytree(base, run_dir)
        p = SpatialPipeline(spark, run_dir, generate_regions())

        pk = sorted(p.store.manifest("images_indexed").partitions)[0]
        changed = (
            p.store.read("images_indexed", keys=[pk])
            .orderBy("image_id")
            .limit(100)
            .drop("pk")
            .withColumn("phash", F.col("phash").bitwiseXOR(F.lit(0x5A5A)))
        ).localCheckpoint()

        t0 = time.perf_counter()
        p.update(changed)
        best = min(best, time.perf_counter() - t0)
    return best


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1").rstrip("/")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    try:
        sf = float(os.path.basename(sf_dir).replace("sf", ""))
    except ValueError:
        sf = 0.1
    # large enough that per-stage fixed overheads (~1-2s) amortize:
    # at sf0.1 the pipeline runs 200k images (~60-90s on 32 threads)
    n_images = max(int(2_000_000 * sf), 2_000)

    spark = get_spark(
        cores=cpus, app_name="ariadne_bench", extra_conf=flagship.SCAN_CONF
    )
    spark.sparkContext.setLogLevel("ERROR")

    images_path = flagship.ensure_images(n_images, spark)

    pipe_sec, best = flagship.best_trial(spark, images_path)
    timings = {f"pipe_{k}": v for k, v in best.items()}

    import __spark_entry__ as entry_mod

    Q = entry_mod.queries()
    for name in HEADLINE_QUERIES:
        per_trial = []
        for _ in range(flagship.TRIALS):
            t0 = time.perf_counter()
            flagship.noop(Q[name](spark, sf_dir))
            per_trial.append(time.perf_counter() - t0)
        timings[name] = min(per_trial)

    # q21 absorbs five retrieval capabilities (dense exact top-k, BM25,
    # RRF fusion, eval metrics, hard negatives) in one entry, which
    # broke the round-over-round comparability of its single line in
    # round 3. The headline q21 number above stays measured exactly as
    # before (one noop of the full union, best of 2); this split
    # additionally records where the time goes: "build" is the entry
    # CALL itself (the two eager localCheckpoints: dense block matmul +
    # BM25 postings scan — the shared cost every kind reuses), then one
    # noop per kind (a literal-kind filter folds the other union
    # branches away, so each line is that capability's own cost).
    # 2 trials, best per line — same protocol as every other measured
    # section (the payload declares trials=2/agg=best for the whole
    # JSON, and single-shot split lines would silently inherit host
    # noise the headline lines are defended against)
    q21_split: dict[str, float] = {}
    for _ in range(flagship.TRIALS):
        t0 = time.perf_counter()
        q21_df = Q["q21_embedding_topk"](spark, sf_dir)
        build = time.perf_counter() - t0
        q21_split["build_checkpoints"] = min(
            q21_split.get("build_checkpoints", build), build
        )
        for kind in ("dense", "sparse", "fused", "eval", "eval_fused", "hardneg"):
            t0 = time.perf_counter()
            flagship.noop(q21_df.where(F.col("kind") == kind))
            dt = time.perf_counter() - t0
            q21_split[kind] = min(q21_split.get(kind, dt), dt)

    # separate key (NOT in `value`) so the headline total stays
    # round-over-round comparable; scenario size fixed at 20k images
    inc_s = incremental_update_scenario(spark)

    total = sum(timings.values())
    print(
        json.dumps(
            {
                "metric": "spatial-join + tiling pipeline + operator suite wall time",
                "value": round(total, 3),
                "unit": "sec",
                "queries": {k: round(v, 3) for k, v in timings.items()},
                "sf": sf,
                "images_per_sec": round(n_images / pipe_sec, 1),
                "n_images": n_images,
                "cpus": cpus,
                "trials": flagship.TRIALS,
                "agg": "best",
                "q21_split": {k: round(v, 3) for k, v in q21_split.items()},
                "incremental_update_s": round(inc_s, 3),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
