#!/usr/bin/env python3
"""One-off 10x-scale stress evidence (VERDICT r3 item 8): the flagship
pipeline's shuffle-bearing stages at 24M synthetic images on local[8],
with per-stage wall time, peak process-tree RSS, and Spark-reported
shuffle/spill bytes (UI REST), appended to BENCH.md.

Scope honesty: the stored-bytes table at 24M would be ~92 GB (measured
9.2 GB at 2.4M) against 68 GB free disk, so the decode+phash stage —
map-only, shuffle-free, zero cross-row state, hence linear by
construction — keeps its 2.4M-scale measurement (BENCH.md scaling
sections), while every stage with DISTRIBUTION risk (PIP join, banded
kNN with salting, tile pyramid's two Exchanges, rasterize's
pre-aggregation) runs at the full 24M over the metadata table with
REAL phashes (pixels are rendered and hashed during synthesis, the
blob is just never stored).

This is NOT the driver bench (bench.py is round-comparable and
untouched); run manually:
    python bench_stress.py --n-images 24000000 --cores 8 --append
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time
import urllib.request

for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ariadne_spark.flagship import CACHE_DIR  # noqa: E402


# ---------------------------------------------------------------------------
# process-tree RSS sampler (driver JVM + python workers)
# ---------------------------------------------------------------------------


def _proc_tree_rss_mb(root_pid: int) -> float:
    """Sum VmRSS over root_pid and every descendant, via /proc."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        pid = int(entry)
        try:
            with open(f"/proc/{pid}/stat") as fh:
                parts = fh.read().rsplit(") ", 1)[1].split()
            ppid = int(parts[1])
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        rss[pid] = int(line.split()[1])  # kB
                        break
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(pid)
    total, stack, seen = 0, [root_pid], set()
    while stack:
        p = stack.pop()
        if p in seen:
            continue
        seen.add(p)
        total += rss.get(p, 0)
        stack.extend(children.get(p, []))
    return total / 1024.0


class RssSampler:
    """Daemon thread recording max process-tree RSS per named stage."""

    def __init__(self, interval: float = 1.0):
        self.interval = interval
        self.stage = "idle"
        self.peaks: dict[str, float] = {}
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            mb = _proc_tree_rss_mb(pid)
            s = self.stage
            if mb > self.peaks.get(s, 0.0):
                self.peaks[s] = mb
            self._stop.wait(self.interval)

    def start(self):
        self._t.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._t.join(timeout=5)


# ---------------------------------------------------------------------------
# Spark UI REST: cumulative shuffle/spill counters
# ---------------------------------------------------------------------------


def _ui_totals(spark) -> dict[str, int]:
    """Sum shuffle read/write and spill bytes over all completed stages
    of THIS session's application. The UI base url and application id
    come from the live SparkContext — a hardcoded port-4040 probe reads
    whichever app bound the port first (this app auto-binds 4041+ when
    4040 is taken), silently attributing another session's counters to
    this run's evidence table."""
    try:
        sc = spark.sparkContext
        base = f"{sc.uiWebUrl}/api/v1/applications"
        app_id = sc.applicationId
        stages = json.load(
            urllib.request.urlopen(f"{base}/{app_id}/stages?status=complete", timeout=10)
        )
    except Exception:
        return {}
    out = {"shuffle_read": 0, "shuffle_write": 0, "mem_spill": 0, "disk_spill": 0,
           "tasks": 0}
    for st in stages:
        out["shuffle_read"] += st.get("shuffleReadBytes", 0)
        out["shuffle_write"] += st.get("shuffleWriteBytes", 0)
        out["mem_spill"] += st.get("memoryBytesSpilled", 0)
        out["disk_spill"] += st.get("diskBytesSpilled", 0)
        out["tasks"] += st.get("numCompleteTasks", 0)
    return out


def _delta(a: dict, b: dict) -> dict:
    return {k: b.get(k, 0) - a.get(k, 0) for k in b}


# ---------------------------------------------------------------------------


def ensure_meta_images(n: int, synth_cores: int) -> str:
    """Distributed synthesis of the n-row images table WITHOUT the blob
    column (pixels still rendered + phashed, so every downstream
    invariant is real). Cached; synthesis is fixture setup."""
    path = f"{CACHE_DIR}/imagesmeta_{n}.parquet"
    done = f"{CACHE_DIR}/imagesmeta_{n}.done"
    if os.path.exists(done):
        return path
    from ariadne_spark.session import get_spark
    from ariadne_spark.synth.images import images_df

    os.makedirs(CACHE_DIR, exist_ok=True)
    spark = get_spark(cores=synth_cores, app_name="stress-synth")
    t0 = time.perf_counter()
    images_df(spark, n, partitions=synth_cores * 4).drop("bytes").write.mode(
        "overwrite"
    ).parquet(path)
    dt = time.perf_counter() - t0
    spark.stop()
    with open(done, "w") as fh:
        fh.write(f"{dt:.1f}")
    print(f"# synthesized {n:,} meta rows in {dt:.0f}s", file=sys.stderr)
    return path


def _emb_col(dim: int):
    """Deterministic centered pseudo-embedding: 64 planted cluster
    centers + per-row noise, components in [-0.5, 0.5] (centered, so
    random cosines cluster near 0 and a 0.85 threshold keeps the
    semdedup survivor set small — the stress measures the k-means +
    pair-join machinery, not a pathological pair explosion)."""
    from pyspark.sql import functions as F

    cl = F.pmod(F.col("id"), F.lit(64))

    def comp(j):
        center = (F.pmod(F.xxhash64(cl * dim + j), F.lit(997)) / 997.0) - 0.5
        noise = (F.pmod(F.xxhash64(F.col("id") * dim + j), F.lit(991)) / 991.0) - 0.5
        return (center * 0.8 + noise * 0.2).cast("float")

    return F.transform(F.sequence(F.lit(0), F.lit(dim - 1)), comp)


def ensure_embeddings(spark, n: int, dim: int) -> str:
    """Cached synthesis of an n-row embeddings table, on the CALLER's
    session (get_spark's getOrCreate would hand back the live stress
    session, and stopping 'our' session would kill it)."""
    path = f"{CACHE_DIR}/emb_{n}_{dim}.parquet"
    done = f"{CACHE_DIR}/emb_{n}_{dim}.done"
    if os.path.exists(done):
        return path
    from pyspark.sql import functions as F

    os.makedirs(CACHE_DIR, exist_ok=True)
    spark.range(n).select(
        F.col("id").alias("vec_id"), _emb_col(dim).alias("embedding")
    ).write.mode("overwrite").parquet(path)
    with open(done, "w") as fh:
        fh.write("ok")
    return path


def run_stress(
    n: int,
    cores: int,
    stages_sel: list[str] | None = None,
    fingerprint: bool = False,
    shuffle_partitions: int | None = None,
) -> dict:
    from pyspark.sql import functions as F

    from ariadne_spark.flagship import PLANS, noop
    from ariadne_spark.functions.fingerprint import df_fingerprint
    from ariadne_spark.operators.curation import pack_sequences
    from ariadne_spark.operators.pq import ivf_pq_topk, pq_encode, pq_train
    from ariadne_spark.operators.semdedup import semdedup_pairs
    from ariadne_spark.session import get_spark

    known = (
        "rowcount", "pip_join", "knn", "tile_pyramid", "rasterize",
        "semdedup", "pq_train_encode", "ivf_pq_topk", "pack_sequences",
    )
    if stages_sel is not None:
        stages_sel = [s.strip() for s in stages_sel]
        unknown = [s for s in stages_sel if s not in known]
        if unknown:
            # fail BEFORE the ~25-min 24M synthesis, not after the run
            raise SystemExit(
                f"unknown stage(s) {unknown}; choose from {list(known)}"
            )

    meta_path = ensure_meta_images(n, synth_cores=max(cores, 28))
    spark = get_spark(
        cores=cores,
        app_name="stress",
        shuffle_partitions=shuffle_partitions,
        extra_conf={"spark.ui.enabled": "true"},
    )

    sampler = RssSampler().start()
    meta = spark.read.parquet(meta_path)
    stages: dict[str, dict] = {}
    baseline = _ui_totals(spark)

    def run(name: str, fn) -> None:
        nonlocal baseline
        if stages_sel is not None and name not in stages_sel:
            return
        sampler.stage = name
        t0 = time.perf_counter()
        fn()
        wall = time.perf_counter() - t0
        now = _ui_totals(spark)
        # only advance the baseline when the UI fetch SUCCEEDED: a
        # failed fetch returns {} and advancing to it would make the
        # next stage's delta double-count every prior stage's counters
        if now:
            d = _delta(baseline, now)
            baseline = now
        else:
            d = {}
            print(f"# {name}: UI totals fetch failed - shuffle/spill "
                  "counters for this stage recorded as 0", file=sys.stderr)
        stages[name] = {
            "sec": round(wall, 1),
            "peak_rss_mb": round(sampler.peaks.get(name, 0.0)),
            **{k: d.get(k, 0) for k in
               ("shuffle_read", "shuffle_write", "mem_spill", "disk_spill", "tasks")},
        }
        print(f"# {name}: {json.dumps(stages[name])}", file=sys.stderr)

    run("rowcount", lambda: meta.count())
    # the flagship pipeline's four shuffle-bearing stages, as bench.py
    # and jobs/pipeline_bench.py run them
    for name, plan in PLANS.items():
        run(name, lambda plan=plan: noop(plan(meta)))

    # -- curation/dedup tier (round-5 verdict item 6) -----------------------
    # Sizes are the operators' own cost-model knobs, stated here so the
    # table can't silently read as "24M everywhere" (no silent caps):
    #  - semdedup's pair join is cluster-bounded ~n^1.5 BY DESIGN, so
    #    the probe runs n/24 rows (1M at n=24M — still ~1000x anything
    #    the k-means/pair paths had seen) with sqrt(n) centroids;
    #  - pq_train + pq_encode are linear passes: full n;
    #  - ivf_pq_topk is an every-row-is-a-query self-join (candidate
    #    count n^2 * n_probe / n_centroids by its docstring): n/120
    #    rows with explicit cells so candidates stay ~400/query;
    #  - pack_sequences windows over shards: full n docs.
    def _embeddings(rows: int):
        return spark.read.parquet(ensure_embeddings(spark, rows, 16))

    n_sem = max(n // 24, 10_000)
    run(
        "semdedup",
        lambda: noop(
            semdedup_pairs(
                _embeddings(n_sem),
                threshold_q=850_000,
                n_centroids=max(2, int(n_sem**0.5)),
                kmeans_iters=2,
            )
        ),
    )
    run(
        "pq_train_encode",
        lambda: noop(
            pq_encode(
                _embeddings(n),
                books=pq_train(_embeddings(n), m=4, k=256, iters=2),
            )
        ),
    )
    n_ivf = max(n // 120, 10_000)
    run(
        "ivf_pq_topk",
        lambda: noop(
            ivf_pq_topk(
                _embeddings(n_ivf), k=3, n_centroids=2000, n_probe=4
            )
        ),
    )
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.pmod(F.col("id"), F.lit(24)).alias("shard"),
        (F.pmod(F.xxhash64("id"), F.lit(2000)) + 1).alias("n_tokens"),
    )
    run(
        "pack_sequences",
        lambda: noop(
            pack_sequences(docs, F.col("n_tokens"), 2048, ["shard"], "doc_id")
        ),
    )
    knn_fp = None
    if fingerprint:
        # order-independent (n_rows, content hash), the SAME helper
        # jobs/pipeline_bench.py uses: equality evidence across physical
        # settings (e.g. --shuffle-partitions) at the full row count.
        # Re-point the sampler first — this re-runs the full kNN
        # untimed, and leaving sampler.stage on the last timed stage
        # would inflate THAT stage's recorded peak RSS.
        sampler.stage = "fingerprint"
        knn_fp = df_fingerprint(PLANS["knn"](meta))
    sampler.stop()
    spark.stop()
    total = sum(s["sec"] for s in stages.values())
    res = {
        # subset runs are tagged so a partial total is never compared
        # against a full-suite stress_10x line in BENCH.md
        "metric": "stress_10x" if stages_sel is None else "stress_10x_subset",
        "n_images": n,
        "cpus": cores,
        "value": round(total, 1),
        "unit": "sec",
        # guard: a metadata-only subset (e.g. --stages rowcount) can
        # round every stage to 0.0s
        "images_per_sec": round(n / total) if total > 0 else None,
        "stages": stages,
    }
    if stages_sel is not None:
        res["stages_selected"] = stages_sel
    if knn_fp is not None:
        res["knn_fingerprint"] = knn_fp
    return res


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-images", type=int, default=24_000_000)
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--append", action="store_true", help="append section to BENCH.md")
    ap.add_argument(
        "--stages", default=None,
        help="comma-separated stage subset (e.g. 'rowcount,knn') for A/B "
        "runs of one stage without paying the whole suite",
    )
    ap.add_argument(
        "--shuffle-partitions", type=int, default=None,
        help="override spark.sql.shuffle.partitions for the run (default: "
        "session shuffle_policy — cores*2 fallback + cores*8 AQE initial; "
        "an explicit value pins BOTH knobs). AQE can only coalesce DOWN "
        "from the initial count, so it is the per-task shuffle-memory "
        "knob at fixed input bytes",
    )
    ap.add_argument(
        "--fingerprint", action="store_true",
        help="also compute the knn result's order-independent fingerprint "
        "(equality evidence across physical settings at full scale)",
    )
    args = ap.parse_args()
    res = run_stress(
        args.n_images,
        args.cores,
        stages_sel=args.stages.split(",") if args.stages else None,
        fingerprint=args.fingerprint,
        shuffle_partitions=args.shuffle_partitions,
    )
    print(json.dumps(res))
    if args.append:
        lines = [
            "",
            f"## 10x stress run: {args.n_images:,} images on local[{args.cores}]",
            "",
            "One-off scale evidence (bench_stress.py — NOT the round-"
            "comparable driver bench). Shuffle-bearing stages at the full "
            "row count over the metadata table (real phashes; blobs not "
            "stored — 24M blobs ≈ 92 GB > free disk; decode is map-only/"
            "shuffle-free and keeps its 2.4M measurement in the scaling "
            "sections). Peak RSS is the whole process tree (JVM + python "
            "workers); shuffle/spill bytes are Spark-UI stage totals.",
            "",
            "| stage | sec | peak RSS (MB) | shuffle write | mem spill | disk spill | tasks |",
            "|---|---|---|---|---|---|---|",
        ]
        for name, s in res["stages"].items():
            lines.append(
                f"| {name} | {s['sec']} | {s['peak_rss_mb']} "
                f"| {s['shuffle_write']:,} | {s['mem_spill']:,} "
                f"| {s['disk_spill']:,} | {s['tasks']} |"
            )
        ips = (
            f"{res['images_per_sec']:,} img/s"
            if res["images_per_sec"] is not None
            else "n/a img/s (sub-0.1s subset)"
        )
        subset = (
            f" (subset: {','.join(res['stages_selected'])})"
            if "stages_selected" in res
            else ""
        )
        lines += [
            "",
            f"Total {res['value']}s -> {ips} at {res['cpus']} cores{subset}.",
            "",
        ]
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH.md"), "a") as fh:
            fh.write("\n".join(lines))


if __name__ == "__main__":
    main()
