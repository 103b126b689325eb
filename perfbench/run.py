#!/usr/bin/env python3
"""Run one benchmark workload in its own process and print one JSON line.

    python3 perfbench/run.py --workload cold_build --seed 1 --seconds 15 --trace 0

Run from the root of a checkout of the repository. The process makes
its inputs from --seed, starts one Spark session, runs the workload's
set-up, then whole rounds of the workload's operations until --seconds
have passed (at least one round), checks the outputs against
independent computations, stops Spark and waits for every process it
started. The last line of standard output is

    {"correct": bool, "attempted": int, "failed": int,
     "metrics": {name: {"value": number, "unit": str}}}

with the end-to-end metrics of BENCHMARK.json for --trace 0 and its
per-layer metrics for --trace 1. Everything else goes to standard error.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
# local[3] measured steadier and no slower than local[4] on a 4-vCPU
# host: one core stays free for the Spark driver, the JIT and GC
CORES = 3


def _host_env() -> None:
    """Steadiness controls that must be in place before numpy or the
    JVM start (workers inherit the environment)."""
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    with open("/proc/meminfo") as fh:
        total_kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    # the session default (24g) exceeds small hosts; a sixth of RAM,
    # 1-4 GiB, covers these inputs with room to spare
    gib = max(1, min(4, total_kb // (6 << 20)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{gib}g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)


class Context:
    """What a workload needs from the run: the session, its seed and
    directories, the tracer (traced runs only), and a way to exclude
    check work from the timed intervals."""

    def __init__(self, seed: int, run_dir: str, tracer):
        self.seed, self.run_dir, self.tracer = seed, run_dir, tracer
        self.cache = WORK
        self.spark = None
        self.excluded_wall = self.excluded_cpu = 0.0

    @contextlib.contextmanager
    def untimed(self):
        import probes

        w0, c0 = time.perf_counter(), probes.tree_cpu_s()
        try:
            yield
        finally:
            self.excluded_wall += time.perf_counter() - w0
            self.excluded_cpu += probes.tree_cpu_s() - c0


def start_session(run_dir: str, traced: bool):
    from ariadne_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        # the UI's REST API serves the stage totals of the traced run
        "spark.ui.enabled": "true" if traced else "false",
        "spark.ui.retainedStages": "5000",
        "spark.ui.retainedJobs": "5000",
    }
    spark = get_spark(cores=CORES, app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()  # executor and task path up
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait for every process the run
    started (the JVM and its Python workers)."""
    import probes
    from pyspark import SparkContext

    me = os.getpid()
    started = [p for p in probes.descendants(me) if p != me]
    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while True:
        alive = [p for p in started if probes.alive(p)]
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, signal.SIGKILL)
            deadline = time.time() + 30
        time.sleep(0.2)


def _log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def measure(args, spec: dict) -> tuple[dict, int, int, list[str]]:
    import layers
    import probes
    import workloads

    traced = bool(args.trace)
    tracer = probes.Tracer() if traced else None
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    ctx = Context(args.seed, run_dir, tracer)
    wl = workloads.WORKLOADS[args.workload](ctx)
    layer: dict[str, float] = {}
    query_failures: list[str] = []
    try:
        wl.prepare()
        if traced:
            probe_before = probes.numpy_probe_s()
        t0 = time.perf_counter()
        ctx.spark = spark = start_session(run_dir, traced)
        session_s = time.perf_counter() - t0
        if traced:
            import ariadne_spark.api as api

            tracer.wrap(api, "record_query", span=lambda *a, **k: "api.record_query_s")
        wl.setup()
        setup_s = time.perf_counter() - t0 - ctx.excluded_wall
        _log(f"set-up {setup_s:.2f} s (session {session_s:.2f} s)")

        if traced:
            stages0, jobs0 = probes.settled_stages(spark), probes.last_job_id(spark)
        rounds = []
        begin = time.perf_counter()
        while not rounds or time.perf_counter() - begin < args.seconds:
            ctx.excluded_wall = ctx.excluded_cpu = 0.0
            c0, w0 = probes.tree_cpu_s(), time.perf_counter()
            ops = wl.round()
            wall = time.perf_counter() - w0 - ctx.excluded_wall
            cpu = probes.tree_cpu_s() - c0 - ctx.excluded_cpu
            rounds.append((wall, cpu, ops))
            _log(f"round {len(rounds)}: wall {wall:.2f} s, cpu {cpu:.2f} s, "
                 + ", ".join(f"{op.kind} {op.seconds:.2f}" for op in ops))
        ops = [op for _, _, r in rounds for op in r]
        if traced:
            spark_totals = probes.stage_totals(stages0, probes.settled_stages(spark))
            spark_totals["spark.jobs"] = probes.last_job_id(spark) - jobs0
            write_spans = tracer.durations("store.write_table_s.")
        errors = wl.check()
        _log(f"checked: {len(errors)} failures")
        writes = [op.images / op.seconds for op in ops if op.images and op.ok]
        metrics = {
            "setup_s": setup_s,
            "wall_s": statistics.median([w for w, _, _ in rounds]),
            "cpu_s": statistics.median([c for _, c, _ in rounds]),
            "images_per_s": statistics.median(writes) if writes else 0.0,
            "store_bytes": probes.tree_bytes(wl.store_root)[0] if wl.store_root else 0,
        }
        if traced:
            layer.update({k: v / len(rounds) for k, v in spark_totals.items()})
            layer["session.start_s"] = session_s
            layer["trace.round_wall_s"] = metrics["wall_s"]
            layer.update({k: statistics.median(v) for k, v in write_spans.items()})
            layer.update(_probe_layers(ctx, wl, args.seed))
            layer["host.numpy_probe_s"] = max(probe_before, probes.numpy_probe_s())
            query_failures = layer.pop("query_failures")
            _log("layer probes done")
    finally:
        if ctx.spark is not None:
            stop_session(ctx.spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    names = [m["name"] for m in spec["per_layer" if traced else "end_to_end"]]
    values = layer if traced else metrics
    missing = sorted(set(names) - set(values))
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    out = {n: {"value": float(values[n]), "unit": units[n]} for n in names}
    # a traced run also attempts each contract query once; one whose
    # answer differs from its DuckDB twin is a failed operation
    for q in query_failures:
        print(f"QUERY FAILED: {q}", file=sys.stderr)
    queries = len(layers.SPATIAL_QUERIES + layers.ANALYTIC_QUERIES) if traced else 0
    return out, len(ops) + queries, sum(not op.ok for op in ops) + len(query_failures), errors


def _probe_layers(ctx, wl, seed: int) -> dict:
    """Every layer probe, on this run's store. The update layer comes
    from the workload's own round when it has updates, else from one
    probe update; the codec layer needs the cold_build corpus."""
    import inputs
    import layers
    import workloads

    tracer, spark = ctx.tracer, ctx.spark
    edits = wl.edits if isinstance(wl, workloads.LiveEdits) else layers.edit_probe(ctx, wl.pipeline)
    out = edits.layer_metrics()
    out.update({k: statistics.median(v) for k, v in tracer.durations("store.overwrite_partitions_s.").items()})
    out["api.record_query_s"] = statistics.median(tracer.durations("api.record_query_s")["api.record_query_s"])
    corpus_dir = inputs.corpus(WORK, seed)
    out.update(layers.codec_bodies(corpus_dir, seed))
    out["phash.udf_pass_s"] = layers.udf_pass(spark, os.path.join(corpus_dir, "raw.parquet"))
    out.update(layers.operator_passes(wl.pipeline.store))
    # last: the sf-dir table loader retunes the session's shuffle conf
    q, out["query_failures"] = layers.contract_queries(spark, layers.query_tables_dir(ROOT))
    out.update(q)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # keep stdout for the result line alone: the JVM and the program
    # may print, so fd 1 points at stderr until the end
    result_fd = os.dup(1)
    os.dup2(2, 1)
    _host_env()
    import ariadne_spark  # noqa: F401  (fails outside a repository checkout)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"unknown workload {args.workload!r}")
    metrics, attempted, failed, errors = measure(args, spec)
    for e in errors:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
    line = json.dumps({
        "correct": not errors, "attempted": attempted, "failed": failed, "metrics": metrics,
    })
    os.write(result_fd, (line + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
