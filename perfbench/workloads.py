"""The benchmark's workloads. Each is a closed loop with one client:
the next operation starts when the previous one has returned.

A workload has four phases: `prepare` makes its inputs (benchmark work,
before the Spark session starts), `setup` does the program work the
first operation needs plus untimed warm-ups, `round` runs one fixed
sequence of timed operations, and `check` compares the program's
outputs with independent computations (untimed).
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq

import inputs
import oracles
import probes


@dataclass
class Op:
    """One timed operation of a round; `images` counts the images a
    write made queryable (0 for reads)."""

    kind: str
    seconds: float
    ok: bool
    images: int = 0


def timed(kind: str, fn, images: int = 0) -> tuple[Op, object]:
    t0 = time.perf_counter()
    try:
        out, ok = fn(), True
    except Exception:
        traceback.print_exc(file=sys.stderr)
        out, ok = None, False
    return Op(kind, time.perf_counter() - t0, ok, images), out


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# cold_build: raw blobs -> decode + phash -> SpatialPipeline.full_build
# ---------------------------------------------------------------------------


class ColdBuild:
    name = "cold_build"

    def __init__(self, ctx):
        self.ctx = ctx
        self.builds = 0
        self.pipeline = None

    def prepare(self) -> None:
        self.corpus_dir = inputs.corpus(self.ctx.cache, self.ctx.seed)
        self.truth = inputs.load_truth(self.corpus_dir)
        self.raw_path = os.path.join(self.corpus_dir, "raw.parquet")

    def _meta(self, fraction: float = 1.0):
        from pyspark.sql import functions as F

        from ariadne_spark.functions.phash import phash_udf

        raw = self.ctx.spark.read.parquet(self.raw_path)
        if fraction < 1.0:
            raw = raw.sample(fraction=fraction, seed=self.ctx.seed)
        return raw.withColumn("phash", phash_udf(F.col("bytes"), F.col("fmt"))).drop("bytes")

    def setup(self) -> None:
        """Warm-up: a decode+phash pass over a tenth of the corpus starts
        the Python workers and loads the codecs. The build itself is
        measured cold: the cold-load path is a batch job, which pays JIT
        compilation of its plans on every run (a warm-up build would
        double the run's length)."""
        noop(self._meta(fraction=0.1))

    def _build(self):
        from ariadne_spark.operators.incremental import SpatialPipeline
        from ariadne_spark.synth.regions import generate_regions

        root = os.path.join(self.ctx.run_dir, f"store{self.builds}")
        self.builds += 1
        p = SpatialPipeline(self.ctx.spark, root, generate_regions())
        if self.ctx.tracer is not None:
            probes.trace_store(self.ctx.tracer, p.store)
        p.full_build(self._meta())
        return p

    def round(self) -> list[Op]:
        n = len(self.truth["ids"])
        op, p = timed("build", self._build, images=n)
        self.pipeline = p or self.pipeline
        return [op]

    @property
    def store_root(self) -> str | None:
        return None if self.pipeline is None else self.pipeline.store.root

    def check(self) -> list[str]:
        from ariadne_spark.functions.codecs import decode_image
        from ariadne_spark.synth.regions import generate_regions

        if self.pipeline is None:
            return ["cold_build: no build completed"]
        store, t = self.pipeline.store, self.truth
        ids = [inputs.image_id(i) for i in t["ids"]]
        idx = store.read("images_indexed").select("image_id", "phash", "lon_u", "lat_u").toPandas()
        errors = []
        if sorted(idx.image_id) != sorted(ids) or len(idx) != len(ids):
            return [f"images_indexed: {len(idx)} rows, expected ids {len(ids)}"]
        idx = idx.set_index("image_id").loc[ids]
        phash = idx.phash.to_numpy()
        if not (idx.lon_u.to_numpy() == t["lon_u"]).all() or not (idx.lat_u.to_numpy() == t["lat_u"]).all():
            errors.append("images_indexed: coordinates differ from the input")
        png = t["variant"] == inputs.VARIANTS.index("png")
        bad = int((phash[png] != t["render_phash"][png]).sum())
        if bad:
            errors.append(f"phash: {bad} png rows differ from the render hash")
        # lossy rows: the hash of the decoded payload, and the decoded
        # payload close to the render; every fjpg row, a seeded sample
        # of each JPEG variant (real JPEG decode is ~10 ms an image)
        raw = pq.read_table(self.raw_path, columns=["bytes", "fmt"])
        rng = np.random.default_rng(self.ctx.seed)
        rows = list(np.nonzero(t["variant"] == inputs.VARIANTS.index("fjpg"))[0])
        for v in ("jpeg_rst", "jpeg"):
            cand = np.nonzero(t["variant"] == inputs.VARIANTS.index(v))[0]
            rows += list(rng.choice(cand, size=min(24, len(cand)), replace=False))
        for k in rows:
            px = decode_image(raw["bytes"][int(k)].as_py(), raw["fmt"][int(k)].as_py())
            want = inputs.pixels(int(t["ids"][k]), int(t["w"][k]), int(t["h"][k]), int(t["parent"][k]))
            if oracles.phash64(px) != phash[k]:
                errors.append(f"phash: lossy row {ids[k]} differs from its decoded hash")
            if oracles.psnr(px, want) < oracles.PSNR_FLOOR_DB:
                errors.append(f"decode: {ids[k]} PSNR below {oracles.PSNR_FLOOR_DB} dB")
        pip = store.read("pip").select("image_id", "region_id", "depth").collect()
        errors += oracles.check_pip(pip, ids, t["lon_u"], t["lat_u"], generate_regions())
        tiles = [
            tuple(r)
            for name in ("tiles_fine", "tiles_coarse")
            for r in store.read(name).select("z", "tx", "ty", "n_images").collect()
        ]
        errors += oracles.check_tiles(tiles, t["lon_u"], t["lat_u"], self.pipeline.max_z)
        edges = [tuple(r) for r in store.read("knn").select("src_image_id", "dst_image_id", "hamming").collect()]
        phash_of = dict(zip(ids, phash.tolist()))
        pos = {int(i): k for k, i in enumerate(t["ids"])}
        planted = [
            (ids[k], ids[pos[int(p)]])
            for k, p in enumerate(t["parent"])
            if int(p) in pos
            and oracles.popcount(np.array([phash[k] ^ phash[pos[int(p)]]]))[0]
            < oracles.LSH_EXACT_BELOW
        ]
        errors += oracles.check_knn(edges, phash_of, planted)
        return errors


# ---------------------------------------------------------------------------
# live_edits: a built store serving updates interleaved with reads
# ---------------------------------------------------------------------------


class EditSession:
    """Timed updates and reads against one built SpatialPipeline. In a
    traced run it also records, per update, the Spark jobs, manifest
    commits, lineage appends, manifest reads and parquet files written,
    and the Spark jobs of each read."""

    def __init__(self, ctx, pipeline, focus: str, bbox: list[int]):
        self.ctx, self.pipeline, self.focus, self.bbox = ctx, pipeline, focus, bbox
        self.per_update: list[dict] = []
        self.read_jobs: dict[str, list[int]] = {}
        self.op_seconds: dict[str, list[float]] = {}

    def _tool(self, name: str, args: dict):
        from ariadne_spark.server import ToolServer

        store = self.pipeline.store
        # a request after a commit serves the current snapshots
        frames = {"images": store.read("images_indexed"), "edges": store.read("knn")}
        resp = ToolServer(store, frames).handle(
            {"jsonrpc": "2.0", "id": 1, "method": "tools/call",
             "params": {"name": name, "arguments": args}}
        )
        if "error" in resp:
            raise RuntimeError(resp["error"]["message"])
        return resp["result"]

    def read_ops(self):
        lo_lon, hi_lon, lo_lat, hi_lat = self.bbox
        return [
            ("neighborhood", lambda: self._tool(
                "neighborhood", {"image_id": self.focus, "depth": 2})),
            ("stats", lambda: self._tool("get_stats", {})),
            ("bbox", lambda: sorted(
                r[0] for r in self.pipeline.read_bbox(lo_lon, hi_lon, lo_lat, hi_lat)
                .select("image_id").collect())),
        ]

    def update(self, rows: list, deleted: list[str] | None, n_images: int) -> Op:
        changed = self.ctx.spark.createDataFrame(rows, inputs.META_SCHEMA)
        tracer, spark, root = self.ctx.tracer, self.ctx.spark, self.pipeline.store.root
        if tracer is not None:
            counts0, jobs0, files0 = tracer.snapshot(), probes.last_job_id(spark), probes.tree_bytes(root)[1]
        op, _ = timed("update", lambda: self.pipeline.update(changed, deleted_ids=deleted), n_images)
        self.op_seconds.setdefault("update", []).append(op.seconds)
        if tracer is not None:
            counts = tracer.snapshot()
            self.per_update.append({
                "jobs": probes.last_job_id(spark) - jobs0,
                "files": probes.tree_bytes(root)[1] - files0,
                **{k: counts.get(k, 0) - counts0.get(k, 0) for k in counts},
            })
        return op

    def reads(self) -> tuple[list[Op], list[tuple]]:
        ops, answers = [], []
        for kind, fn in self.read_ops():
            jobs0 = probes.last_job_id(self.ctx.spark) if self.ctx.tracer is not None else 0
            op, answer = timed(kind, fn)
            self.op_seconds.setdefault(kind, []).append(op.seconds)
            if self.ctx.tracer is not None:
                self.read_jobs.setdefault(kind, []).append(probes.last_job_id(self.ctx.spark) - jobs0)
            ops.append(op)
            answers.append((kind, answer))
        return ops, answers

    def layer_metrics(self) -> dict[str, float]:
        def med(key: str) -> float:
            return statistics.median([u.get(key, 0) for u in self.per_update])

        return {
            "incremental.spark_jobs_per_update": med("jobs"),
            "store.files_written_per_update": med("files"),
            "store.manifest_commits_per_update": med("store.manifest_commits"),
            "store.log_lineage_per_update": med("store.log_lineage_calls"),
            "store.manifest_reads_per_update": med("store.manifest_reads"),
            "store.version_dirs": probes.version_dirs(self.pipeline.store),
            "server.spark_jobs_per_neighborhood": statistics.median(self.read_jobs["neighborhood"]),
            "incremental.update_p50_s": statistics.median(self.op_seconds["update"]),
            "server.neighborhood_p50_s": statistics.median(self.op_seconds["neighborhood"]),
            "server.stats_p50_s": statistics.median(self.op_seconds["stats"]),
            "store.bbox_p50_s": statistics.median(self.op_seconds["bbox"]),
        }


class LiveEdits:
    name = "live_edits"

    def __init__(self, ctx):
        self.ctx = ctx
        self.reads: list[tuple] = []  # (state, knn snapshot id, [(kind, answer)])

    def prepare(self) -> None:
        self.spec = inputs.load_edits(inputs.edits(self.ctx.cache, self.ctx.seed))
        base = self.spec["base"]
        self.modified = [base[i] for i in self.spec["modify_idx"]]
        mask = self.spec["mask"]
        self.edited = [(r[0], r[1] ^ mask) + tuple(r[2:]) for r in self.modified]
        self.appended_ids = [r[0] for r in self.spec["appended"]]
        self.state = {r[0]: r for r in base}

    def setup(self) -> None:
        """Base store (a cold full_build of the base set), then one
        untimed call of each read."""
        from ariadne_spark.operators.incremental import SpatialPipeline
        from ariadne_spark.synth.regions import generate_regions

        pipeline = SpatialPipeline(
            self.ctx.spark, os.path.join(self.ctx.run_dir, "store"), generate_regions()
        )
        if self.ctx.tracer is not None:
            probes.trace_store(self.ctx.tracer, pipeline.store)
        pipeline.full_build(self.ctx.spark.createDataFrame(self.spec["base"], inputs.META_SCHEMA))
        self.edits = EditSession(self.ctx, pipeline, self.spec["focus"], self.spec["bbox"])
        with self.ctx.untimed():
            self.base_fingerprints = pipeline.table_fingerprints()
        for _, fn in self.edits.read_ops():
            fn()

    @property
    def pipeline(self):
        return self.edits.pipeline

    @property
    def store_root(self) -> str:
        return self.pipeline.store.root

    def _update(self, rows: list, deleted: list[str] | None) -> Op:
        op = self.edits.update(rows, deleted, len(self.modified) + len(self.appended_ids))
        for r in rows:
            self.state[r[0]] = r
        for i in deleted or []:
            self.state.pop(i, None)
        return op

    def _reads(self) -> list[Op]:
        ops, answers = self.edits.reads()
        # the knn snapshot the reads saw (a manifest lookup, no Spark
        # job); its edges are collected in check(), after the rounds
        with self.ctx.untimed():
            knn_sid = self.pipeline.store.current_snapshot_id("knn")
        self.reads.append((dict(self.state), knn_sid, answers))
        return ops

    def round(self) -> list[Op]:
        """U1, the three reads (which must see U1), U2. The warm-up reads
        of set-up already read the base state U2 restores."""
        ops = [self._update(self.edited + self.spec["appended"], None)]
        ops += self._reads()
        ops.append(self._update(self.modified, self.appended_ids))
        return ops

    def check(self) -> list[str]:
        errors = []
        lo_lon, hi_lon, lo_lat, hi_lat = self.spec["bbox"]
        focus = self.spec["focus"]
        store = self.pipeline.store
        edges_at = {
            sid: [tuple(r) for r in store.read("knn", snapshot_id=sid)
                  .select("src_image_id", "dst_image_id").collect()]
            for sid in {sid for _, sid, _ in self.reads}
        }
        for state, edges, kind, answer in (
            (s, edges_at[sid], k, a) for s, sid, answers in self.reads for k, a in answers
        ):
            if answer is None:
                continue
            if kind == "neighborhood":
                if oracles.parse_neighborhood(answer) != oracles.bfs(edges, focus, 2):
                    errors.append("neighborhood: answer differs from BFS over the knn edges")
            elif kind == "stats":
                want = {
                    "n_images": len(state),
                    "n_knn_edges": len(edges),
                    "n_linked_images": len({s for s, _ in edges}),
                }
                if answer != want:
                    errors.append(f"get_stats: {answer} != {want}")
            elif kind == "bbox":
                want = sorted(
                    i for i, r in state.items()
                    if lo_lon <= r[2] <= hi_lon and lo_lat <= r[3] <= hi_lat
                )
                if answer != want:
                    errors.append(f"read_bbox: {len(answer)} ids, expected {len(want)}")
        if self.pipeline.table_fingerprints() != self.base_fingerprints:
            errors.append("fingerprints: store after the edit rounds != cold build of the final set")
        return errors


WORKLOADS = {w.name: w for w in (ColdBuild, LiveEdits)}
