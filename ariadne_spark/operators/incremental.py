"""Incremental re-tiling of changed cells — the `update_file` analog.

The reference's hot path is `Project.update_file`: re-index ONE file,
then re-resolve only {file} ∪ dependents
(`packages/core/src/project/project.ts:173-208,241-393`), with
`remove_file` mirroring it (`project.ts:402-467`) and `restore_file`
skipping work that a cache manifest proves unchanged
(`project.ts:220-235`). Here the unit of incrementality is the **coarse
grid cell partition** (prefix cell), and "dependents" is the partition
k-ring (a neighbor partition's kNN edges can cross the boundary, like a
dependent file's imports).

Stage dataflow (all partition-granular, all idempotent delete-then-insert):

  images_indexed  (pk = prefix cell)      <- upsert/remove merges rows
    ├─> pip            recompute changed pk only (partition-local join)
    ├─> knn            recompute changed ∪ ring(changed); candidate side
    │                  reads ring(affected) — exactly ariadne's
    │                  affected = {file} ∪ dependents re-resolution set
    └─> tiles_fine     z ∈ [prefix_res..max_z]: each tile's subtree lives
        │              inside one pk (tile grid ≡ cell grid formula)
        └─> tiles_coarse  z < prefix_res: tiny (≤ 4^prefix_res rows of
                          input), rebuilt whole from tiles_fine level
                          prefix_res — the pyramid apex

Every stage logs per-partition lineage rows + a stage marker; a rerun
against the same input snapshot skips committed stages entirely
(crash-resume), and partial data writes are harmless because manifests
commit last (see `store.py`).

Correctness contract (tested in tests/test_incremental.py): after any
sequence of upserts/removes, every output table is bit-identical
(fingerprint-equal) to a cold full build over the final input.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import cells
from ..store import SnapshotStore, partition_summary
from .knn import knn_edges
from .pip import pip_join

PREFIX_RES = 3  # 8x8 coarse partitions in the sandbox; res 5-6 at 10^12
KNN_K = 5
KNN_MAX_HAMMING = 16
KNN_RES = 5
assert KNN_RES > PREFIX_RES, "knn cells must be finer than partitions"
META_COLS = ["image_id", "phash", "lon_u", "lat_u", "w", "h", "fmt", "caption"]
IDX_BUCKETS = 64  # id_index hash buckets (thousands at 10^12 rows)


def _pk_col() -> F.Column:
    return cells.cell_encode(F.col("lon_u"), F.col("lat_u"), PREFIX_RES).cast("string")


def _idx_bucket_col() -> F.Column:
    # crc32 matches zlib.crc32 driver-side, so the bucket of a known id
    # is computable without any Spark job (the O(changed) lookup path)
    return F.pmod(F.crc32(F.col("image_id")), F.lit(IDX_BUCKETS)).cast("string")


def _idx_bucket(image_id: str) -> str:
    import zlib

    return str(zlib.crc32(image_id.encode()) % IDX_BUCKETS)


ZORDER_RES = 8  # intra-partition clustering resolution


def _zorder_cols() -> list[F.Column]:
    """Morton key at a fine resolution — the Iceberg Z-ORDER analog for
    images_indexed file layout: spatially adjacent rows share row
    groups, so parquet min/max stats prune range scans within a
    partition (row ORDER never affects results — fingerprints are
    order-independent)."""
    cell = cells.cell_encode(F.col("lon_u"), F.col("lat_u"), ZORDER_RES)
    return [cells.morton_key(cell, ZORDER_RES)]


def prefix_ring(keys: list[str], k: int = 1) -> list[str]:
    """k-ring of prefix-cell partition keys (driver-side arithmetic —
    the `get_dependents` analog, `project/import_graph.ts:178-185`)."""
    offsets = cells.kring_offsets(k)
    out: set[str] = set()
    for key in keys:
        # shared wrap/clamp/repack rule (cells.ring_targets) — the same
        # arithmetic cell_neighbors_df compiles into the plan
        for t in cells.ring_targets(int(key), PREFIX_RES, offsets):
            out.add(str(t))
    return sorted(out)


class SpatialPipeline:
    """Full-build + incremental-update orchestration over a SnapshotStore."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        regions: list[dict],
        max_z: int = 8,
    ):
        self.spark = spark
        self.store = SnapshotStore(spark, root)
        self.regions = regions
        self.max_z = max_z
        assert max_z >= PREFIX_RES

    # -- helpers -----------------------------------------------------------

    def is_built(self) -> bool:
        """Whether full_build has committed an index — the cold-start
        probe for callers (e.g. streaming/retile.py) that must not
        hardcode this pipeline's internal table layout."""
        return self.store.current_snapshot_id("images_indexed") is not None

    def _stage_done(self, stage: str, in_sid: int) -> bool:
        return "*" in self.store.completed(stage, in_sid)

    def _changed_keys_or_all(self, m) -> list[str] | None:
        """Partition scope for re-running stages at snapshot `m`: the
        parent diff when the parent manifest still exists, else None
        (full recompute) — after expire_snapshots the parent may be
        expired, and 'cannot scope the change' must degrade to
        correct-but-wider, never crash."""
        if m.parent_id is None:
            return None
        try:
            return self.store.diff("images_indexed", m.parent_id, m.snapshot_id)
        except FileNotFoundError:
            return None

    def _commit_stage(
        self, stage: str, in_sid: int, out_df: DataFrame, keys: list[str] | None, t0: float
    ) -> None:
        """Write stage output (full or partition-scoped), log lineage.

        Partition-scoped commits (keys given — the incremental path,
        where output is small by contract) eagerly localCheckpoint the
        stage plan and overlap the write with the plan-side summary
        (`parallel_summary`): the plan executes once into the block
        manager, then the two Spark actions of the commit run
        concurrently — update latency is scheduling-bound, so each
        collapsed serial action is wall time off the critical path.
        Full rebuilds keep the write-then-summarize-files path (their
        plans are the expensive part and must execute exactly once,
        streaming through to disk rather than into memory)."""
        table = stage
        if self.store.current_snapshot_id(table) is None:
            self.store.write_table(out_df, table, "pk")
        elif keys is None:
            # full rebuild over an existing table: replace ALL prior
            # partitions, not just those present in the new output —
            # otherwise a shrunken/shifted input leaves orphaned
            # partitions from the previous snapshot
            prior = self.store.manifest(table)
            self.store.overwrite_partitions(
                out_df, table, "pk", keys=sorted(prior.partitions)
            )
        else:
            self.store.overwrite_partitions(
                out_df.localCheckpoint(eager=True), table, "pk", keys=keys,
                parallel_summary=True,
            )
        wall = (time.perf_counter() - t0) * 1000
        m = self.store.manifest(table)
        for k, p in sorted(m.partitions.items()):
            if keys is None or k in keys:
                self.store.log_lineage(stage, k, in_sid, p["n_rows"], wall)
        self.store.log_lineage(stage, "*", in_sid, sum(p["n_rows"] for p in m.partitions.values()), wall)

    # -- stages ------------------------------------------------------------

    def _stage_pip(self, in_sid: int, keys: list[str] | None) -> None:
        if self._stage_done("pip", in_sid):
            return
        t0 = time.perf_counter()
        src = self.store.read("images_indexed", keys=keys)
        out = pip_join(src, self.regions, deepest_only=True).join(
            src.select("image_id", "lon_u", "lat_u"), "image_id"
        ).select("image_id", "region_id", "depth", _pk_col().alias("pk"))
        self._commit_stage("pip", in_sid, out, keys, t0)

    def _stage_knn(self, in_sid: int, keys: list[str] | None) -> None:
        if self._stage_done("knn", in_sid):
            return
        t0 = time.perf_counter()
        if keys is None:
            probe = self.store.read("images_indexed")
            build = None
            affected = None
        else:
            m = self.store.manifest("images_indexed")
            ring = prefix_ring(keys, 1)
            # read scope: only partitions that still exist
            existing = [k for k in ring if k in m.partitions]
            # commit scope must ALSO include changed partitions that were
            # fully emptied by the update (no longer in the manifest) so
            # their stale knn edges are deleted — dropping them from the
            # overwrite key list would break the incremental==cold-build
            # fingerprint contract
            affected = sorted(set(existing) | set(keys))
            build_keys = [k for k in prefix_ring(existing, 1) if k in m.partitions]
            probe = self.store.read("images_indexed", keys=existing)
            build = self.store.read("images_indexed", keys=build_keys)
        out = knn_edges(
            probe,
            k=KNN_K,
            max_hamming=KNN_MAX_HAMMING,
            res=KNN_RES,
            build_images=build,
            # incremental updates: probe cells cover only the changed
            # partitions while build replicas span the whole ring —
            # pruning always pays, so skip the auto-estimate's two
            # driver jobs (update latency is scheduling-bound)
            prune_build=True if keys is not None else None,
        ).join(
            probe.select(F.col("image_id").alias("src_image_id"), "lon_u", "lat_u"),
            "src_image_id",
        ).select(
            "src_image_id", "dst_image_id", "hamming", "rank", "confidence",
            "reason", _pk_col().alias("pk"),
        )
        self._commit_stage("knn", in_sid, out, affected, t0)

    def _tiles_fine_plan(self, keys: list[str] | None) -> DataFrame:
        """The tiles_fine output plan over the given partition scope —
        per-pk counts for z in [PREFIX_RES..max_z]. Two-shuffle pyramid
        (see tiles.build_pyramid): raw -> max_z counts, then
        explode-ancestors down to PREFIX_RES (pk is invariant under
        coarsening: a tile's PREFIX_RES ancestor IS the partition
        cell). Shared by the fine commit and the coarse stage's
        constructed post-state (below)."""
        src = self.store.read("images_indexed", keys=keys)
        z = self.max_z
        tx = cells.idiv((F.col("lon_u") * F.lit(1 << z)).cast("long"), cells.LON_SPAN)
        ty = cells.idiv((F.col("lat_u") * F.lit(1 << z)).cast("long"), cells.LAT_SPAN)
        base = (
            src.select(
                F.lit(z).alias("z"), tx.alias("tx"), ty.alias("ty"), _pk_col().alias("pk")
            )
            .groupBy("z", "tx", "ty", "pk")
            .agg(F.count("*").alias("n_images"))
        )
        ancestors = F.array(
            *[
                F.struct(
                    F.lit(zz).alias("z"),
                    F.shiftright(F.col("tx"), self.max_z - zz).alias("tx"),
                    F.shiftright(F.col("ty"), self.max_z - zz).alias("ty"),
                )
                for zz in range(PREFIX_RES, self.max_z + 1)
            ]
        )
        return (
            base.select(F.explode(ancestors).alias("a"), "pk", "n_images")
            .groupBy("a.z", "a.tx", "a.ty", "pk")
            .agg(F.sum("n_images").alias("n_images"))
        )

    def _stage_tiles_fine(self, in_sid: int, keys: list[str] | None) -> None:
        if self._stage_done("tiles_fine", in_sid):
            return
        t0 = time.perf_counter()
        self._commit_stage("tiles_fine", in_sid, self._tiles_fine_plan(keys), keys, t0)

    def _stage_tiles_coarse(self, in_sid: int, keys: list[str] | None) -> None:
        """Apex levels [0, PREFIX_RES), rebuilt whole from fine level
        PREFIX_RES. The input is the POST-update fine state CONSTRUCTED
        from (previous fine snapshot minus changed keys) ∪ (this
        update's fine plan) — definitionally equal to what tiles_fine
        is concurrently committing, so the two stages run in PARALLEL
        instead of coarse waiting on fine's commit (the commit was the
        single longest serial chain of the update's critical path).
        The previous snapshot id is pinned before reading so a
        mid-read fine commit cannot shift the base underneath. When
        the fine marker for in_sid is already committed (a heal
        re-run), the table's current content IS the new state and is
        read directly."""
        if self._stage_done("tiles_coarse", in_sid):
            return
        t0 = time.perf_counter()
        if self._stage_done("tiles_fine", in_sid):
            fine_new = self.store.read("tiles_fine")
        elif keys is None:
            fine_new = self._tiles_fine_plan(None)
        else:
            m = self.store.manifest("tiles_fine")
            keep = [k for k in sorted(m.partitions) if k not in set(keys)]
            out = self._tiles_fine_plan(keys)
            fine_new = (
                self.store.read(
                    "tiles_fine", snapshot_id=m.snapshot_id, keys=keep
                ).unionByName(out)
                if keep
                else out
            )
        base = fine_new.where(F.col("z") == PREFIX_RES)
        levels = []
        cur = base.select("z", "tx", "ty", "n_images")
        for z in range(PREFIX_RES - 1, -1, -1):
            cur = (
                cur.select(
                    F.lit(z).alias("z"),
                    F.shiftright(F.col("tx"), 1).alias("tx"),
                    F.shiftright(F.col("ty"), 1).alias("ty"),
                    "n_images",
                )
                .groupBy("z", "tx", "ty")
                .agg(F.sum("n_images").alias("n_images"))
            )
            levels.append(cur)
        out = levels[0]
        for lvl in levels[1:]:
            out = out.unionByName(lvl)
        out = out.withColumn("pk", F.lit("all"))
        # apex is rebuilt whole every time: overwrite its only partition
        self._commit_stage("tiles_coarse", in_sid, out, None if
                           self.store.current_snapshot_id("tiles_coarse") is None
                           else ["all"], t0)

    def _run_stages(self, in_sid: int, keys: list[str] | None) -> None:
        # pip / knn / tiles_fine / tiles_coarse are independent given
        # images_indexed (tiles_coarse constructs the post-fine state
        # itself — see _stage_tiles_coarse), so submit all four from
        # threads: Spark schedules the jobs concurrently and the
        # per-job fixed overhead overlaps — in incremental updates the
        # work per stage is tiny and scheduling latency dominates.
        # Outputs are deterministic regardless of completion order.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=4) as ex:
            futures = [
                ex.submit(self._stage_pip, in_sid, keys),
                ex.submit(self._stage_knn, in_sid, keys),
                ex.submit(self._stage_tiles_fine, in_sid, keys),
                ex.submit(self._stage_tiles_coarse, in_sid, keys),
            ]
            for f in futures:
                f.result()

    # -- entry points ------------------------------------------------------

    def full_build(self, images: DataFrame) -> int:
        """Cold build: index every partition (≅ `load_project` cold path,
        `packages/core/src/project/load_project.ts:67-150`)."""
        meta = images.select(*META_COLS).withColumn("pk", _pk_col())
        # zone maps on the coordinate columns: bounding-box reads prune
        # partitions from manifest stats alone (stats_cols is remembered
        # in the manifest, so every incremental overwrite and compaction
        # keeps the stats current — see read_bbox)
        in_sid = self.store.write_table(
            meta, "images_indexed", "pk", sort_cols=_zorder_cols(),
            stats_cols=["lon_u", "lat_u"],
        )
        self._sync_id_index(in_sid, buckets=None, dead_ids=None, changed_meta=None)
        self._run_stages(in_sid, None)
        return in_sid

    # -- id index ----------------------------------------------------------
    #
    # (image_id -> pk) sidecar, hash-bucketed by crc32(image_id): locating
    # the partitions of N changed/deleted ids reads only their N buckets,
    # never the full images_indexed table — the reference's O(changed)
    # invalidation (`persistence/git_change_detection.ts:47-74`: per-file
    # blob hashes make change lookup independent of project size).

    def _id_index_fresh(self, sid: int) -> bool:
        return "*" in self.store.completed("id_index_sync", sid)

    def _sync_id_index(self, in_sid, buckets, dead_ids, changed_meta) -> None:
        """buckets=None: full rebuild from images_indexed; else merge the
        given buckets (old content minus dead ids plus changed rows)."""
        t0 = time.perf_counter()
        if buckets is None:
            idx = self.store.read("images_indexed").select(
                "image_id", "pk", _idx_bucket_col().alias("bucket")
            )
            if self.store.current_snapshot_id("id_index") is None:
                self.store.write_table(idx, "id_index", "bucket")
            else:
                prior = self.store.manifest("id_index")
                self.store.overwrite_partitions(
                    idx, "id_index", "bucket", keys=sorted(prior.partitions)
                )
        else:
            merged = (
                self.store.read("id_index", keys=buckets)
                .join(dead_ids, "image_id", "left_anti")
                .unionByName(
                    changed_meta.select(
                        "image_id", "pk", _idx_bucket_col().alias("bucket")
                    )
                )
            )
            self.store.overwrite_partitions(merged, "id_index", "bucket", keys=buckets)
        self.store.log_lineage(
            "id_index_sync", "*", in_sid, 0, (time.perf_counter() - t0) * 1000
        )

    def update(self, changed: DataFrame, deleted_ids: list[str] | None = None) -> int:
        """Upsert `changed` rows (new or modified images) and remove
        `deleted_ids`, then re-run stages over changed partitions only.

        ≅ `update_file` + `remove_file`: merged partition content is
        old rows minus (changed ∪ deleted) ids plus new rows —
        delete-then-insert (`registries/definition.ts:99-103`)."""
        prev_sid = self.store.current_snapshot_id("images_indexed")
        assert prev_sid is not None, "full_build first"
        # self-heal derived stages from a CRASHED prior run (same
        # treatment the id_index gets below): if any stage's lineage
        # marker for prev_sid is missing, the previous update/full_build
        # died between its images_indexed commit and the stage commits.
        # Building this update on top would be permanently wrong two
        # ways: (a) this run's changed_keys = diff(prev, new) never
        # covers the PREVIOUS run's partitions, so pip/knn/tiles stay
        # stale there forever; (b) after a crashed full_build,
        # _commit_stage would see no pip/knn/tiles table at all and
        # commit THIS update's partition-scoped output as the full
        # first snapshot. Each _stage_* skips itself when its marker is
        # committed, so the heal costs only lineage reads when the
        # prior run completed.
        if not all(
            self._stage_done(s, prev_sid)
            for s in ("pip", "knn", "tiles_fine", "tiles_coarse")
        ):
            self._run_stages(
                prev_sid,
                self._changed_keys_or_all(self.store.manifest("images_indexed")),
            )
        # materialize the delta ONCE: it is read three times below (id
        # collect, images_indexed merge, id_index sync) and the caller's
        # plan may be expensive or not stable across evaluations — a
        # drifting plan would desynchronize all_dead from the merged rows.
        # Small deltas (the common case — this path is latency-bound on
        # scheduling, not data) materialize to the DRIVER in one action:
        # the ids/pks come for free and every later read is a local-
        # relation scan, replacing [checkpoint job + ids-collect job]
        # with one job. Larger deltas keep the executor-side checkpoint
        # (take() only signals size; its rows are discarded on that
        # path, so an unstable caller plan still materializes once).
        plan = changed.select(*META_COLS).withColumn("pk", _pk_col())
        small_cap = 10_000
        rows = plan.take(small_cap + 1)
        if len(rows) <= small_cap:
            changed_meta = self.spark.createDataFrame(rows, plan.schema)
            changed_ids = [r["image_id"] for r in rows]
        else:
            changed_meta = plan.localCheckpoint()
            # the delta's ids let the old-pk lookup prune to exactly
            # the ids' index buckets
            changed_ids = [
                r["image_id"] for r in changed_meta.select("image_id").collect()
            ]
        all_dead = sorted(set(changed_ids) | set(deleted_ids or []))
        dead_ids = self.spark.createDataFrame(
            [(i,) for i in all_dead], "image_id string"
        )
        if not self._id_index_fresh(prev_sid):
            # stale sidecar (crash between images_indexed and id_index
            # commits): rebuild once, pruned lookups thereafter
            self._sync_id_index(prev_sid, None, None, None)
        buckets = sorted({_idx_bucket(i) for i in all_dead})
        idx = self.store.read("id_index", keys=buckets)

        touched = (
            changed_meta.select("pk")
            .unionByName(idx.join(dead_ids, "image_id", "left_semi").select("pk"))
            .distinct()
        )
        touched_keys = sorted(r["pk"] for r in touched.collect())
        if not touched_keys:
            return prev_sid

        merged = (
            self.store.read("images_indexed", keys=touched_keys)
            .join(dead_ids, "image_id", "left_anti")
            .unionByName(changed_meta)
        )
        # parallel_summary: `merged` is a pinned-snapshot scan over the
        # touched partitions plus local/checkpointed rows — stable and
        # cheap to execute twice, so the commit's write and summary
        # actions overlap (see overwrite_partitions)
        in_sid = self.store.overwrite_partitions(
            merged, "images_indexed", "pk", keys=touched_keys,
            sort_cols=_zorder_cols(), parallel_summary=True,
        )
        changed_keys = self.store.diff("images_indexed", prev_sid, in_sid)
        # id_index sync and the derived stages are independent once
        # images_indexed is committed — overlap them (the sync MUST stay
        # after the commit: a crash in between leaves no in_sid marker,
        # so the next update detects staleness and rebuilds)
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=1) as ex:
            f = ex.submit(self._sync_id_index, in_sid, buckets, dead_ids, changed_meta)
            if changed_keys:
                self._run_stages(in_sid, changed_keys)
            elif all(
                self._stage_done(s, prev_sid)
                for s in ("pip", "knn", "tiles_fine", "tiles_coarse")
            ):
                # idempotent re-upsert (fingerprints unchanged): the
                # derived stages are already current, so re-log their
                # completion markers under the new input sid — exactly
                # as maintain() does — else the next update's staleness
                # self-heal would re-run all four stages for nothing,
                # committing contentless snapshots each no-op update.
                # (If the stages were NOT complete at prev_sid — a
                # crashed earlier run — fall through and let the heal
                # path rebuild, as before.)
                for s in ("pip", "knn", "tiles_fine", "tiles_coarse"):
                    self.store.log_lineage(s, "*", in_sid, 0, 0.0)
            f.result()
        return in_sid

    def resume(self) -> int:
        """Re-run stages for the current input snapshot, skipping stages
        whose lineage marker is committed (≅ `restore_file`). Call after
        a crash: stages re-run only over the partitions the interrupted
        update targeted (derived from the images_indexed manifest diff)."""
        in_sid = self.store.current_snapshot_id("images_indexed")
        assert in_sid is not None, "nothing to resume"
        if not self._id_index_fresh(in_sid):
            self._sync_id_index(in_sid, None, None, None)
        m = self.store.manifest("images_indexed")
        self._run_stages(in_sid, self._changed_keys_or_all(m))
        return in_sid

    def maintain(self, keep_last: int = 1) -> dict[str, int]:
        """Periodic table maintenance (Iceberg `rewrite_data_files` +
        `expire_snapshots`): every incremental update leaves the
        current snapshot referencing one more version dir, so after U
        updates a full read lists files from U dirs — at 10^12 rows
        the file listing itself becomes a bottleneck and small
        per-update partition files defeat scan-split sizing. Compacts
        each table's current snapshot into ONE version dir
        (`images_indexed` keeps its Z-ORDER file clustering), then
        expires old snapshots so the superseded dirs are reclaimed.
        Safe concurrently with writers: `store.compact` skips any
        partition overwritten underneath it. Returns
        table -> current snapshot id after maintenance."""
        pre_sid = self.store.current_snapshot_id("images_indexed")
        stages_fresh = pre_sid is not None and all(
            self._stage_done(s, pre_sid)
            for s in ("pip", "knn", "tiles_fine", "tiles_coarse")
        )
        index_fresh = pre_sid is not None and self._id_index_fresh(pre_sid)
        out = {}
        for t in ("images_indexed", "pip", "knn", "tiles_fine",
                  "tiles_coarse", "id_index"):
            sid = self.store.current_snapshot_id(t)
            if sid is None:
                continue
            m = self.store.manifest(t)
            vdirs = {os.path.dirname(p["path"]) for p in m.partitions.values()}
            if len(vdirs) > 1:
                sort_cols = _zorder_cols() if t == "images_indexed" else None
                sid = self.store.compact(t, sort_cols=sort_cols)
            self.store.expire_snapshots(t, keep_last=keep_last)
            out[t] = sid
        # compaction changes images_indexed's snapshot id WITHOUT
        # changing its content (fingerprints identical), so stage/index
        # freshness carries over — re-log the completion markers under
        # the new input sid, or the next update()'s staleness self-heal
        # (and _id_index_fresh) would see missing markers and rebuild
        # everything for nothing
        new_sid = out.get("images_indexed")
        if new_sid is not None and new_sid != pre_sid:
            if stages_fresh:
                for s in ("pip", "knn", "tiles_fine", "tiles_coarse"):
                    self.store.log_lineage(s, "*", new_sid, 0, 0.0)
            if index_fresh:
                self.store.log_lineage("id_index_sync", "*", new_sid, 0, 0.0)
        return out

    def read_bbox(
        self, lon_lo: int, lon_hi: int, lat_lo: int, lat_hi: int
    ):
        """Bounding-box read of images_indexed (microdegree coords,
        inclusive). Partitions whose manifest lon/lat zone maps exclude
        the box are skipped before any file is listed; survivors get
        the exact residual filter (and, files being morton-sorted via
        sort_cols, parquet row-group min/max prunes below the partition
        too). The metadata-first probe the reference gets from its
        eager location indexes (`packages/core/src/resolve_references/
        registries/definition.ts:26-90` location_to_symbol)."""
        return self.store.read(
            "images_indexed",
            where={"lon_u": (lon_lo, lon_hi), "lat_u": (lat_lo, lat_hi)},
        )

    # -- verification ------------------------------------------------------

    def table_fingerprints(self) -> dict[str, dict[str, dict]]:
        """Per-table, per-partition {n_rows, fingerprint} — the equality
        evidence used by tests (incremental == cold full build)."""
        out = {}
        tables = {
            "images_indexed": "pk",
            "pip": "pk",
            "knn": "pk",
            "tiles_fine": "pk",
            "tiles_coarse": "pk",
            "id_index": "bucket",
        }
        for t, key in tables.items():
            if self.store.current_snapshot_id(t) is not None:
                df = self.store.read(t)
                out[t] = partition_summary(df.select(*sorted(df.columns)), key)
        return out
