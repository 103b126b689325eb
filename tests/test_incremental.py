"""Incremental re-tiling + snapshot store + lineage/resume tests.

The contract under test (north rule: "incremental re-tiling of changed
cells ... resumes idempotently from snapshot metadata"): after ANY
sequence of upserts/removes, every derived table equals a cold full
build over the final input — verified by order-independent per-partition
fingerprints. Mirrors the reference's incremental tests
(`packages/core/src/project/project.*.integration.test.ts`: update_file
then exact-equality assertions on the resulting graph).
"""

from __future__ import annotations

import numpy as np
import pytest

from ariadne_spark.operators.incremental import PREFIX_RES, SpatialPipeline, prefix_ring
from ariadne_spark.store import SnapshotStore
from ariadne_spark.synth.images import generate_rows
from ariadne_spark.synth.regions import generate_regions

N = 1200


def _images(spark, ids: np.ndarray):
    from ariadne_spark.synth.images import IMAGES_SCHEMA

    pdf = generate_rows(ids).to_pandas()
    return spark.createDataFrame(pdf, schema=IMAGES_SCHEMA).drop("bytes")


def _modified_images(spark, ids: np.ndarray, shift: int = 777):
    """Same ids, different content: re-derive rows as if they were other
    images (id+shift) but keep the original image_id — a changed file."""
    pdf = generate_rows(ids + shift).to_pandas().drop(columns=["bytes"])
    pdf["image_id"] = [f"img_{int(i):08d}" for i in ids]
    return spark.createDataFrame(pdf)


def _pipeline(spark, tmp_path, name: str) -> SpatialPipeline:
    return SpatialPipeline(spark, str(tmp_path / name), generate_regions(), max_z=7)


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    """Pipeline after: full build on [0,N) -> update(modify 40, add 30,
    delete 20)."""
    tmp = tmp_path_factory.mktemp("incr")
    p = _pipeline(spark, tmp, "main")
    p.full_build(_images(spark, np.arange(N)))

    mod_ids = np.arange(100, 140)
    add_ids = np.arange(N, N + 30)
    del_ids = [f"img_{i:08d}" for i in range(500, 520)]
    changed = _modified_images(spark, mod_ids).unionByName(_images(spark, add_ids))
    p.update(changed, deleted_ids=del_ids)

    # cold full build over the FINAL logical input
    final_ids = np.array(
        [i for i in range(N + 30) if not (500 <= i < 520)], dtype=np.int64
    )
    keep = ~np.isin(final_ids, mod_ids)
    ref = _images(spark, final_ids[keep]).unionByName(
        _modified_images(spark, mod_ids)
    )
    ref_p = _pipeline(spark, tmp, "reference")
    ref_p.full_build(ref)
    return p, ref_p


def test_incremental_equals_full_build(built):
    inc, ref = built
    a, b = inc.table_fingerprints(), ref.table_fingerprints()
    assert set(a) == set(b) == {
        "images_indexed", "pip", "knn", "tiles_fine", "tiles_coarse", "id_index",
    }
    for table in a:
        assert a[table] == b[table], f"{table}: incremental != full rebuild"


def test_update_touches_only_changed_ring(built):
    """Partition pruning evidence: the update recomputed knn only over
    ring(changed), pip/tiles only over changed partitions."""
    inc, _ = built
    lineage = inc.store.lineage()
    sid = inc.store.current_snapshot_id("images_indexed")
    m = inc.store.manifest("images_indexed")
    changed = set(inc.store.diff("images_indexed", m.parent_id, sid))
    n_parts = len(m.partitions)
    assert 0 < len(changed) < n_parts, "fixture must change a strict subset"
    pip_parts = {
        r["partition"] for r in lineage
        if r["stage"] == "pip" and r["snapshot_id"] == sid and r["partition"] != "*"
    }
    assert pip_parts <= changed
    knn_parts = {
        r["partition"] for r in lineage
        if r["stage"] == "knn" and r["snapshot_id"] == sid and r["partition"] != "*"
    }
    assert knn_parts <= set(prefix_ring(sorted(changed), 1))
    assert len(knn_parts) < n_parts


def test_lineage_counters_match_manifests(built):
    inc, _ = built
    sid = inc.store.current_snapshot_id("images_indexed")
    m = inc.store.manifest("pip")
    by_part = {
        r["partition"]: r["n_rows"]
        for r in inc.store.lineage()
        if r["stage"] == "pip" and r["snapshot_id"] == sid and r["partition"] != "*"
    }
    for k, n in by_part.items():
        assert m.partitions[k]["n_rows"] == n


def test_time_travel_reads_old_snapshot(built):
    inc, _ = built
    cur = inc.store.current_snapshot_id("images_indexed")
    first = inc.store.read("images_indexed", snapshot_id=0).count()
    assert first == N  # pre-update row count still readable
    now = inc.store.read("images_indexed", snapshot_id=cur).count()
    assert now == N + 30 - 20


def test_metadata_only_diff(built):
    inc, _ = built
    m = inc.store.manifest("images_indexed")
    changed = inc.store.diff("images_indexed", m.parent_id, m.snapshot_id)
    assert changed  # and it came purely from manifest JSON comparison
    unchanged = inc.store.diff("images_indexed", m.snapshot_id, m.snapshot_id)
    assert unchanged == []


def test_crash_resume_skips_committed_stages(spark, tmp_path_factory):
    """Kill after the pip stage of full_build; resume() completes the
    remaining stages; result equals an uninterrupted build; committed
    stages are NOT recomputed (restore_file semantics)."""
    tmp = tmp_path_factory.mktemp("resume")
    ids = np.arange(600)

    crashed = _pipeline(spark, tmp, "crashed")
    meta = _images(spark, ids)
    # run only images_indexed + pip, then "crash"
    from ariadne_spark.operators.incremental import META_COLS, _pk_col

    in_sid = crashed.store.write_table(
        meta.select(*META_COLS).withColumn("pk", _pk_col()), "images_indexed", "pk"
    )
    crashed._stage_pip(in_sid, None)
    pip_lineage_before = [r for r in crashed.store.lineage() if r["stage"] == "pip"]

    resumed_sid = crashed.resume()
    assert resumed_sid == in_sid
    pip_lineage_after = [r for r in crashed.store.lineage() if r["stage"] == "pip"]
    assert pip_lineage_before == pip_lineage_after, "pip must not re-run"
    assert crashed.store.current_snapshot_id("knn") is not None
    assert crashed.store.current_snapshot_id("tiles_coarse") is not None

    clean = _pipeline(spark, tmp, "clean")
    clean.full_build(_images(spark, ids))
    assert crashed.table_fingerprints() == clean.table_fingerprints()


def test_double_resume_is_idempotent(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("idem")
    p = _pipeline(spark, tmp, "p")
    p.full_build(_images(spark, np.arange(400)))
    fp1 = p.table_fingerprints()
    lineage_len = len(p.store.lineage())
    p.resume()  # no-op: everything committed
    assert p.table_fingerprints() == fp1
    assert len(p.store.lineage()) == lineage_len


def test_delete_entire_partition(spark, tmp_path_factory):
    """Removing every image of a partition drops it from all tables."""
    tmp = tmp_path_factory.mktemp("delpart")
    p = _pipeline(spark, tmp, "p")
    imgs = _images(spark, np.arange(800))
    p.full_build(imgs)
    # pick the smallest partition and delete all of its images
    m = p.store.manifest("images_indexed")
    victim = min(m.partitions, key=lambda k: m.partitions[k]["n_rows"])
    ids = [
        r["image_id"]
        for r in p.store.read("images_indexed", keys=[victim]).select("image_id").collect()
    ]
    empty = _images(spark, np.arange(0))
    p.update(empty, deleted_ids=ids)
    m2 = p.store.manifest("images_indexed")
    assert victim not in m2.partitions
    assert victim not in p.store.manifest("pip").partitions
    # knn is the table where stale edges from an emptied partition can
    # survive (the overwrite key list must include emptied partitions)
    assert victim not in p.store.manifest("knn").partitions
    assert victim not in p.store.manifest("tiles_fine").partitions
    # and the full contract: incremental result == cold build of the
    # post-delete input
    survivors = np.array(
        [i for i in range(800) if f"img_{i:08d}" not in set(ids)], dtype=np.int64
    )
    ref = _pipeline(spark, tmp, "ref")
    ref.full_build(_images(spark, survivors))
    assert p.table_fingerprints() == ref.table_fingerprints()


def test_store_enforces_committed_schema(spark, tmp_path_factory):
    """Two snapshots of one table must not drift in physical types: an
    int64 frame written over an int32 table is cast on write, so a
    multi-path read never hits parquet int32/int64 conversion errors
    (the round-1 x04 failure class)."""
    tmp = tmp_path_factory.mktemp("schema")
    store = SnapshotStore(spark, str(tmp / "s"))
    df32 = spark.createDataFrame(
        [("a", 1, 10), ("b", 2, 20)], "id string, pk int, w int"
    )
    store.write_table(df32, "t", "pk")
    df64 = spark.createDataFrame([("c", 1, 30)], "id string, pk long, w long")
    store.overwrite_partitions(df64, "t", "pk")
    out = store.read("t")
    assert dict(out.dtypes)["w"] == "int"
    assert {r["id"] for r in out.collect()} == {"b", "c"}
    # full re-snapshot via write_table is conformed too
    store.write_table(df64, "t", "pk")
    assert dict(store.read("t").dtypes)["w"] == "int"


def test_crash_before_manifest_cas_leaves_old_snapshot_readable(
    spark, tmp_path_factory, monkeypatch
):
    """Kill after the data write but before the manifest CAS (the
    commit point): the table must still resolve to the previous
    snapshot and read cleanly — the attempt's data files are
    unreferenced orphans, never a torn table."""
    import ariadne_spark.store as store_mod

    tmp = tmp_path_factory.mktemp("crash")
    store = SnapshotStore(spark, str(tmp / "s"))
    df = spark.createDataFrame([("a", 1), ("b", 2)], "id string, pk int")
    store.write_table(df, "t", "pk")

    real = store_mod._atomic_create

    def crash_on_commit(path, content):
        if path.endswith("t.1.json"):
            raise RuntimeError("injected crash before commit")
        return real(path, content)

    monkeypatch.setattr(store_mod, "_atomic_create", crash_on_commit)
    with pytest.raises(RuntimeError, match="injected crash"):
        store.overwrite_partitions(
            spark.createDataFrame([("c", 1)], "id string, pk int"), "t", "pk"
        )
    monkeypatch.setattr(store_mod, "_atomic_create", real)

    assert store.current_snapshot_id("t") == 0
    assert {r["id"] for r in store.read("t").collect()} == {"a", "b"}
    # and the next write commits cleanly alongside the orphaned attempt
    store.overwrite_partitions(
        spark.createDataFrame([("d", 1)], "id string, pk int"), "t", "pk"
    )
    assert store.current_snapshot_id("t") == 1
    assert {r["id"] for r in store.read("t").collect()} == {"b", "d"}


def test_crash_after_manifest_cas_is_committed(
    spark, tmp_path_factory, monkeypatch
):
    """Kill between the manifest CAS and the advisory HEAD-cache
    write: the commit is already durable — `current_snapshot_id`
    probes forward past the stale cache and resolves the new
    snapshot (HEAD is a cache, not the commit point)."""
    import ariadne_spark.store as store_mod

    tmp = tmp_path_factory.mktemp("crash2")
    store = SnapshotStore(spark, str(tmp / "s"))
    df = spark.createDataFrame([("a", 1), ("b", 2)], "id string, pk int")
    store.write_table(df, "t", "pk")

    real = store_mod._atomic_write

    def crash_on_head(path, content):
        if path.endswith(".HEAD") and content == "1":
            raise RuntimeError("injected crash after commit")
        real(path, content)

    monkeypatch.setattr(store_mod, "_atomic_write", crash_on_head)
    with pytest.raises(RuntimeError, match="injected crash"):
        store.overwrite_partitions(
            spark.createDataFrame([("c", 1)], "id string, pk int"), "t", "pk"
        )
    monkeypatch.setattr(store_mod, "_atomic_write", real)

    assert store.current_snapshot_id("t") == 1
    assert {r["id"] for r in store.read("t").collect()} == {"b", "c"}
    # the next write proceeds from the recovered snapshot
    store.overwrite_partitions(
        spark.createDataFrame([("d", 2)], "id string, pk int"), "t", "pk"
    )
    assert store.current_snapshot_id("t") == 2
    assert {r["id"] for r in store.read("t").collect()} == {"c", "d"}


def test_concurrent_disjoint_writers_both_commit(
    spark, tmp_path_factory, monkeypatch
):
    """Two writers race; the competing commit touches a DISJOINT
    partition set — the loser of the manifest CAS rebases onto the
    winner's snapshot and commits, so BOTH changes land (Iceberg
    validate-and-rebase). Interleaving is forced deterministically:
    writer B commits in full just before writer A's first CAS."""
    import ariadne_spark.store as store_mod

    tmp = tmp_path_factory.mktemp("cas-disjoint")
    store = SnapshotStore(spark, str(tmp / "s"))
    other = SnapshotStore(spark, str(tmp / "s"))
    mk = lambda rows: spark.createDataFrame(rows, "id string, pk int")
    store.write_table(mk([("a", 1), ("b", 2)]), "t", "pk")  # sid 0

    real = store_mod._atomic_create
    fired = []

    def inject(path, content):
        if not fired and path.endswith("t.1.json"):
            fired.append(1)
            # B wins sid 1 while A is mid-commit (touches pk=2 only)
            other.overwrite_partitions(mk([("B", 2)]), "t", "pk")
        return real(path, content)

    monkeypatch.setattr(store_mod, "_atomic_create", inject)
    # A touches pk=1 only — disjoint from B -> rebases to sid 2
    sid = store.overwrite_partitions(mk([("A", 1)]), "t", "pk")
    monkeypatch.setattr(store_mod, "_atomic_create", real)

    assert sid == 2
    assert {r["id"] for r in store.read("t").collect()} == {"A", "B"}
    m = store.manifest("t")
    assert m.parent_id == 1 and set(m.partitions) == {"1", "2"}


def test_concurrent_overlapping_writer_conflicts(
    spark, tmp_path_factory, monkeypatch
):
    """Same race, but the competing commit touches the SAME partition:
    the loser must surface CommitConflict and leave the winner's
    commit untouched (its own files stay unreferenced orphans)."""
    import ariadne_spark.store as store_mod
    from ariadne_spark.store import CommitConflict

    tmp = tmp_path_factory.mktemp("cas-overlap")
    store = SnapshotStore(spark, str(tmp / "s"))
    other = SnapshotStore(spark, str(tmp / "s"))
    mk = lambda rows: spark.createDataFrame(rows, "id string, pk int")
    store.write_table(mk([("a", 1), ("b", 2)]), "t", "pk")  # sid 0

    real = store_mod._atomic_create
    fired = []

    def inject(path, content):
        if not fired and path.endswith("t.1.json"):
            fired.append(1)
            other.overwrite_partitions(mk([("B", 1)]), "t", "pk")
        return real(path, content)

    monkeypatch.setattr(store_mod, "_atomic_create", inject)
    with pytest.raises(CommitConflict, match="overlapping"):
        store.overwrite_partitions(mk([("A", 1)]), "t", "pk")
    monkeypatch.setattr(store_mod, "_atomic_create", real)

    # winner's commit is intact; loser changed nothing
    assert store.current_snapshot_id("t") == 1
    assert {r["id"] for r in store.read("t").collect()} == {"B", "b"}


def test_prefix_ring_wraps_and_clamps():
    n = 1 << PREFIX_RES
    # corner cell x=0,y=0: x wraps, y clamps -> 6 neighbors incl. self
    key = str((PREFIX_RES << 56) | (0 << 28) | 0)
    ring = prefix_ring([key], 1)
    assert key in ring and len(ring) == 6
    xs = [((int(k) >> 28) & ((1 << 28) - 1)) for k in ring]
    assert (n - 1) in xs  # wrapped across the antimeridian


def test_update_id_lookup_is_partition_pruned(spark, tmp_path_factory):
    """The deleted/changed-id -> pk lookup must read only the ids' hash
    buckets of the id_index sidecar — never a full images_indexed scan
    (≅ the reference's O(changed) git-blob-hash invalidation,
    `persistence/git_change_detection.ts:47-74`)."""
    from ariadne_spark.operators.incremental import IDX_BUCKETS, _idx_bucket

    tmp = tmp_path_factory.mktemp("idxprune")
    p = _pipeline(spark, tmp, "p")
    p.full_build(_images(spark, np.arange(900)))

    reads = []
    real_read = p.store.read

    def spy(table, snapshot_id=None, keys=None):
        reads.append((table, None if keys is None else sorted(keys)))
        return real_read(table, snapshot_id, keys)

    p.store.read = spy
    del_ids = [f"img_{i:08d}" for i in (3, 77, 410)]
    p.update(_images(spark, np.arange(0)), deleted_ids=del_ids)
    p.store.read = real_read

    # every images_indexed read during the update was key-pruned
    full_reads = [t for t, k in reads if t == "images_indexed" and k is None]
    assert full_reads == [], f"unpruned reads: {reads}"
    # and the id_index was read with exactly the dead ids' buckets
    want_buckets = sorted({_idx_bucket(i) for i in del_ids})
    idx_reads = [k for t, k in reads if t == "id_index"]
    assert want_buckets in idx_reads
    assert len(want_buckets) < IDX_BUCKETS

    # correctness: result equals a cold build of the survivors
    survivors = np.array(
        [i for i in range(900) if f"img_{i:08d}" not in set(del_ids)]
    )
    ref = _pipeline(spark, tmp, "ref")
    ref.full_build(_images(spark, survivors))
    assert p.table_fingerprints() == ref.table_fingerprints()


def test_images_indexed_files_are_zorder_clustered(spark, tmp_path_factory):
    """The Z-ORDER layout analog: within every written images_indexed
    parquet file, rows are sorted by the fine-res morton key (so
    parquet min/max stats prune spatial range scans). Fingerprints are
    order-independent, so this never affects results."""
    import glob

    import pyarrow.parquet as apq

    from ariadne_spark.functions import cells as C
    from ariadne_spark.operators.incremental import ZORDER_RES

    tmp = tmp_path_factory.mktemp("zorder")
    p = _pipeline(spark, tmp, "p")
    p.full_build(_images(spark, np.arange(700)))

    m = p.store.manifest("images_indexed")
    files = []
    for part in m.partitions.values():
        files += glob.glob(f"{p.store._abs_path(part['path'])}/*.parquet")
    assert files
    checked = 0
    for f in files:
        t = apq.read_table(f, columns=["lon_u", "lat_u"])
        lon = t["lon_u"].to_numpy()
        lat = t["lat_u"].to_numpy()
        if len(lon) < 2:
            continue
        cell = C.np_cell_encode(lon, lat, ZORDER_RES)
        x = (cell >> C.X_SHIFT) & C.XY_MASK
        y = cell & C.XY_MASK
        morton = C.np_morton(x, y, ZORDER_RES)
        assert (np.diff(morton) >= 0).all(), f
        checked += 1
    assert checked > 0


def test_store_is_relocatable(spark, tmp_path_factory):
    """Manifests record root-relative data paths: a copied/moved store
    directory reads correctly even after the original is deleted."""
    import shutil

    tmp = tmp_path_factory.mktemp("reloc")
    src = SnapshotStore(spark, str(tmp / "orig"))
    df = spark.createDataFrame([("a", 1), ("b", 2)], "id string, pk int")
    src.write_table(df, "t", "pk")
    src.overwrite_partitions(
        spark.createDataFrame([("c", 1)], "id string, pk int"), "t", "pk"
    )
    shutil.copytree(str(tmp / "orig"), str(tmp / "copy"))
    shutil.rmtree(str(tmp / "orig"))
    dst = SnapshotStore(spark, str(tmp / "copy"))
    assert {r["id"] for r in dst.read("t").collect()} == {"b", "c"}
    assert {r["id"] for r in dst.read("t", snapshot_id=0).collect()} == {"a", "b"}


def test_rollback_and_expire_snapshots(spark, tmp_path_factory):
    """rollback commits a NEW snapshot re-referencing the target's
    files (append-only history — ids stay monotonic so the commit CAS
    stays valid); expire_snapshots drops unreferenced version dirs +
    old manifests while kept snapshots stay fully readable (Iceberg
    rollback/expire analogs)."""
    import os

    tmp = tmp_path_factory.mktemp("lifecycle")
    store = SnapshotStore(spark, str(tmp / "s"))
    mk = lambda ids: spark.createDataFrame([(i, 1) for i in ids], "id int, pk int")
    store.write_table(mk([1, 2]), "t", "pk")          # sid 0
    store.overwrite_partitions(mk([3]), "t", "pk")    # sid 1
    store.overwrite_partitions(mk([4]), "t", "pk")    # sid 2

    rb = store.rollback("t", 1)
    assert rb == 3  # append-only: rollback is a new snapshot, no data copied
    assert store.current_snapshot_id("t") == 3
    assert {r["id"] for r in store.read("t").collect()} == {3}
    # next write builds on the rolled-back snapshot
    store.overwrite_partitions(mk([5]), "t", "pk")    # sid 4
    assert {r["id"] for r in store.read("t").collect()} == {5}

    removed = store.expire_snapshots("t", keep_last=2)
    assert removed  # sid-0's and sid-2's version dirs were unreferenced
    # kept snapshots still read (sid 3 re-references sid 1's files,
    # which must therefore survive), expired ones are gone
    assert {r["id"] for r in store.read("t").collect()} == {5}
    assert {r["id"] for r in store.read("t", snapshot_id=3).collect()} == {3}
    assert not os.path.exists(store._manifest_path("t", 0))
    # expire is idempotent
    assert store.expire_snapshots("t", keep_last=2) == []


def _vdirs(m):
    """Distinct version-dir names the manifest's partitions reference."""
    return {p["path"].split("/")[2] for p in m.partitions.values()}


def _part_files(store, m, key):
    d = store._abs_path(m.partitions[key]["path"])
    import os as _os

    return [f for f in _os.listdir(d) if f.endswith(".parquet")]


def test_compaction_collapses_version_dirs(spark, tmp_path_factory):
    """`compact` = Iceberg rewrite_data_files: after an update history,
    the current snapshot references one version dir per update;
    compaction rewrites everything into ONE dir with per-partition row
    counts + content fingerprints asserted identical, old snapshots
    still time-travel, and expire_snapshots then reclaims every
    pre-compaction dir."""
    tmp = tmp_path_factory.mktemp("compact")
    store = SnapshotStore(spark, str(tmp / "s"))
    mk = lambda rows: spark.createDataFrame(rows, "id string, pk int, v long")
    store.write_table(
        mk([(f"a{i}", i % 4, i) for i in range(40)]), "t", "pk"
    )
    for r in range(3):  # each update fully replaces partition r%3
        store.overwrite_partitions(
            mk([(f"u{r}_{i}", r % 3, 100 * r + i) for i in range(5)]),
            "t", "pk",
        )
    m0 = store.manifest("t")
    assert len(_vdirs(m0)) > 1
    before = {k: (p["n_rows"], p["fingerprint"]) for k, p in m0.partitions.items()}
    rows_before = sorted(map(tuple, store.read("t").collect()))

    sid = store.compact("t")
    m1 = store.manifest("t")
    assert sid == m0.snapshot_id + 1 and len(_vdirs(m1)) == 1
    after = {k: (p["n_rows"], p["fingerprint"]) for k, p in m1.partitions.items()}
    assert after == before
    assert sorted(map(tuple, store.read("t").collect())) == rows_before
    # pre-compaction snapshot still readable (append-only history) ...
    assert sorted(map(tuple, store.read("t", m0.snapshot_id).collect())) == rows_before
    # ... until expire reclaims the now-unreferenced dirs
    removed = store.expire_snapshots("t", keep_last=1)
    assert len(removed) >= len(_vdirs(m0))
    assert sorted(map(tuple, store.read("t").collect())) == rows_before


def test_max_records_per_file_bounds_files(spark, tmp_path_factory):
    """`max_records_per_file` splits each partition's single writer
    task into bounded files (no extra shuffle) — at 10^12 rows the
    one-file-per-partition default would mean unsplittable multi-GB
    files; compact without the option re-packs to one file."""
    tmp = tmp_path_factory.mktemp("maxrec")
    store = SnapshotStore(spark, str(tmp / "s"))
    mk = lambda rows: spark.createDataFrame(rows, "id string, pk int, v long")
    rows = [(f"a{i}", i % 2, i) for i in range(400)]
    store.write_table(mk(rows), "t", "pk", max_records_per_file=50)
    m0 = store.manifest("t")
    for k in m0.partitions:  # 200 rows / 50 per file -> 4 files each
        assert len(_part_files(store, m0, k)) == 4
    assert sorted(map(tuple, store.read("t").collect())) == sorted(rows)

    store.compact("t")
    m1 = store.manifest("t")
    for k in m1.partitions:
        assert len(_part_files(store, m1, k)) == 1
    assert sorted(map(tuple, store.read("t").collect())) == sorted(rows)


def test_schema_evolution_add_column(spark, tmp_path_factory):
    """add_column commits a metadata-only snapshot; reads serve the
    committed schema so pre-evolution files yield NULL (never a
    parquet schema-convert error on mixed-generation reads); writes
    missing the column are rejected; compact materializes the column
    physically with the identity gate still green."""
    tmp = tmp_path_factory.mktemp("evolve")
    store = SnapshotStore(spark, str(tmp / "s"))
    mk = lambda rows: spark.createDataFrame(rows, "id string, pk int, v long")
    store.write_table(mk([(f"a{i}", i % 2, i) for i in range(20)]), "t", "pk")
    pre_sid = store.current_snapshot_id("t")

    sid = store.add_column("t", "score", "bigint")
    assert sid == pre_sid + 1
    df = store.read("t")
    assert df.columns == ["id", "pk", "v", "score"]
    assert df.where("score is not null").count() == 0
    # time travel to the pre-evolution snapshot serves the OLD schema
    assert store.read("t", pre_sid).columns == ["id", "pk", "v"]

    # a write carrying the new column lands; old+new generations co-read
    mk2 = lambda rows: spark.createDataFrame(
        rows, "id string, pk int, v long, score long"
    )
    store.overwrite_partitions(
        mk2([(f"b{i}", 1, i, 10 * i) for i in range(7)]), "t", "pk"
    )
    got = store.read("t")
    assert got.where("pk = 1 and score is null").count() == 0
    assert got.where("pk = 0").count() == 10
    assert got.where("pk = 0 and score is not null").count() == 0

    # post-evolution writes MUST carry the full column set
    with pytest.raises(AssertionError, match="schema drift"):
        store.overwrite_partitions(mk([("c0", 0, 0)]), "t", "pk")

    # compact rewrites pk=0's pre-evolution files under the evolved
    # schema (subset-fingerprint identity check), materializing NULLs
    before = sorted(map(tuple, store.read("t").collect()))
    store.compact("t")
    m = store.manifest("t")
    assert store._part_physical_columns(m.partitions["0"]) >= {"score"}
    assert sorted(map(tuple, store.read("t").collect())) == before


def test_compact_skips_partition_overwritten_underneath(
    spark, tmp_path_factory, monkeypatch
):
    """Iceberg's rewrite-vs-overwrite conflict rule: a partition
    committed by another writer while the rewrite was running keeps
    the WRITER's data — compaction re-points only the untouched
    partitions and never clobbers newer rows."""
    import ariadne_spark.store as store_mod

    tmp = tmp_path_factory.mktemp("compact-race")
    store = SnapshotStore(spark, str(tmp / "s"))
    other = SnapshotStore(spark, str(tmp / "s"))
    mk = lambda rows: spark.createDataFrame(rows, "id string, pk int")
    store.write_table(mk([("a", 0), ("b", 1)]), "t", "pk")  # sid 0
    store.overwrite_partitions(mk([("c", 0)]), "t", "pk")   # sid 1

    real = store_mod._atomic_create
    fired = []

    def inject(path, content):
        if not fired and path.endswith("t.2.json"):
            fired.append(1)
            other.overwrite_partitions(mk([("NEW", 1)]), "t", "pk")
        return real(path, content)

    monkeypatch.setattr(store_mod, "_atomic_create", inject)
    sid = store.compact("t")
    monkeypatch.setattr(store_mod, "_atomic_create", real)

    assert sid == 3  # rebased past the writer's sid 2
    m = store.manifest("t")
    assert {r["id"] for r in store.read("t").collect()} == {"c", "NEW"}
    # pk=0 was re-pointed into the compaction dir; pk=1 kept the
    # writer's path (the rewrite of its old content was discarded)
    assert m.partitions["1"]["path"] == other.manifest("t", 2).partitions["1"]["path"]
    assert m.partitions["0"]["path"] != store.manifest("t", 1).partitions["0"]["path"]


def test_pipeline_maintain_compacts_all_tables(spark, tmp_path_factory):
    """After an update history, `maintain()` leaves every table's
    current snapshot referencing ONE version dir with all table
    fingerprints (the incremental == cold-build evidence) unchanged,
    and a subsequent incremental update still lands correctly."""
    import os as _os

    tmp = tmp_path_factory.mktemp("maintain")
    p = _pipeline(spark, tmp, "m")
    p.full_build(_images(spark, np.arange(400)))
    p.update(_modified_images(spark, np.arange(40, 60)))
    p.update(_images(spark, np.arange(400, 430)))
    before = p.table_fingerprints()

    sids = p.maintain()
    assert set(sids) >= {"images_indexed", "pip", "knn"}
    assert p.table_fingerprints() == before
    for t in sids:
        m = p.store.manifest(t)
        vdirs = {_os.path.dirname(q["path"]) for q in m.partitions.values()}
        assert len(vdirs) == 1, f"{t} spans {len(vdirs)} version dirs"
        assert len(p.store.snapshot_ids(t)) == 1  # history expired

    # the store keeps working: one more update equals a cold build
    p.update(_images(spark, np.arange(430, 450)))
    ref = _pipeline(spark, tmp, "ref")
    # cold build over the final logical input: 0..450 with 40..59 modified
    base = _images(spark, np.array([i for i in range(450) if not 40 <= i < 60]))
    mod = _modified_images(spark, np.arange(40, 60))
    ref.full_build(base.unionByName(mod))
    assert p.table_fingerprints() == ref.table_fingerprints()


def test_commit_backend_seam_cas_win_lose(spark, tmp_path_factory):
    """The snapshot protocol runs ENTIRELY through the CommitBackend
    seam (store.py CommitBackend — the reference's storage interface
    analog, `packages/core/src/persistence/file_system_storage.ts`):
    a call-recording backend observes every commit CAS and advisory
    HEAD write, and a lost CAS (a real competing posix writer creates
    the manifest first) flows back through the same interface, making
    the writer rebase and win the next id — exactly the behavior an
    S3 conditional-put backend would exhibit."""
    from ariadne_spark.store import CommitBackend, PosixCommitBackend, SnapshotStore

    tmp = tmp_path_factory.mktemp("backend-seam")
    mk = lambda rows: spark.createDataFrame(rows, "id string, pk int")
    other = SnapshotStore(spark, str(tmp / "s"))  # default posix backend

    class RecordingBackend(CommitBackend):
        def __init__(self):
            self.inner = PosixCommitBackend()
            self.cas = []  # (path, won)
            self.advisory = []
            self.fired = False

        def create_exclusive(self, path, content):
            if not self.fired and path.endswith("t.1.json"):
                self.fired = True
                # competing writer really wins sid 1 (disjoint pk=2)
                other.overwrite_partitions(mk([("B", 2)]), "t", "pk")
            won = self.inner.create_exclusive(path, content)
            self.cas.append((path, won))
            return won

        def write_advisory(self, path, content):
            self.advisory.append(path)
            self.inner.write_advisory(path, content)

        # read primitives pass straight through — only the write side
        # is what this test records
        def read_text(self, path):
            return self.inner.read_text(path)

        def exists(self, path):
            return self.inner.exists(path)

        def list_names(self, dirpath):
            return self.inner.list_names(dirpath)

        def remove(self, path):
            self.inner.remove(path)

    be = RecordingBackend()
    store = SnapshotStore(spark, str(tmp / "s"), backend=be)
    store.write_table(mk([("a", 1), ("b", 2)]), "t", "pk")  # sid 0
    sid = store.overwrite_partitions(mk([("A", 1)]), "t", "pk")

    assert sid == 2
    assert {r["id"] for r in store.read("t").collect()} == {"A", "B"}
    # the seam saw the whole protocol: sid-0 win, sid-1 loss, sid-2 win
    outcomes = [(p.rsplit("/", 1)[-1], won) for p, won in be.cas]
    assert outcomes == [("t.0.json", True), ("t.1.json", False), ("t.2.json", True)]
    # every win refreshed the advisory HEAD through the seam
    assert [p.rsplit("/", 1)[-1] for p in be.advisory] == ["t.HEAD", "t.HEAD"]


# ------------------------------------------------------------- merge_rows


def _kv_df(spark, rows):
    return spark.createDataFrame(rows, "pk long, part string, val long")


def test_merge_rows_upsert_and_partition_granularity(spark, tmp_path_factory):
    """MERGE semantics: matched rows replaced, unmatched inserted (incl.
    a brand-new partition); untouched partitions keep their EXACT old
    manifest entry (same data path + fingerprint — no rewrite)."""
    from pyspark.sql import functions as F

    st = SnapshotStore(spark, str(tmp_path_factory.mktemp("merge") / "s"))
    st.write_table(
        _kv_df(spark, [(1, "a", 10), (2, "a", 20), (3, "b", 30), (4, "c", 40)]),
        "t", "part",
    )
    before = st.manifest("t").partitions
    sid = st.merge_rows(
        _kv_df(spark, [(2, "a", 21), (5, "d", 50)]), "t", pk="pk"
    )
    after = st.manifest("t").partitions
    got = sorted(map(tuple, st.read("t").select("pk", "part", "val").collect()))
    assert got == [(1, "a", 10), (2, "a", 21), (3, "b", 30), (4, "c", 40), (5, "d", 50)]
    # b and c were untouched: identical manifest entries (no rewrite)
    for k in ("b", "c"):
        assert after[k] == before[k], k
    assert after["a"] != before["a"]
    assert st.diff("t", sid - 1, sid) == ["a", "d"]


def test_merge_rows_delete_empties_partition(spark, tmp_path_factory):
    st = SnapshotStore(spark, str(tmp_path_factory.mktemp("merge") / "s"))
    st.write_table(
        _kv_df(spark, [(1, "a", 10), (2, "b", 20), (3, "b", 30)]), "t", "part"
    )
    dels = spark.createDataFrame([(1,), (3,)], "pk long")
    st.merge_rows(_kv_df(spark, [(2, "b", 21)]), "t", pk="pk", deletes=dels)
    got = sorted(map(tuple, st.read("t").select("pk", "part", "val").collect()))
    assert got == [(2, "b", 21)]
    # partition a emptied by the delete: dropped from the manifest
    assert sorted(st.manifest("t").partitions) == ["b"]


def test_merge_rows_moves_row_across_partitions(spark, tmp_path_factory):
    st = SnapshotStore(spark, str(tmp_path_factory.mktemp("merge") / "s"))
    st.write_table(
        _kv_df(spark, [(1, "a", 10), (2, "a", 20), (3, "b", 30)]), "t", "part"
    )
    st.merge_rows(_kv_df(spark, [(3, "a", 31)]), "t", pk="pk")
    got = sorted(map(tuple, st.read("t").select("pk", "part", "val").collect()))
    assert got == [(1, "a", 10), (2, "a", 20), (3, "a", 31)]
    assert sorted(st.manifest("t").partitions) == ["a"]


def test_merge_rows_rejects_duplicate_update_pks(spark, tmp_path_factory):
    st = SnapshotStore(spark, str(tmp_path_factory.mktemp("merge") / "s"))
    st.write_table(_kv_df(spark, [(1, "a", 10)]), "t", "part")
    with pytest.raises(AssertionError, match="duplicate pk"):
        st.merge_rows(
            _kv_df(spark, [(1, "a", 11), (1, "a", 12)]), "t", pk="pk"
        )


def test_merge_rows_keeps_zone_map_stats_current(spark, tmp_path_factory):
    st = SnapshotStore(spark, str(tmp_path_factory.mktemp("merge") / "s"))
    st.write_table(
        _kv_df(spark, [(1, "a", 10), (2, "a", 20), (3, "b", 30)]),
        "t", "part", stats_cols=["val"],
    )
    st.merge_rows(_kv_df(spark, [(2, "a", 999)]), "t", pk="pk")
    stats = st.manifest("t").partitions["a"]["stats"]["val"]
    assert (stats["min"], stats["max"]) == (10, 999)
    # and the zone maps still drive pruning after the merge
    assert st.prune_keys("t", {"val": (500, None)}) == ["a"]


def test_merge_rows_equals_cold_rebuild_fingerprints(spark, tmp_path_factory):
    """North-rule idempotency at row grain: a sequence of merges equals
    a cold write of the final logical content, fingerprint-for-
    fingerprint."""
    st = SnapshotStore(spark, str(tmp_path_factory.mktemp("merge") / "s"))
    rows = [(i, "p" + str(i % 3), i * 10) for i in range(30)]
    st.write_table(_kv_df(spark, rows), "t", "part")
    st.merge_rows(
        _kv_df(spark, [(5, "p2", 5555), (40, "p0", 400)]), "t", pk="pk",
        deletes=spark.createDataFrame([(7,), (8,)], "pk long"),
    )
    final = {r[0]: r for r in rows if r[0] not in (5, 7, 8)}
    final[5] = (5, "p2", 5555)
    final[40] = (40, "p0", 400)
    cold = SnapshotStore(spark, str(tmp_path_factory.mktemp("merge") / "cold"))
    cold.write_table(_kv_df(spark, sorted(final.values())), "t", "part")
    mf, cf = st.manifest("t").partitions, cold.manifest("t").partitions
    assert sorted(mf) == sorted(cf)
    for k in mf:
        assert mf[k]["fingerprint"] == cf[k]["fingerprint"], k


def test_partition_evolution_across_snapshots(spark, tmp_path):
    """Iceberg partition-spec evolution analog: a re-snapshot may
    partition by a DIFFERENT key; each snapshot's reads serve its own
    layout, time travel crosses layouts, and diff stays metadata-only
    across the spec change."""
    from ariadne_spark.store import SnapshotStore

    st = SnapshotStore(spark, str(tmp_path / "s"))
    df = spark.createDataFrame(
        [(i, ["en", "de", "fr"][i % 3], i % 5, f"t{i}") for i in range(60)],
        "doc_id long, lang string, bucket long, text string",
    )
    sid0 = st.write_table(df, "t", key="lang")
    sid1 = st.write_table(df, "t", key="bucket")
    m0, m1 = st.manifest("t", sid0), st.manifest("t", sid1)
    assert m0.key == "lang" and set(m0.partitions) == {"en", "de", "fr"}
    assert m1.key == "bucket" and set(m1.partitions) == {str(i) for i in range(5)}
    # both layouts serve identical rowsets
    exp = sorted((r["doc_id"], r["text"]) for r in df.collect())
    for sid in (sid0, sid1):
        got = sorted(
            (r["doc_id"], r["text"]) for r in st.read("t", snapshot_id=sid).collect()
        )
        assert got == exp
    # metadata diff across the spec change: every key of both layouts
    changed = st.diff("t", sid0, sid1)
    assert set(changed) == {"en", "de", "fr"} | {str(i) for i in range(5)}


def test_read_changes_row_level_cdc(spark, tmp_path):
    """Incremental (CDC) read: exactly the row-grain delta between two
    snapshots, updates as delete+insert, untouched partitions never
    read, from_sid=None = cold full-snapshot poll."""
    from ariadne_spark.store import SnapshotStore

    st = SnapshotStore(spark, str(tmp_path / "s"))
    base = spark.createDataFrame(
        [(i, ["en", "de", "fr"][i % 3], f"body {i}") for i in range(30)],
        "doc_id long, lang string, text string",
    )
    sid0 = st.write_table(base, "t", key="lang")
    # update doc 3 (de), insert doc 100 (de), delete doc 6 (en)
    ups = spark.createDataFrame(
        [(3, "de", "body 3 EDITED"), (100, "de", "fresh row")],
        "doc_id long, lang string, text string",
    )
    dels = spark.createDataFrame([(6,)], "doc_id long")
    sid1 = st.merge_rows(ups, "t", pk="doc_id", deletes=dels)

    ch = st.read_changes("t", sid0, sid1)
    got = sorted(
        (r["change"], r["doc_id"], r["text"]) for r in ch.collect()
    )
    assert got == [
        ("delete", 3, "body 3"),
        ("delete", 6, "body 6"),
        ("insert", 3, "body 3 EDITED"),
        ("insert", 100, "fresh row"),
    ]
    # fr partition is untouched: none of its files are read
    fr_path = st.manifest("t", sid1).partitions["fr"]["path"]
    assert all(fr_path not in f for f in ch.inputFiles())
    # cold poll: whole snapshot as inserts
    cold = st.read_changes("t", None, sid1)
    assert cold.where("change <> 'insert'").count() == 0
    assert cold.count() == 30  # 30 base - 1 delete + 1 insert


def test_read_changes_multiset_counts(spark, tmp_path):
    """Duplicate-row count changes surface as exactly the count delta
    (exceptAll multiset semantics, not set difference)."""
    from ariadne_spark.store import SnapshotStore

    st = SnapshotStore(spark, str(tmp_path / "s"))
    v0 = spark.createDataFrame(
        [(1, "a", "dup"), (1, "a", "dup"), (2, "a", "solo")],
        "doc_id long, lang string, text string",
    )
    v1 = spark.createDataFrame(
        [(1, "a", "dup"), (2, "a", "solo"), (2, "a", "solo")],
        "doc_id long, lang string, text string",
    )
    s0 = st.write_table(v0, "t", key="lang")
    s1 = st.write_table(v1, "t", key="lang")
    got = sorted((r["change"], r["doc_id"]) for r in st.read_changes("t", s0, s1).collect())
    assert got == [("delete", 1), ("insert", 2)]


def test_expire_orphan_ttl_protects_inflight_writers(spark, tmp_path):
    """A data dir no manifest has EVER referenced may belong to a
    concurrent writer that has not committed yet: expire keeps it
    until orphan_ttl_s, then reclaims it (Iceberg remove_orphan_files
    age-threshold semantics). Expired-manifest dirs delete at once."""
    import os
    import time

    from ariadne_spark.store import SnapshotStore

    st = SnapshotStore(spark, str(tmp_path / "s"))
    df = spark.createDataFrame([(1, "a")], "id long, k string")
    st.write_table(df, "t", key="k")
    st.write_table(df, "t", key="k")  # snapshot 1; snapshot 0 expirable
    # simulate an in-flight writer: fresh never-referenced version dir
    orphan = str(tmp_path / "s" / "data" / "t" / "v9-deadbeef")
    os.makedirs(orphan)
    with open(orphan + "/part-0.parquet", "w") as fh:
        fh.write("x")
    removed = st.expire_snapshots("t", keep_last=1, orphan_ttl_s=3600)
    assert os.path.isdir(orphan), "fresh orphan must survive the TTL"
    assert len(removed) == 1  # snapshot 0's dir went immediately
    # age only the TOP dir: the inner file is still fresh, so the
    # writer-activity probe (newest mtime in the tree) must keep it —
    # this is exactly the case a top-dir-mtime check gets wrong
    old = time.time() - 7200
    os.utime(orphan, (old, old))
    assert st.expire_snapshots("t", keep_last=1, orphan_ttl_s=3600) == []
    assert os.path.isdir(orphan)
    # age everything inside past the TTL: the next pass reclaims it
    os.utime(orphan + "/part-0.parquet", (old, old))
    removed = st.expire_snapshots("t", keep_last=1, orphan_ttl_s=3600)
    assert removed == [orphan]
    assert not os.path.isdir(orphan)


# -- snapshot-lifecycle robustness (round-4 review findings) --------------


def _kv(spark, rows):
    return spark.createDataFrame(rows, "k string, v long")


def test_expire_head_written_before_removal_and_stale_head_recovers(
    spark, tmp_path
):
    """expire_snapshots must refresh the advisory HEAD BEFORE removing
    manifests (ids stop being dense), and current_snapshot_id must not
    trust a stale HEAD whose manifest is gone — the forward probe would
    stop inside the expired gap."""
    import unittest.mock as mock

    st = SnapshotStore(spark, str(tmp_path / "s"))
    for i in range(6):
        st.overwrite_partitions(_kv(spark, [("a", i)]), "t", key="k") if i else \
            st.write_table(_kv(spark, [("a", 0)]), "t", key="k")
    assert st.current_snapshot_id("t") == 5

    # crash injection: the FIRST manifest removal raises — the advisory
    # HEAD must already be correct, so head resolution survives the
    # partially-expired state
    real_remove = type(st.backend).remove
    calls = {"n": 0}

    def crashy_remove(self, path):
        calls["n"] += 1
        if calls["n"] == 1:
            real_remove(self, path)
            raise RuntimeError("injected crash mid-expire")
        real_remove(self, path)

    with mock.patch.object(type(st.backend), "remove", crashy_remove):
        with pytest.raises(RuntimeError, match="mid-expire"):
            st.expire_snapshots("t", keep_last=1)
    assert st.current_snapshot_id("t") == 5
    assert st.read("t").count() == 1

    # finish the expire, then simulate an out-of-order (delayed) stale
    # advisory write landing BELOW the kept tail: resolution must fall
    # back to the listing instead of resolving a removed manifest
    st.expire_snapshots("t", keep_last=1)
    st.backend.write_advisory(st._head_path("t"), "2")
    assert st.current_snapshot_id("t") == 5
    assert st.manifest("t").snapshot_id == 5


def test_crash_leftover_tmp_files_do_not_break_refs(spark, tmp_path):
    """SIGKILL between _atomic_create's fsync and unlink leaves
    `*.tmp.<pid>.<hex>` files in manifests/; every listing parser must
    skip them instead of crashing int() or surfacing ghost refs."""
    st = SnapshotStore(spark, str(tmp_path / "s"))
    st.write_table(_kv(spark, [("a", 1)]), "t", key="k")
    st.tag("t", "rel")
    st.branch("t", "dev")
    mdir = f"{st.root}/manifests"
    for leftover in [
        "t.branch.dev.0.tmp.1234.abcd1234",
        "t.branch.ghost.0.tmp.1.2",
        "t.tag.ghostx.tmp.12.ab",
        "t.0.json.tmp.9.9",
    ]:
        with open(f"{mdir}/{leftover}", "w") as fh:
            fh.write("")  # torn: empty content
    assert st.branches("t") == {"dev": 0}
    assert st.tags("t") == {"rel": 0}
    assert st.snapshot_ids("t") == [0]
    assert st._branch_version("t", "dev") == 0
    st.expire_snapshots("t", keep_last=1)  # walks branches()+tags()
    assert st.current_snapshot_id("t") == 0


def test_tag_named_json_and_dotted_table_rejected(spark, tmp_path):
    """A tag literally named 'json' must not crash snapshot_ids' parse,
    and dotted table names (which would cross-contaminate the flat
    manifest namespace) are rejected loudly."""
    st = SnapshotStore(spark, str(tmp_path / "s"))
    st.write_table(_kv(spark, [("a", 1)]), "t", key="k")
    st.tag("t", "json")
    assert st.snapshot_ids("t") == [0]
    assert st.current_snapshot_id("t") == 0
    assert st.read("t", snapshot_id="json").count() == 1
    with pytest.raises(AssertionError, match="bad table name"):
        st.write_table(_kv(spark, [("a", 1)]), "a.b", key="k")


def test_tag_branch_namespace_race_detected(spark, tmp_path):
    """tag() and branch() of one name racing: the namespace probes are
    per-key but not atomic across the two keys — whichever op creates
    SECOND must detect the other's key post-create, roll its own back,
    and raise, so the one-name-namespace invariant survives."""
    import unittest.mock as mock

    from ariadne_spark.store import CommitConflict

    root = str(tmp_path / "s")
    st = SnapshotStore(spark, root)
    other = SnapshotStore(spark, root)
    st.write_table(_kv(spark, [("a", 1)]), "t", key="k")

    real_create = type(st.backend).create_exclusive
    fired = {"n": 0}

    def racy_create(self, path, content):
        # a concurrent branch('x') lands between tag()'s namespace
        # probe and its create
        if ".tag.x" in path and fired["n"] == 0:
            fired["n"] += 1
            other.branch("t", "x")
        return real_create(self, path, content)

    with mock.patch.object(type(st.backend), "create_exclusive", racy_create):
        with pytest.raises(CommitConflict, match="concurrently"):
            st.tag("t", "x")
    # rollback held: no tag file, branch intact and resolvable
    assert "x" not in st.tags("t")
    assert st.branches("t") == {"x": 0}
    assert st.read("t", snapshot_id="x").count() == 1


def test_update_heals_stages_of_a_crashed_prior_update(spark, tmp_path_factory):
    """A prior update that crashed between its images_indexed commit and
    its stage commits must be healed by the NEXT update(): its
    changed-partition diff never covers the crashed run's partitions,
    so without the entry heal pip/knn/tiles would stay stale there
    forever (resume() exists, but the contract cannot depend on the
    operator remembering to call it)."""
    import unittest.mock as mock

    tmp = tmp_path_factory.mktemp("healupd")
    p = _pipeline(spark, tmp, "p")
    p.full_build(_images(spark, np.arange(600)))

    # update #1 crashes right after the images_indexed commit
    with mock.patch.object(
        SpatialPipeline, "_run_stages", side_effect=RuntimeError("crash")
    ):
        with pytest.raises(RuntimeError, match="crash"):
            p.update(_modified_images(spark, np.arange(100, 140)))

    # update #2 (different partitions) must heal #1's staleness
    p.update(_images(spark, np.arange(600, 630)))

    ref = _pipeline(spark, tmp, "ref")
    keep = np.array([i for i in range(630) if not (100 <= i < 140)])
    ref.full_build(
        _images(spark, keep).unionByName(
            _modified_images(spark, np.arange(100, 140))
        )
    )
    a, b = p.table_fingerprints(), ref.table_fingerprints()
    for t in a:
        assert a[t] == b[t], f"{t}: stale after crashed update + next update"


def test_update_after_crashed_full_build_commits_full_stage_tables(
    spark, tmp_path_factory
):
    """full_build crashes after images_indexed, before any stage commit;
    the next update() (not resume()) must first build the FULL stage
    tables — otherwise _commit_stage would publish the update's
    partition-scoped output as pip/knn/tiles' entire first snapshot."""
    tmp = tmp_path_factory.mktemp("healfb")
    from ariadne_spark.operators.incremental import META_COLS, _pk_col

    p = _pipeline(spark, tmp, "p")
    meta = _images(spark, np.arange(600))
    p.store.write_table(
        meta.select(*META_COLS).withColumn("pk", _pk_col()),
        "images_indexed", "pk",
    )
    # no resume(): straight to an update over a few partitions
    p.update(_images(spark, np.arange(600, 630)))

    ref = _pipeline(spark, tmp, "ref")
    ref.full_build(_images(spark, np.arange(630)))
    a, b = p.table_fingerprints(), ref.table_fingerprints()
    for t in a:
        assert a[t] == b[t], f"{t}: partial stage table after crashed full_build"


def test_noop_update_stamps_stage_markers(spark, tmp_path):
    """An idempotent re-upsert (identical rows, empty fingerprint diff)
    must log the stage completion markers for the new input snapshot:
    without them every LATER update takes the crashed-run self-heal
    path and commits contentless stage snapshots for nothing."""
    p = _pipeline(spark, tmp_path, "noop")
    ids = np.arange(300)
    p.full_build(_images(spark, ids))
    stage_sids = {
        t: p.store.current_snapshot_id(t)
        for t in ("pip", "knn", "tiles_fine", "tiles_coarse")
    }

    # re-upsert 20 UNCHANGED rows -> new input sid, empty diff
    sid2 = p.update(_images(spark, ids[:20]))
    for s in ("pip", "knn", "tiles_fine", "tiles_coarse"):
        assert "*" in p.store.completed(s, sid2), s
    # stage tables did not re-commit
    assert stage_sids == {
        t: p.store.current_snapshot_id(t)
        for t in ("pip", "knn", "tiles_fine", "tiles_coarse")
    }

    # ... and the NEXT update does not self-heal (stage snapshots move
    # only for the genuinely-changed partitions, not a full rebuild)
    sid3 = p.update(_modified_images(spark, ids[:5]))
    for s in ("pip", "knn", "tiles_fine", "tiles_coarse"):
        assert "*" in p.store.completed(s, sid3), s


def test_read_changes_expired_from_sid_has_curated_error(spark, tmp_path):
    """A CDC consumer polling from an expired snapshot must get the
    re-baseline guidance, not a raw FileNotFoundError from inside
    diff()."""
    st = SnapshotStore(spark, str(tmp_path / "cdc"))
    s1 = st.write_table(
        spark.createDataFrame([(1, "a", 1)], "pk long, key string, v long"),
        "t", "key",
    )
    st.write_table(
        spark.createDataFrame([(1, "a", 2)], "pk long, key string, v long"),
        "t", "key",
    )
    st.write_table(
        spark.createDataFrame([(1, "a", 3)], "pk long, key string, v long"),
        "t", "key",
    )
    st.expire_snapshots("t", keep_last=1)
    with pytest.raises(AssertionError, match="re-baseline"):
        st.read_changes("t", from_sid=s1)


def test_tags_and_branches_tolerate_concurrent_drop(spark, tmp_path):
    """LIST-then-read in tags()/branches() must skip a ref dropped by a
    concurrent writer between the two calls, not crash readers or
    expire_snapshots."""
    st = SnapshotStore(spark, str(tmp_path / "refs"))
    df = spark.createDataFrame([(1, "a", 1)], "pk long, key string, v long")
    sid = st.write_table(df, "t", "key")
    st.tag("t", "keepme", sid)
    st.tag("t", "dropme", sid)
    st.branch("t", "bkeep", sid)
    st.branch("t", "bdrop", sid)

    real = st.backend.read_text

    def racy(path):
        if ".tag.dropme" in path or ".branch.bdrop." in path:
            raise FileNotFoundError(path)  # vanished between LIST and read
        return real(path)

    st.backend.read_text = racy
    try:
        assert st.tags("t") == {"keepme": sid}
        assert st.branches("t") == {"bkeep": sid}
    finally:
        st.backend.read_text = real


def test_pipeline_is_built_probe(spark, tmp_path):
    p = _pipeline(spark, tmp_path, "probe")
    assert not p.is_built()
    p.full_build(_images(spark, np.arange(50)))
    assert p.is_built()


def test_resolve_sid_tolerates_tag_dropped_mid_read(spark, tmp_path):
    """A tag dropped between _resolve_sid's exists() and read_text()
    must fall through to the branch probe and the clean 'no tag or
    branch' assertion — not leak a raw FileNotFoundError."""
    st = SnapshotStore(spark, str(tmp_path / "res"))
    sid = st.write_table(
        spark.createDataFrame([(1, "a", 1)], "pk long, key string, v long"),
        "t", "key",
    )
    st.tag("t", "ghost", sid)
    real = st.backend.read_text

    def racy(path):
        if ".tag.ghost" in path:
            raise FileNotFoundError(path)
        return real(path)

    st.backend.read_text = racy
    try:
        with pytest.raises(AssertionError, match="no tag or branch"):
            st.read("t", snapshot_id="ghost").collect()
    finally:
        st.backend.read_text = real
