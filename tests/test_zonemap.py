"""Zone-map column stats + manifest-level range pruning.

The Iceberg manifest-column-stats analog (`store.prune_keys` /
`store.read(where=...)`): per-partition min/max/null-count recorded at
write time, partitions whose stats exclude a range predicate skipped
before any file is listed. The reference's counterpart is the eager
multi-index maintenance that makes probes metadata-cheap
(`packages/core/src/resolve_references/registries/definition.ts:26-90`).

Every pruned read is compared against the full-scan-then-filter oracle:
pruning must be an optimization only, never a semantics change.
"""

import pyspark.sql.functions as F
import pytest

# every test in this module runs on BOTH commit backends
pytestmark = pytest.mark.usefixtures("backend_matrix")

from ariadne_spark.store import (
    SnapshotStore,
    _stat_lower,
    _stat_upper,
    _STAT_STR_CAP,
)


@pytest.fixture()
def store(spark, tmp_path):
    return SnapshotStore(spark, str(tmp_path / "store"))


def _mk(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def _frame(spark, n_parts=4, rows_per=50):
    """Partition p{i} carries v in [i*1000, i*1000 + rows_per) — disjoint
    ranges so zone maps can discriminate exactly."""
    rows = [
        (f"p{i}", i * 1000 + j, f"s{i:02d}_{j:04d}")
        for i in range(n_parts)
        for j in range(rows_per)
    ]
    return _mk(spark, rows, "k string, v long, s string")


def test_range_read_matches_full_filter_and_prunes(spark, store):
    df = _frame(spark)
    store.write_table(df, "t", key="k", stats_cols=["v", "s"])

    pruned = store.prune_keys("t", {"v": (1000, 2049)})
    assert pruned == ["p1", "p2"]

    got = store.read("t", where={"v": (1000, 2049)})
    want = store.read("t").filter((F.col("v") >= 1000) & (F.col("v") <= 2049))
    assert sorted(got.collect()) == sorted(want.collect())

    # the pruned read must not even list the excluded partitions' files
    files = got.inputFiles()
    assert files and all("__pk=p1" in f or "__pk=p2" in f for f in files)

    # open bounds
    assert store.prune_keys("t", {"v": (3000, None)}) == ["p3"]
    assert store.prune_keys("t", {"v": (None, 10)}) == ["p0"]
    # conjunction of two columns: contradictory ranges prune everything
    assert store.prune_keys("t", {"v": (0, 10), "s": ("s03", None)}) == []
    empty = store.read("t", where={"v": (99999, None)})
    assert empty.count() == 0 and empty.columns == ["k", "v", "s"]


def test_string_truncation_bounds_are_safe(spark, store):
    # partition q's max string is 'b'*100: a naive 64-char prefix
    # truncation ('b'*64) would WRONGLY prune the range ['b'*70, None)
    long_max = "b" * 100
    df = _mk(
        spark,
        [("q", "a" * 100), ("q", long_max), ("r", "zz")],
        "k string, s string",
    )
    store.write_table(df, "t", key="k", stats_cols=["s"])
    m = store.manifest("t")
    st = m.partitions["q"]["stats"]["s"]
    assert st["min"] == "a" * _STAT_STR_CAP  # prefix: valid lower bound
    assert st["max"] == "b" * (_STAT_STR_CAP - 1) + "c"  # bumped upper bound
    assert "q" in store.prune_keys("t", {"s": ("b" * 70, None)})
    got = store.read("t", where={"s": ("b" * 70, None)})
    assert sorted(r["s"] for r in got.collect()) == [long_max, "zz"]
    # and the bound still prunes what it can: nothing above the bump
    assert store.prune_keys("t", {"s": ("c", None)}) == ["r"]


def test_stat_bound_helpers():
    assert _stat_lower("x" * 200) == "x" * _STAT_STR_CAP
    assert _stat_upper("x") == "x"
    assert _stat_upper(chr(0x10FFFF) * 100) is None  # unbumpable: unknown
    assert _stat_upper(float("nan")) is None
    assert _stat_lower(7) == 7 and _stat_upper(7.5) == 7.5


def test_nulls_and_missing_stats_are_conservative(spark, store):
    df = _mk(
        spark,
        [("a", None), ("a", None), ("b", 5), ("b", None), ("c", 9)],
        "k string, v long",
    )
    store.write_table(df, "t", key="k", stats_cols=["v"])
    # all-NULL partition: a range predicate can never match -> pruned
    assert store.prune_keys("t", {"v": (0, 100)}) == ["b", "c"]
    # partially-NULL partition kept; result matches SQL filter semantics
    got = store.read("t", where={"v": (0, 6)})
    assert [(r["k"], r["v"]) for r in got.collect()] == [("b", 5)]
    # predicate on a column with no recorded stats: keep everything
    assert store.prune_keys("t", {"k": ("a", "a")}) == ["a", "b", "c"]
    # fully-unbounded predicate adds no residual filter, so it must not
    # prune either — even the all-NULL partition's rows are served
    assert store.prune_keys("t", {"v": (None, None)}) == ["a", "b", "c"]
    assert store.read("t", where={"v": (None, None)}).count() == 5


def test_overwrite_inherits_stats_cols_and_keeps_untouched(spark, store):
    store.write_table(_frame(spark), "t", key="k", stats_cols=["v"])
    m0 = store.manifest("t")
    upd = _mk(spark, [("p1", 777_000, "new")], "k string, v long, s string")
    store.overwrite_partitions(upd, "t", key="k")
    m1 = store.manifest("t")
    assert m1.stats_cols == ["v"]
    # touched partition: fresh stats; untouched: identical entry carried
    assert m1.partitions["p1"]["stats"]["v"] == {
        "min": 777_000, "max": 777_000, "nulls": 0,
    }
    assert m1.partitions["p0"] == m0.partitions["p0"]
    assert store.prune_keys("t", {"v": (777_000, None)}) == ["p1"]
    # time travel prunes with the OLD snapshot's stats
    assert store.prune_keys(
        "t", {"v": (1000, 1001)}, snapshot_id=m0.snapshot_id
    ) == ["p1"]


def test_compact_backfills_stats_on_pre_stats_snapshots(spark, store):
    store.write_table(_frame(spark), "t", key="k")  # no stats yet
    assert store.manifest("t").partitions["p0"].get("stats") is None
    # conservative before stats exist
    assert len(store.prune_keys("t", {"v": (0, 10)})) == 4
    # enable stats via a metadata-equivalent full rewrite path: re-snapshot
    store.write_table(store.read("t"), "t", key="k", stats_cols=["v"])
    # drop back to a stats-less manifest entry via add_column (metadata
    # only, entries carried) then compact: rewrite refreshes zone maps
    store.add_column("t", "extra", "bigint")
    store.compact("t")
    m = store.manifest("t")
    assert m.partitions["p0"]["stats"]["v"] == {"min": 0, "max": 49, "nulls": 0}
    assert store.prune_keys("t", {"v": (0, 10)}) == ["p0"]
    got = store.read("t", where={"v": (1010, 1020)})
    assert got.count() == 11 and "extra" in got.columns


def test_pipeline_bbox_read_uses_zone_maps(spark, tmp_path):
    """images_indexed carries lon/lat zone maps from full_build on;
    read_bbox == full-scan filter, prunes at least one partition via
    manifest stats, and the stats survive an incremental update +
    compaction (stats_cols is remembered in the manifest)."""
    import numpy as np
    import pyspark.sql.functions as F

    from ariadne_spark.operators.incremental import SpatialPipeline
    from ariadne_spark.synth.images import IMAGES_SCHEMA, generate_rows
    from ariadne_spark.synth.regions import generate_regions

    def imgs(ids):
        pdf = generate_rows(np.asarray(ids)).to_pandas()
        return spark.createDataFrame(pdf, schema=IMAGES_SCHEMA).drop("bytes")

    p = SpatialPipeline(spark, str(tmp_path / "zm"), generate_regions(), max_z=7)
    p.full_build(imgs(np.arange(600)))
    assert p.store.manifest("images_indexed").stats_cols == ["lon_u", "lat_u"]

    box = (40_000_000, 90_000_000, 10_000_000, 60_000_000)
    got = p.read_bbox(*box)
    want = p.store.read("images_indexed").filter(
        (F.col("lon_u") >= box[0]) & (F.col("lon_u") <= box[1])
        & (F.col("lat_u") >= box[2]) & (F.col("lat_u") <= box[3])
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    pruned = p.store.prune_keys(
        "images_indexed", {"lon_u": (box[0], box[1]), "lat_u": (box[2], box[3])}
    )
    n_parts = len(p.store.manifest("images_indexed").partitions)
    assert 0 < len(pruned) < n_parts  # stats actually exclude partitions

    # update + maintain: stats stay current without re-opting-in
    upd = imgs(np.arange(600, 650))
    p.update(upd)
    p.maintain()
    m = p.store.manifest("images_indexed")
    assert m.stats_cols == ["lon_u", "lat_u"]
    assert all("stats" in part for part in m.partitions.values())
    got2 = p.read_bbox(*box)
    want2 = p.store.read("images_indexed").filter(
        (F.col("lon_u") >= box[0]) & (F.col("lon_u") <= box[1])
        & (F.col("lat_u") >= box[2]) & (F.col("lat_u") <= box[3])
    )
    assert sorted(map(tuple, got2.collect())) == sorted(map(tuple, want2.collect()))


def test_snapshot_tags_pin_and_survive_expiration(spark, store):
    """Iceberg-tag analog: tags name snapshots for reads, exempt them
    from expire_snapshots, are immutable (re-tag raises), and dropping
    a tag releases the pin."""
    from ariadne_spark.store import CommitConflict

    store.write_table(_frame(spark, n_parts=2), "t", key="k")
    s0 = store.current_snapshot_id("t")
    sid = store.tag("t", "v1")
    assert sid == s0 and store.tags("t") == {"v1": s0}

    upd = _mk(spark, [("p0", 9, "z")], "k string, v long, s string")
    store.overwrite_partitions(upd, "t", key="k")
    s1 = store.current_snapshot_id("t")
    assert s1 != s0

    # read by tag name == read by pinned id
    by_tag = sorted(map(tuple, store.read("t", snapshot_id="v1").collect()))
    by_id = sorted(map(tuple, store.read("t", snapshot_id=s0).collect()))
    assert by_tag == by_id and len(by_tag) == 100

    # expiration keeps the tagged snapshot AND its data
    store.expire_snapshots("t", keep_last=1)
    assert store.read("t", snapshot_id="v1").count() == 100
    assert store.read("t").count() == 51  # current: p0 replaced by 1 row

    # immutable: re-tagging the name raises
    with pytest.raises(CommitConflict):
        store.tag("t", "v1", snapshot_id=s1)

    # drop releases the pin; expiration then reclaims the old snapshot
    store.drop_tag("t", "v1")
    store.expire_snapshots("t", keep_last=1)
    assert store.tags("t") == {}
    with pytest.raises(FileNotFoundError):
        store.manifest("t", s0)


def test_branches_move_resolve_and_survive_expiration(spark, store):
    """Iceberg-branch analog: a branch is a MUTABLE named pointer —
    reads resolve it, move_branch re-points it (chained CAS versions),
    expire keeps the branch-referenced snapshot, names are one
    namespace with tags."""
    from ariadne_spark.store import CommitConflict

    store.write_table(_frame(spark, n_parts=2), "t", key="k")
    s0 = store.current_snapshot_id("t")
    store.branch("t", "prod")
    assert store.branches("t") == {"prod": s0}

    upd = _mk(spark, [("p0", 9, "z")], "k string, v long, s string")
    store.overwrite_partitions(upd, "t", key="k")
    s1 = store.current_snapshot_id("t")

    # branch still serves s0 until moved
    assert store.read("t", snapshot_id="prod").count() == 100
    store.move_branch("t", "prod", s1)
    assert store.branches("t") == {"prod": s1}
    assert store.read("t", snapshot_id="prod").count() == 51

    # move back (a rollback-of-the-published-view): s0 must survive
    # expiration while the branch references it
    store.move_branch("t", "prod", s0)
    store.expire_snapshots("t", keep_last=1)
    assert store.read("t", snapshot_id="prod").count() == 100

    # duplicate create raises; tag/branch namespace is exclusive
    with pytest.raises(CommitConflict):
        store.branch("t", "prod")
    with pytest.raises(AssertionError):
        store.tag("t", "prod")
    store.tag("t", "rel1")
    with pytest.raises(AssertionError):
        store.branch("t", "rel1")

    store.drop_branch("t", "prod")
    assert store.branches("t") == {}
    with pytest.raises(AssertionError):
        store.read("t", snapshot_id="prod")


def test_move_branch_race_is_a_publication_conflict(spark, store):
    """Two movers racing from the same observed version: exactly one
    wins; the loser gets CommitConflict (must re-audit)."""
    from ariadne_spark.store import CommitConflict

    store.write_table(_frame(spark, n_parts=1), "t", key="k")
    s0 = store.current_snapshot_id("t")
    store.branch("t", "prod", s0)
    store.write_table(_frame(spark, n_parts=2), "t", key="k")
    s1 = store.current_snapshot_id("t")

    # race window: the victim observed version 0, then the competitor
    # created version 1 before the victim's CAS attempt — pin the
    # victim's observation and let the competitor win version 1
    assert store.backend.create_exclusive(
        store._branch_prefix("t", "prod") + "1", str(s0)
    )
    orig = store._branch_version
    store._branch_version = lambda t, n: 0
    try:
        with pytest.raises(CommitConflict, match="moved concurrently"):
            store.move_branch("t", "prod", s1)
    finally:
        store._branch_version = orig
    # the winner's pointer holds
    assert store.branches("t") == {"prod": s0}


def test_write_audit_publish_gates_the_published_view(spark, store):
    """WAP: a failing audit leaves the published branch untouched (the
    bad snapshot exists in history but is invisible to branch
    readers); a passing audit fast-forwards it."""
    good = _mk(
        spark,
        [("p0", 1, "a"), ("p0", 2, "b"), ("p1", 3, "c")],
        "k string, v long, s string",
    )
    bad = _mk(spark, [("p0", -5, "x")], "k string, v long, s string")

    def audit(df):
        return df.where(df.v < 0).limit(1).count() == 0

    sid0, ok0 = store.write_audit_publish(good, "t", "k", audit)
    assert ok0 and store.branches("t") == {"published": sid0}
    assert store.read("t", snapshot_id="published").count() == 3

    sid1, ok1 = store.write_audit_publish(bad, "t", "k", audit)
    assert not ok1
    # history advanced, published view did not
    assert store.current_snapshot_id("t") == sid1 > sid0
    assert store.branches("t") == {"published": sid0}
    assert store.read("t", snapshot_id="published").count() == 3

    good2 = good.where(good.v != 2)
    sid2, ok2 = store.write_audit_publish(good2, "t", "k", audit)
    assert ok2 and store.branches("t") == {"published": sid2}
    assert store.read("t", snapshot_id="published").count() == 2


# ---------------------------------------------------------------------------
# per-FILE zone maps + Hilbert-clustered layout
# ---------------------------------------------------------------------------


def _geo_frame(spark, n=4000):
    """Deterministic skew-realistic lon/lat rows (synth geo law) under
    a SINGLE partition key, so all pruning power must come from the
    per-FILE zone maps, not partition pruning."""
    import numpy as np

    from ariadne_spark.synth.images import geo_micro

    ids = np.arange(n, dtype=np.int64)
    lon_u, lat_u = geo_micro(ids)
    rows = [
        (int(i), "all", int(lo), int(la))
        for i, lo, la in zip(ids, lon_u, lat_u)
    ]
    return spark.createDataFrame(rows, "id long, k string, lon_u long, lat_u long")


def test_hilbert_clustered_compact_prunes_files_on_bbox_read(spark, store):
    """The Z-ORDER rewrite_data_files analog end-to-end: an id-ordered
    write leaves every file spanning the whole globe (a bbox read must
    open ALL of them); compacting with a Hilbert sort key re-clusters
    the same rows so each file covers a tight curve range, and the SAME
    bbox read — same API, same results — opens only the few overlapping
    files via the manifest's per-file zone maps."""
    from ariadne_spark.functions import cells

    df = _geo_frame(spark)
    store.write_table(
        df, "geo", key="k", stats_cols=["lon_u", "lat_u"],
        sort_cols=[F.col("id")], max_records_per_file=125,
    )
    # ~0.6 x 0.6 deg bbox on the Paris-ish synth hotspot (~280 rows)
    bbox = {
        "lon_u": (182_050_000, 182_650_000),
        "lat_u": (138_550_000, 139_150_000),
    }
    before_df = store.read("geo", where=bbox)
    before_rows = sorted((r["id"],) for r in before_df.collect())
    before_files = len(before_df.inputFiles())
    assert before_rows, "bbox must actually match rows"
    assert before_files >= 30, "unclustered layout must read ~every file"

    sid = store.compact(
        "geo",
        sort_cols=[cells.hilbert_key(cells.cell_encode(F.col("lon_u"), F.col("lat_u"), 14))],
        max_records_per_file=125,
    )
    after_df = store.read("geo", where=bbox)
    after_rows = sorted((r["id"],) for r in after_df.collect())
    after_files = len(after_df.inputFiles())

    assert after_rows == before_rows, "clustering must not change results"
    # measured: 32 -> 8 files (the residue IS the hotspot: ~900 hotspot
    # rows / 125 per file ≈ 7 files whose bboxes genuinely overlap)
    assert after_files * 4 <= before_files, (
        f"Hilbert clustering should skip most files: read {after_files} "
        f"of {before_files}"
    )
    # the manifest records per-file stats for the multi-file partition
    m = store.manifest("geo", sid)
    files = m.partitions["all"].get("files")
    assert files and len(files) >= 30
    assert all("lon_u" in fe["stats"] and "lat_u" in fe["stats"] for fe in files)
    assert sum(fe["n_rows"] for fe in files) == 4000


def test_file_pruning_is_semantics_preserving_with_updates(spark, store):
    """File-level pruning composes with overwrites and missing stats:
    results always equal full-scan-then-filter, and files written
    without stats are conservatively kept."""
    df = _geo_frame(spark, 1200)
    store.write_table(
        df, "geo2", key="k", stats_cols=["lon_u", "lat_u"],
        max_records_per_file=100,
    )
    bbox = {"lon_u": (100_000_000, 200_000_000), "lat_u": (None, 120_000_000)}
    got = store.read("geo2", where=bbox)
    want = store.read("geo2").where(
        (F.col("lon_u") >= 100_000_000)
        & (F.col("lon_u") <= 200_000_000)
        & (F.col("lat_u") <= 120_000_000)
    )
    assert sorted(got.collect()) == sorted(want.collect())
    # single-file partitions don't carry a redundant files list
    small = _geo_frame(spark, 30)
    store.write_table(small, "geo3", key="k", stats_cols=["lon_u"])
    m = store.manifest("geo3")
    assert "files" not in m.partitions["all"]
    # a no-stats table never file-prunes (and never errors)
    store.write_table(small, "geo4", key="k")
    assert store.read("geo4", where={"lon_u": (0, 1)}).count() == small.where(
        (F.col("lon_u") >= 0) & (F.col("lon_u") <= 1)
    ).count()


def test_hive_special_key_values_roundtrip(spark, store):
    """Spark's partitionBy hive-escapes special chars in directory
    names; manifests must record the ESCAPED path or read() points at
    a directory that does not exist. Keys with every escaped-class
    char must write, list per-file zone maps under the right key, and
    read back exactly."""
    vals = ["2024/01", "us:west", "a=b", "pct%20", "hash#1", "q?x",
            "br[2]", "cu{3}", "tab\tx", "plain"]
    df = _mk(
        spark,
        [(v, i, i * 10) for i, v in enumerate(vals)],
        "k string, v int, x int",
    )
    store.write_table(df, "hive_esc", key="k", stats_cols=["v"])
    got = {
        (r["k"], r["v"]) for r in store.read("hive_esc").collect()
    }
    assert got == {(v, i) for i, v in enumerate(vals)}
    # partition pruning by key still addresses the right directory
    one = store.read("hive_esc", keys=["2024/01"]).collect()
    assert [(r["k"], r["v"]) for r in one] == [("2024/01", 0)]
    # zone-map pruned read == full-scan filter (the module invariant)
    pruned = {
        (r["k"], r["v"])
        for r in store.read("hive_esc", where={"v": (3, 5)}).collect()
    }
    assert pruned == {(v, i) for i, v in enumerate(vals) if 3 <= i <= 5}


def test_null_empty_key_values_rejected(spark, store):
    """NULL and '' both land in __HIVE_DEFAULT_PARTITION__ (probed on
    this Spark), and 'None' collides with NULL's string rendering in
    the manifest key — all must fail loudly instead of committing a
    manifest whose path is ambiguous or nonexistent."""
    for bad in [None, "", "None"]:
        df = _mk(spark, [(bad, 1), ("ok", 2)], "k string, v int")
        with pytest.raises(ValueError, match="partition key value"):
            store.write_table(df, f"badkey_{hash(bad)}", key="k")
