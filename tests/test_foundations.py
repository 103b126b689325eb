"""Unit tests for grid math, codecs, phash, geometry, synth generators.

Mirrors the reference's exact-assertion discipline
(`/root/reference/CLAUDE.md:112-117`: exact equality, no weak checks).
"""

import numpy as np
import pytest

from ariadne_spark.functions import cells, codecs, geometry, phash
from ariadne_spark.synth import images as synth_images
from ariadne_spark.synth import regions as synth_regions


class TestCells:
    def test_encode_known_values(self):
        # lon_u=180e6 (0 deg), lat_u=90e6 (0 deg) at res 1 -> x=1, y=1
        lon = np.array([180_000_000], dtype=np.int64)
        lat = np.array([90_000_000], dtype=np.int64)
        cell = cells.np_cell_encode(lon, lat, 1)
        assert cell[0] == (1 << 56) | (1 << 28) | 1

    def test_parent_is_containment(self):
        lon = np.array([123_456_789, 0, 359_999_999], dtype=np.int64)
        lat = np.array([45_678_901, 0, 179_999_999], dtype=np.int64)
        child = cells.np_cell_encode(lon, lat, 10)
        parent = cells.np_cell_parent(child)
        direct = cells.np_cell_encode(lon, lat, 9)
        np.testing.assert_array_equal(parent, direct)

    def test_parent_multi_step(self):
        lon = np.array([200_000_000], dtype=np.int64)
        lat = np.array([100_000_000], dtype=np.int64)
        c10 = cells.np_cell_encode(lon, lat, 10)
        c6 = cells.np_cell_encode(lon, lat, 6)
        np.testing.assert_array_equal(cells.np_cell_parent(c10, 4), c6)

    def test_morton_locality(self):
        x = np.array([0, 1, 0, 1], dtype=np.int64)
        y = np.array([0, 0, 1, 1], dtype=np.int64)
        np.testing.assert_array_equal(cells.np_morton(x, y, 2), [0, 2, 1, 3])


class TestCodecs:
    def test_png_roundtrip_exact(self):
        px = synth_images.render_pixels(7, 32, 16)
        data = codecs.encode_png(px)
        assert data[:8] == codecs.PNG_SIG
        np.testing.assert_array_equal(codecs.decode_png(data), px)

    def test_fjpg_lossy_psnr_above_40(self):
        px = synth_images.render_pixels(11, 64, 64)
        out = codecs.decode_fjpg(codecs.encode_fjpg(px))
        assert codecs.psnr(px, out) >= 40.0

    def test_psnr_identical_is_inf(self):
        px = synth_images.render_pixels(3, 16, 16)
        assert codecs.psnr(px, px) == float("inf")


class TestPhash:
    def test_deterministic_and_locality(self):
        px = synth_images.render_pixels(5, 64, 64)
        h1 = phash.np_phash_from_pixels(px)
        h2 = phash.np_phash_from_pixels(px)
        assert h1 == h2
        # small perturbation -> small hamming distance
        px2 = px.copy()
        px2[0, 0] = [255, 255, 255]
        h3 = phash.np_phash_from_pixels(px2)
        assert bin((h1 ^ h3) & (2**64 - 1)).count("1") <= 8
        # a very different image -> larger distance
        px3 = 255 - px
        h4 = phash.np_phash_from_pixels(px3)
        assert bin((h1 ^ h4) & (2**64 - 1)).count("1") > 8

    def test_phash_from_lossy_bytes_close(self):
        px = synth_images.render_pixels(9, 32, 32)
        h_exact = phash.np_phash_from_pixels(px)
        h_lossy = phash.np_phash_from_bytes(codecs.encode_fjpg(px), "fjpg")
        assert bin((h_exact ^ h_lossy) & (2**64 - 1)).count("1") <= 6


class TestGeometry:
    def test_wkt_roundtrip(self):
        poly = geometry.regular_polygon(100.0, 200.0, 50.0, 6, 0.3)
        back = geometry.parse_wkt(geometry.to_wkt(poly))
        np.testing.assert_allclose(back, poly, atol=0.1)

    def test_pip_square(self):
        square = np.array([[0, 0], [10, 0], [10, 10], [0, 10]], dtype=float)
        px = np.array([5.0, 15.0, -1.0, 9.99])
        py = np.array([5.0, 5.0, 5.0, 9.99])
        np.testing.assert_array_equal(
            geometry.points_in_polygon(px, py, square), [True, False, False, True]
        )

    def test_pip_hexagon_center_and_outside(self):
        hexagon = geometry.regular_polygon(0.0, 0.0, 10.0, 6, 0.0)
        inside = geometry.points_in_polygon(np.array([0.0]), np.array([0.0]), hexagon)
        outside = geometry.points_in_polygon(np.array([11.0]), np.array([0.0]), hexagon)
        assert inside[0] and not outside[0]


class TestSynth:
    def test_images_prefix_stable(self):
        a = synth_images.generate_batch(0, 20).to_pydict()
        b = synth_images.generate_batch(10, 10).to_pydict()
        assert a["image_id"][10:] == b["image_id"]
        assert a["phash"][10:] == b["phash"]
        assert a["caption"][10:] == b["caption"]
        assert a["bytes"][10:] == b["bytes"]

    def test_captions_unique(self):
        caps = synth_images.generate_batch(0, 500).to_pydict()["caption"]
        assert len(set(caps)) == 500

    def test_image_bytes_decode_and_skew(self):
        t = synth_images.generate_batch(0, 300).to_pydict()
        px = codecs.decode_image(t["bytes"][0], t["fmt"][0])
        assert px.shape == (t["h"][0], t["w"][0], 3)
        # hotspot mixture: most points near a center (skew exists)
        lon = np.array(t["lon_u"])
        near = 0
        for clon, clat in synth_images.CENTERS:
            cu = (clon + 180) * 1e6
            near += int(np.sum(np.abs(lon - cu) < 600_000))
        assert near > 150  # ~80% of 300 in hotspots

    def test_regions_tree_strict_containment(self):
        rows = synth_regions.generate_regions()
        by_id = {r["region_id"]: r for r in rows}
        assert sum(1 for r in rows if r["parent_region_id"] is None) == 4
        for r in rows:
            pid = r["parent_region_id"]
            if pid is None:
                continue
            assert by_id[pid]["depth"] == r["depth"] - 1
            child = geometry.parse_wkt(r["wkt"])
            parent = geometry.parse_wkt(by_id[pid]["wkt"])
            ok = geometry.points_in_polygon(child[:, 0], child[:, 1], parent)
            assert ok.all(), f"{r['region_id']} leaks outside {pid}"

    def test_sibling_disjoint_except_error_fixture(self):
        rows = synth_regions.generate_regions(with_overlap_error=True)
        ids = [r["region_id"] for r in rows]
        assert "reg_overlap_0" in ids and "reg_overlap_1" in ids
        a = geometry.parse_wkt([r for r in rows if r["region_id"] == "reg_overlap_0"][0]["wkt"])
        b = geometry.parse_wkt([r for r in rows if r["region_id"] == "reg_overlap_1"][0]["wkt"])
        # they do overlap: a's centroid is inside b or vice versa
        ca = a.mean(axis=0)
        assert geometry.points_in_polygon(
            np.array([ca[0]]), np.array([ca[1]]), b
        )[0]


if __name__ == "__main__":
    pytest.main([__file__, "-x", "-q"])


# ---------------------------------------------------------- hilbert curve

def test_hilbert_is_canonical_curve():
    """Exhaustive order-3: the 8x8 keys are a permutation of 0..63 and
    walking them in key order steps exactly one cell at a time — THE
    Hilbert property (Morton fails this at every quadrant boundary),
    which is what buys strictly better file-clustering locality."""
    import numpy as np

    from ariadne_spark.functions.cells import np_hilbert, np_morton

    xs, ys = np.meshgrid(np.arange(8), np.arange(8))
    d = np_hilbert(xs.ravel(), ys.ravel(), 3)
    assert sorted(d) == list(range(64))
    order = np.argsort(d)
    steps = (
        np.abs(np.diff(xs.ravel()[order]))
        + np.abs(np.diff(ys.ravel()[order]))
    )
    assert (steps == 1).all()
    # morton, for contrast, jumps at quadrant seams
    dm = np_morton(xs.ravel(), ys.ravel(), 3)
    om = np.argsort(dm)
    sm = np.abs(np.diff(xs.ravel()[om])) + np.abs(np.diff(ys.ravel()[om]))
    assert (sm > 1).any()


def test_hilbert_three_way_parity(spark):
    """Spark UDF == DuckDB CTE chain == numpy on random cells."""
    import duckdb
    import numpy as np

    from ariadne_spark.functions import cells

    from pyspark.sql import functions as F

    rng = np.random.default_rng(7)
    n, order = 300, 8
    xs = rng.integers(0, 1 << order, n)
    ys = rng.integers(0, 1 << order, n)
    exp = cells.np_hilbert(xs, ys, order)

    df = spark.createDataFrame(
        [(int(i), int(x), int(y)) for i, (x, y) in enumerate(zip(xs, ys))],
        "doc_id long, x long, y long",
    )
    packed = cells.pack_cell(F.lit(order), F.col("x"), F.col("y"))
    got = {
        r["doc_id"]: r["h"]
        for r in df.select(
            "doc_id", cells.hilbert_key(packed, order=order).alias("h")
        ).collect()
    }
    assert [got[i] for i in range(n)] == list(exp)

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE pts AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, {int(x)}, {int(y)})" for i, (x, y) in enumerate(zip(xs, ys)))
        + ") AS v(doc_id, x, y)"
    )
    chain = cells.hilbert_sql_chain("pts", order)
    o = con.execute(f"WITH {chain} SELECT doc_id, hd FROM __h{order}").df()
    duck = dict(zip(o["doc_id"].astype(int), o["hd"].astype(int)))
    assert [duck[i] for i in range(n)] == list(exp)


def test_hilbert_key_null_propagates(spark):
    """NULL cells -> NULL keys (morton_key's semantics), not a task
    failure from the int64 conversion."""
    from pyspark.sql import functions as F

    from ariadne_spark.functions import cells

    df = spark.createDataFrame([(1, 5), (2, None)], "id long, cell long")
    got = {
        r["id"]: r["h"]
        for r in df.select(
            "id", cells.hilbert_key(F.col("cell"), order=4).alias("h")
        ).collect()
    }
    assert got[2] is None and got[1] is not None


def test_shuffle_policy_defaults_and_explicit_pin():
    """Session partitioning policy (BENCH.md round-4 A/Bs): the default
    sets a cores*8 AQE initial partition count (wave smoothing; AQE
    coalesces small shuffles back down by bytes) over a cores*2 non-AQE
    fallback, and an EXPLICIT shuffle_partitions pins BOTH knobs so
    physical-plan A/Bs stay reproducible."""
    from ariadne_spark.session import shuffle_policy

    assert shuffle_policy(32, None) == (64, 256)
    assert shuffle_policy(8, None) == (16, 64)
    # floors for tiny hosts
    assert shuffle_policy(2, None) == (8, 64)
    # explicit pins both (the A/B-reproducibility contract)
    assert shuffle_policy(32, 16) == (16, 16)
    assert shuffle_policy(8, 256) == (256, 256)
    # 0 is not "use defaults" — it must fail loudly, never reach Spark
    with pytest.raises(ValueError):
        shuffle_policy(8, 0)
    with pytest.raises(ValueError):
        shuffle_policy(8, -4)


def test_df_fingerprint_partition_and_order_invariant(spark):
    """The ONE shared fingerprint construction (pipeline_bench /
    bench_stress equality evidence): invariant to partitioning and row
    order, sensitive to content and row count, and column ORDER feeds
    the hash (so comparisons require an agreed projection order)."""
    from pyspark.sql import functions as F

    from ariadne_spark.functions.fingerprint import df_fingerprint

    df = spark.createDataFrame(
        [(i, f"s{i}") for i in range(100)], "a long, b string"
    )
    f1 = df_fingerprint(df.repartition(1))
    f16 = df_fingerprint(df.repartition(16).sortWithinPartitions(F.desc("a")))
    assert f1 == f16
    assert f1[0] == 100
    # content-sensitive
    assert df_fingerprint(df.where(F.col("a") != 7)) != f1
    # explicit cols subset == projecting first
    assert df_fingerprint(df, cols=["a"]) == df_fingerprint(df.select("a"))
    # column order is part of the identity (documented)
    assert df_fingerprint(df.select("b", "a")) != f1


def test_cell_prefix_mixed_resolution_column(spark):
    """cell_prefix takes a per-row VARIABLE shift (res - prefix_res is
    a Column): it must equal both the closed-form re-encode at the
    prefix resolution and a cell_parent chain, on a column mixing
    resolutions — the shape the partition-key use case implies."""
    from pyspark.sql import functions as F

    from ariadne_spark.functions import cells

    rows = [
        (123_456_789, 45_678_901, 14),
        (359_999_999, 179_999_999, 12),
        (0, 0, 8),
        (180_000_000, 90_000_000, 6),
    ]
    df = spark.createDataFrame(rows, "lon_u long, lat_u long, res int")
    pr = 6
    got = [
        (r["p"], r["e"], r["chain"])
        for r in df.select(
            cells.cell_prefix(
                F.when(F.col("res") == 14, cells.cell_encode(F.col("lon_u"), F.col("lat_u"), 14))
                .when(F.col("res") == 12, cells.cell_encode(F.col("lon_u"), F.col("lat_u"), 12))
                .when(F.col("res") == 8, cells.cell_encode(F.col("lon_u"), F.col("lat_u"), 8))
                .otherwise(cells.cell_encode(F.col("lon_u"), F.col("lat_u"), 6)),
                pr,
            ).alias("p"),
            cells.cell_encode(F.col("lon_u"), F.col("lat_u"), pr).alias("e"),
            F.when(F.col("res") == 14, cells.cell_parent(cells.cell_encode(F.col("lon_u"), F.col("lat_u"), 14), 8))
            .when(F.col("res") == 12, cells.cell_parent(cells.cell_encode(F.col("lon_u"), F.col("lat_u"), 12), 6))
            .when(F.col("res") == 8, cells.cell_parent(cells.cell_encode(F.col("lon_u"), F.col("lat_u"), 8), 2))
            .otherwise(cells.cell_encode(F.col("lon_u"), F.col("lat_u"), 6))
            .alias("chain"),
        ).collect()
    ]
    for p, e, chain in got:
        assert p == e == chain


def test_df_fingerprint_matches_python_fold(spark):
    """The decimal(38,0) half-sums (overflow-proof at any row count
    under ANSI mode) must fold to the SAME value as the definition:
    python big-int sum of per-row xxhash64 halves — recorded BENCH.md
    fingerprints stay comparable."""
    from pyspark.sql import functions as F

    from ariadne_spark.functions.fingerprint import df_fingerprint

    df = spark.createDataFrame(
        [(i, f"s{i}") for i in range(257)], "a long, b string"
    )
    hs = [
        r["h"]
        for r in df.select(F.xxhash64(F.col("a"), F.col("b")).alias("h")).collect()
    ]
    hi = sum((h >> 32) & 0xFFFFFFFF for h in hs)
    lo = sum(h & 0xFFFFFFFF for h in hs)
    expected = ((hi << 32) + lo) % (1 << 64)
    assert df_fingerprint(df) == [257, expected]


def test_scaled_initial_partitions_law():
    """Bytes-scaled AQE sizing: floor at cores (parallelismFirst
    contract), one partition per ~4 MB in between, ceiling at cores*8
    (the round-4 wave-smoothing policy — big inputs land exactly
    there, so the 24M/2M pipeline wins are structurally preserved)."""
    from ariadne_spark.session import scaled_initial_partitions

    assert scaled_initial_partitions(32, 0) == 32            # floor
    assert scaled_initial_partitions(32, 17_500_000) == 32   # sf0.1 corpus
    assert scaled_initial_partitions(32, 400 << 20) == 100   # 400MB -> bytes law
    assert scaled_initial_partitions(32, 10 << 40) == 256    # 10TB -> ceiling
    assert scaled_initial_partitions(8, 10 << 40) == 64
    assert scaled_initial_partitions(2, 123) == 8            # tiny-box floor


def test_entry_loader_scales_session_to_corpus(spark, tmp_path):
    """__spark_entry__._t must retune an UNPINNED session's AQE initial
    partition number to the sf_dir's on-disk size. The session starts
    off the floor, so only a retune can land it there."""
    import __spark_entry__ as E
    from ariadne_spark.session import INITIAL_PARTITIONS, SHUFFLE_PINNED

    spark.range(10).write.parquet(str(tmp_path / "region.parquet"))
    unpinned = spark.newSession()  # own SQL conf, shared SparkContext
    unpinned.conf.set(SHUFFLE_PINNED, "false")
    unpinned.conf.set(INITIAL_PARTITIONS, "13")
    E._t(unpinned, str(tmp_path), "region").count()
    cores = spark.sparkContext.defaultParallelism
    assert int(unpinned.conf.get(INITIAL_PARTITIONS)) == max(cores, 8)  # tiny corpus -> floor


def test_entry_loader_leaves_pinned_session_alone(spark, tmp_path):
    """A session built with an explicit shuffle_partitions is pinned:
    the sf-dir loader must not overwrite its AQE initial partition
    number, here set to a value the sizing policy would never pick."""
    import __spark_entry__ as E
    from ariadne_spark.session import INITIAL_PARTITIONS, SHUFFLE_PINNED

    assert spark.conf.get(SHUFFLE_PINNED) == "true"  # conftest pins at 8
    spark.range(10).write.parquet(str(tmp_path / "region.parquet"))
    old = spark.conf.get(INITIAL_PARTITIONS)
    try:
        spark.conf.set(INITIAL_PARTITIONS, "13")
        E._t(spark, str(tmp_path), "region").count()
        assert spark.conf.get(INITIAL_PARTITIONS) == "13"
    finally:
        spark.conf.set(INITIAL_PARTITIONS, old)


def test_entry_loader_sizes_directory_tables(spark, tmp_path):
    """An sf_dir whose table is a Spark-written directory of part files
    is sized by the bytes of those part files, not by the directory
    entry's own size."""
    import __spark_entry__ as E

    spark.range(2000).repartition(2).write.parquet(str(tmp_path / "t.parquet"))
    parts = list((tmp_path / "t.parquet").glob("*.parquet"))
    assert len(parts) >= 2
    assert E._t(spark, str(tmp_path), "t").count() == 2000
    assert E._SF_BYTES[str(tmp_path)] == sum(p.stat().st_size for p in parts)
