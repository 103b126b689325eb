"""Operator tests vs pure-python oracles (exact row-set equality).

The reference asserts full golden indexes with exact toEqual
(`/root/reference/CLAUDE.md:112-117`); here every operator result is
compared against an independently-computed numpy/python oracle on the
same deterministic fixture tables.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from ariadne_spark.functions import cells
from ariadne_spark.functions.geometry import parse_wkt, points_in_polygon
from ariadne_spark.operators.knn import knn_edges
from ariadne_spark.operators.pip import pip_join
from ariadne_spark.operators.tiles import build_pyramid, rasterize_tiles, roundtrip_check
from ariadne_spark.synth.regions import generate_regions

from conftest import popcount64


def oracle_pip(images_np, regions, deepest_only=True):
    """Pure-python PIP oracle: every (image, region) containment row."""
    px = images_np["lon_u"].astype(np.float64)
    py = images_np["lat_u"].astype(np.float64)
    ids = images_np["image_id"]
    rows = []
    for r in regions:
        poly = parse_wkt(r["wkt"])
        inside = points_in_polygon(px, py, poly)
        for i in np.nonzero(inside)[0]:
            rows.append((ids[i], r["region_id"], r["depth"]))
    if not deepest_only:
        return set(rows)
    best = {}
    for img, rid, depth in rows:
        cur = best.get(img)
        # deepest wins; tie-break region_id asc (engine contract)
        key = (-depth, rid)
        if cur is None or key < cur[0]:
            best[img] = (key, rid, depth)
    return {(img, v[1], v[2]) for img, v in best.items()}


class TestPipJoin:
    def test_full_chain_matches_oracle(self, spark, images_df, images_np, regions):
        got = {
            (r.image_id, r.region_id, r.depth)
            for r in pip_join(images_df, regions, deepest_only=False).collect()
        }
        assert got == oracle_pip(images_np, regions, deepest_only=False)
        assert len(got) > 100  # fixture sanity: hotspots land inside regions

    def test_deepest_wins_matches_oracle(self, spark, images_df, images_np, regions):
        got = {
            (r.image_id, r.region_id, r.depth)
            for r in pip_join(images_df, regions, deepest_only=True).collect()
        }
        assert got == oracle_pip(images_np, regions, deepest_only=True)

    def test_overlap_raises_tie_error(self, spark, data_dir):
        # points planted inside the overlapping pair
        import pyarrow as pa
        import pyarrow.parquet as pq

        bad = generate_regions(with_overlap_error=True)
        pts = pa.table(
            {
                "image_id": pa.array(["p0", "p1"]),
                "lon_u": pa.array([10_050_000, 10_060_000], pa.int64()),
                "lat_u": pa.array([100_000_000, 100_010_000], pa.int64()),
            }
        )
        p = str(data_dir / "overlap_points.parquet")
        pq.write_table(pts, p)
        df = pts_df = __import__("pyspark.sql", fromlist=["SparkSession"]).SparkSession.getActiveSession().read.parquet(p)
        with pytest.raises(Exception, match="ambiguous containment"):
            pip_join(df, bad, deepest_only=True).collect()

    def test_pip_plan_has_no_shuffle(self, spark, images_df, regions):
        plan = pip_join(images_df, regions, deepest_only=True)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, f"PIP must be shuffle-free, got:\n{plan}"


def oracle_knn(images_np, k, max_hamming, res, kring, n_bands):
    """Pure-python banded-kNN oracle (same operator contract)."""
    n = len(images_np["image_id"])
    ph = images_np["phash"].astype(np.int64)
    cell = cells.np_cell_encode(images_np["lon_u"], images_np["lat_u"], res)
    x = (cell >> cells.X_SHIFT) & cells.XY_MASK
    y = cell & cells.XY_MASK
    width = 64 // n_bands
    mask = (1 << width) - 1
    bands = np.stack(
        [(ph.astype(np.uint64) >> np.uint64(b * width)).astype(np.int64) & mask for b in range(n_bands)],
        axis=1,
    )
    nside = 1 << res
    edges = {}
    # candidate pairs: same band value in some band AND dst in k-ring of src
    for b in range(n_bands):
        order = np.argsort(bands[:, b], kind="stable")
        vals = bands[order, b]
        starts = np.flatnonzero(np.r_[True, vals[1:] != vals[:-1]])
        ends = np.r_[starts[1:], len(vals)]
        for s, e in zip(starts, ends):
            grp = order[s:e]
            if len(grp) < 2:
                continue
            for i in grp:
                for j in grp:
                    if i == j:
                        continue
                    dx = (x[j] - x[i]) % nside
                    if min(dx, nside - dx) > kring or abs(int(y[j] - y[i])) > kring:
                        continue
                    d = int(popcount64(np.array([ph[i] ^ ph[j]]))[0])
                    if d <= max_hamming:
                        key = (images_np["image_id"][i], images_np["image_id"][j])
                        edges[key] = min(edges.get(key, 99), d)
    out = set()
    by_src = {}
    for (src, dst), d in edges.items():
        by_src.setdefault(src, []).append((d, dst))
    for src, lst in by_src.items():
        lst.sort()
        for rank, (d, dst) in enumerate(lst[:k], 1):
            out.add((src, dst, d, rank))
    return out


class TestKnn:
    @pytest.mark.parametrize("salt", [1, 4])
    def test_knn_matches_oracle(self, spark, images_df, images_np, salt):
        k, mh, res, kr, nb = 3, 16, 5, 1, 4
        got = {
            (r.src_image_id, r.dst_image_id, r.hamming, r.rank)
            for r in knn_edges(images_df, k=k, max_hamming=mh, res=res, kring=kr, n_bands=nb, salt=salt).collect()
        }
        exp = oracle_knn(images_np, k, mh, res, kr, nb)
        assert got == exp
        assert len(got) > 50  # fixture sanity: hotspot cells produce links

    def test_physical_knobs_do_not_change_results(self, spark, images_df):
        """prune_build and mirror are physical-plan choices only: every
        combination returns the identical edge set (unpruned build
        replicas land in probe-less cells and the join drops them;
        half-ring + post-join mirroring finds the same unordered pairs
        once instead of twice). reason/confidence included: provenance
        strings must survive the mirror path byte-identically."""
        cols = (
            "src_image_id", "dst_image_id", "hamming", "rank",
            "confidence", "reason",
        )
        base = {
            tuple(r[c] for c in cols)
            for r in knn_edges(
                images_df, k=3, max_hamming=16, prune_build=True, mirror=False,
            ).collect()
        }
        for prune in (False, None):
            for mir in (False, True, None):
                got = {
                    tuple(r[c] for c in cols)
                    for r in knn_edges(
                        images_df, k=3, max_hamming=16,
                        prune_build=prune, mirror=mir,
                    ).collect()
                }
                assert got == base, (prune, mir)

    def test_half_kring_offsets_partition(self):
        """half_kring_offsets picks exactly one of each antipodal pair
        (plus the center) — the invariant that makes 'found once,
        mirrored into both directions' exact."""
        from ariadne_spark.functions import cells

        for k in (1, 2, 3):
            full = set(cells.kring_offsets(k))
            half = cells.half_kring_offsets(k)
            hs = set(half)
            assert (0, 0) in hs
            assert len(half) == len(hs) and hs <= full
            assert len(hs) == (len(full) - 1) // 2 + 1
            for off in full - {(0, 0)}:
                neg = (-off[0], -off[1])
                assert (off in hs) != (neg in hs), off

    def test_mirror_kring2(self, spark, images_df):
        """Half-ring mirroring stays exact on the wider ring (13 replica
        cells instead of 25)."""
        cols = ("src_image_id", "dst_image_id", "hamming", "rank", "reason")
        runs = [
            {
                tuple(r[c] for c in cols)
                for r in knn_edges(
                    images_df, k=3, max_hamming=16, kring=2, mirror=mir
                ).collect()
            }
            for mir in (False, True)
        ]
        assert runs[0] == runs[1] and len(runs[0]) > 50

    def test_confidence_grades(self, spark, images_df):
        rows = knn_edges(images_df, k=3, max_hamming=16).collect()
        for r in rows:
            if r.hamming == 0:
                assert r.confidence == "certain"
            elif r.hamming <= 8:
                assert r.confidence == "probable"
            else:
                assert r.confidence == "possible"

    def test_reason_encodes_locality_and_band(self, spark, images_df, images_np):
        """Resolution.reason: '<same-cell|ring-neighbor>/band<b>' where
        the locality half is re-derivable from the two images' cells and
        the band is the FIRST band whose values match (the first-match
        dedup invariant)."""
        import re

        res, nb = 7, 4  # finer grid so ring-neighbor links exist
        nside = 1 << res
        by_id = {
            images_np["image_id"][i]: i for i in range(len(images_np["image_id"]))
        }
        x = (images_np["lon_u"].astype(np.int64) * nside) // cells.LON_SPAN
        y = (images_np["lat_u"].astype(np.int64) * nside) // cells.LAT_SPAN
        ph = images_np["phash"].astype(np.uint64)
        rows = knn_edges(images_df, k=3, max_hamming=16, res=res, n_bands=nb).collect()
        assert rows
        seen = set()
        for r in rows:
            m = re.fullmatch(r"(same-cell|ring-neighbor)/band(\d)", r.reason)
            assert m, r.reason
            i, j = by_id[r.src_image_id], by_id[r.dst_image_id]
            same = x[i] == x[j] and y[i] == y[j]
            assert (m.group(1) == "same-cell") == same, r
            first_band = next(
                b for b in range(nb)
                if (int(ph[i]) >> (16 * b)) & 0xFFFF == (int(ph[j]) >> (16 * b)) & 0xFFFF
            )
            assert int(m.group(2)) == first_band, r
            seen.add(m.group(1))
        assert seen == {"same-cell", "ring-neighbor"}  # both paths exercised


class TestTiles:
    def test_pyramid_levels_consistent(self, spark, images_df):
        pyr = build_pyramid(images_df, max_z=8, min_z=0).collect()
        total = images_df.count()
        by_z = {}
        for r in pyr:
            by_z.setdefault(r.z, 0)
            by_z[r.z] += r.n_images
        # every level partitions the full image set
        assert all(v == total for v in by_z.values()), by_z
        # z=0 is a single world tile
        z0 = [r for r in pyr if r.z == 0]
        assert len(z0) <= 2 and sum(r.n_images for r in z0) == total

    def test_pyramid_matches_direct_assignment(self, spark, images_df, images_np):
        z = 6
        pyr = {(r.tx, r.ty): r.n_images for r in build_pyramid(images_df, max_z=8, min_z=6).collect() if r.z == z}
        tx = (images_np["lon_u"].astype(np.int64) * (1 << z)) // cells.LON_SPAN
        ty = (images_np["lat_u"].astype(np.int64) * (1 << z)) // cells.LAT_SPAN
        exp = {}
        for a, b in zip(tx, ty):
            exp[(a, b)] = exp.get((a, b), 0) + 1
        assert pyr == exp

    @pytest.mark.parametrize("fmt", ["png", "fjpg"])
    def test_rasterize_roundtrip(self, spark, images_df, fmt):
        z = 4
        tiles = rasterize_tiles(images_df, z, fmt=fmt)
        chk = roundtrip_check(tiles, images_df, z, fmt=fmt).collect()
        assert len(chk) > 0
        for r in chk:
            assert r.bins_match, f"tile ({r.tx},{r.ty}) bins diverged"
            assert r.psnr == float("inf")

    def test_tile_counts_equal_rasterized_counts(self, spark, images_df):
        z = 5
        a = {(r.tx, r.ty): r.n_images for r in rasterize_tiles(images_df, z).collect()}
        b = {(r.tx, r.ty): r.n_images for r in build_pyramid(images_df, max_z=z, min_z=z).collect()}
        assert a == b


def test_region_index_refuses_seam_crossing_polygon():
    """Probe points never wrap across the lon=0 seam, so a polygon
    with out-of-domain x vertices would silently lose containment
    rows (it used to register under `% n`-wrapped cells its ray-cast
    can never match). RegionIndex refuses it loudly."""
    from ariadne_spark.operators.pip import RegionIndex

    seam = {
        "region_id": "seam",
        "depth": 0,
        # x spans [-5e6, 5e6]: crosses the lon_u=0 seam
        "wkt": "POLYGON ((-5000000 10000000, 5000000 10000000, "
        "5000000 20000000, -5000000 20000000, -5000000 10000000))",
    }
    # ValueError, not assert: the domain guard must survive `python -O`
    with pytest.raises(ValueError, match="antimeridian"):
        RegionIndex([seam])
    # an in-domain polygon still indexes fine
    ok = {
        "region_id": "ok",
        "depth": 0,
        "wkt": "POLYGON ((1000000 10000000, 5000000 10000000, "
        "5000000 20000000, 1000000 20000000, 1000000 10000000))",
    }
    assert RegionIndex([ok]).by_cell


def _knn_input(spark, rows):
    """(image_id, phash, lon_u, lat_u) frame for crafted kNN cases."""
    return spark.createDataFrame(
        rows, "image_id string, phash long, lon_u long, lat_u long"
    )


def test_knn_negative_phash_band0_only_match(spark):
    """LSH pigeonhole across the sign bit: a pair whose ONLY shared
    band is band 0 (low 16 bits), with one negative and one positive
    phash, must still produce edges. The old signed `%` band made
    band 0 of the negative hash negative (-x vs 65536-x), so the
    band-0 join key never matched across signs and the pair was
    silently lost."""
    base = 0x1234  # shared low 16 bits
    a = base | (1 << 20)                       # band 1 differs
    b = base | (1 << 40) | (-(1 << 63))        # bands 2 and 3 differ; negative
    assert a > 0 and b < 0
    # hamming 3 <= max_hamming (two's-complement xor, masked to 64 bits)
    assert bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1") == 3
    df = _knn_input(
        spark,
        [("img_a", a, 10_000_000, 10_000_000), ("img_b", b, 10_000_001, 10_000_001)],
    )
    edges = knn_edges(df, k=3, max_hamming=16, res=5, salt=1).collect()
    got = {(r["src_image_id"], r["dst_image_id"]) for r in edges}
    assert got == {("img_a", "img_b"), ("img_b", "img_a")}


def test_knn_tiny_grid_wraparound_no_duplicate_edges(spark):
    """On a grid whose width <= 2*kring, dx and dx±n alias to the same
    wrapped neighbor cell. Aliased replica offsets are deduped, so a
    cross-cell pair appears exactly once per direction — duplicates
    used to occupy two top-k ranks and crowd out real neighbors."""
    # res=1 -> 2x2 grid; two images in different x-cells, same y
    df = _knn_input(
        spark,
        [
            ("img_a", 77, 10_000_000, 10_000_000),     # x-cell 0
            ("img_b", 77, 190_000_000, 10_000_000),    # x-cell 1
        ],
    )
    edges = knn_edges(df, k=5, max_hamming=16, res=1, kring=1, salt=1).collect()
    pairs = [(r["src_image_id"], r["dst_image_id"]) for r in edges]
    assert sorted(pairs) == [("img_a", "img_b"), ("img_b", "img_a")]
    assert all(r["rank"] == 1 for r in edges)


def test_knn_salt_validation(spark, images_df):
    """A typo'd salt string or a non-positive salt is refused up front
    with the parameter named — not a TypeError deep in plan build."""
    with pytest.raises(ValueError, match="salt"):
        knn_edges(images_df, k=3, max_hamming=16, salt="aut0")
    with pytest.raises(ValueError, match="salt"):
        knn_edges(images_df, k=3, max_hamming=16, salt=0)


def test_ring_targets_matches_column_form(spark):
    """cells.ring_targets (the driver-side twin used by the knn prune
    estimator and prefix_ring) must agree with cell_neighbors_df's
    compiled plan on wrap, clamp, AND aliased-offset dedup."""
    # (1, 3) is the k > n regime: offsets with |dx| > n must wrap to
    # VALID cells (an un-modded dx once packed a negative x)
    for res, k in ((1, 1), (2, 1), (5, 2), (1, 3)):
        cells_list = [
            (int(c),)
            for c in [
                (res << cells.RES_SHIFT) | (0 << cells.X_SHIFT) | 0,
                (res << cells.RES_SHIFT)
                | (((1 << res) - 1) << cells.X_SHIFT)
                | ((1 << res) - 1),
            ]
        ]
        df = spark.createDataFrame(cells_list, "cell long")
        got = {
            (r["cell"], r["neighbor_cell"])
            for r in cells.cell_neighbors_df(df, "cell", res, k).collect()
        }
        want = {
            (c, t)
            for (c,) in cells_list
            for t in cells.ring_targets(c, res, cells.kring_offsets(k))
        }
        assert got == want


class TestPipJoinPartitioned:
    """The no-broadcast scale path must be RESULT-IDENTICAL to the
    broadcast form on the shared fixtures, keep its tie-error
    contract, and actually run as a distributed equi-join."""

    def _regions_df(self, spark, regions):
        import pandas as pd

        return spark.createDataFrame(
            pd.DataFrame(regions)[["region_id", "depth", "wkt"]]
        )

    def test_equals_broadcast_form_both_modes(
        self, spark, images_df, regions
    ):
        from ariadne_spark.operators.pip import pip_join, pip_join_partitioned

        rdf = self._regions_df(spark, regions)
        for deepest in (False, True):
            want = {
                (r.image_id, r.region_id, r.depth)
                for r in pip_join(
                    images_df, regions, deepest_only=deepest
                ).collect()
            }
            got = {
                (r.image_id, r.region_id, r.depth)
                for r in pip_join_partitioned(
                    images_df, rdf, deepest_only=deepest
                ).collect()
            }
            assert got == want and len(got) > 100

    def test_tie_error_fires_at_action(self, spark, data_dir):
        from ariadne_spark.operators.pip import pip_join_partitioned

        bad = generate_regions(with_overlap_error=True)
        rdf = self._regions_df(spark, bad)
        pts = spark.createDataFrame(
            [("p0", 10_050_000, 100_000_000)],
            "image_id string, lon_u long, lat_u long",
        )
        with pytest.raises(Exception, match="ambiguous containment"):
            pip_join_partitioned(pts, rdf, deepest_only=True).collect()

    def test_plan_is_distributed_no_broadcast(self, spark, images_df, regions):
        from ariadne_spark.operators.pip import pip_join_partitioned

        rdf = self._regions_df(spark, regions)
        p = (
            pip_join_partitioned(images_df, rdf, deepest_only=True)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # the region side must NOT be broadcast (that is the regime
        # this variant exists for); the candidate join is a real
        # shuffled equi-join on the cell key
        assert "BroadcastHashJoin" not in p and "BroadcastExchange" not in p
        assert "Exchange" in p


# ---------------------------------------------------------------------------
# polygon holes + MULTIPOLYGON (round 5) — even-odd containment
# ---------------------------------------------------------------------------


def _pnpoly_scalar(x, y, ring):
    """Independent scalar even-odd oracle (classic pnpoly loop) — a
    DIFFERENT formulation from the vectorized ray-cast (index loop +
    strict/nonstrict comparison arrangement), so a shared bug cannot
    hide."""
    inside = False
    j = len(ring) - 1
    for i in range(len(ring)):
        xi, yi = ring[i]
        xj, yj = ring[j]
        if (yi <= y) != (yj <= y):
            if x < xi + (y - yi) * (xj - xi) / (yj - yi):
                inside = not inside
        j = i
    return inside


def _oracle_rings(x, y, rings):
    inside = False
    for ring in rings:
        if _pnpoly_scalar(x, y, ring):
            inside = not inside
    return inside


def _donut_world():
    """outer square [10,90]^2 (x1e6), hole [30,70]^2, island [45,55]^2,
    plus a disjoint second part [120,160]x[10,50] — as one MULTIPOLYGON."""
    from ariadne_spark.functions.geometry import to_wkt_multi

    sq = lambda x0, y0, x1, y1: np.array(  # noqa: E731
        [[x0, y0], [x1, y0], [x1, y1], [x0, y1]], float
    ) * 1e6
    outer = sq(10, 10, 90, 90)
    hole = sq(30, 30, 70, 70)
    island = sq(45, 45, 55, 55)
    part2 = sq(120, 10, 160, 50)
    wkt = to_wkt_multi([(outer, [hole, island]), (part2, [])])
    return wkt, [outer, hole, island, part2]


def test_rings_containment_matches_scalar_oracle():
    from ariadne_spark.functions.geometry import parse_wkt_rings, points_in_rings

    wkt, _ = _donut_world()
    rings = parse_wkt_rings(wkt)
    assert len(rings) == 4
    rng = np.random.default_rng(31)
    px = rng.uniform(0, 180e6, 4000)
    py = rng.uniform(0, 120e6, 4000)
    got = points_in_rings(px, py, rings)
    want = np.array([_oracle_rings(x, y, rings) for x, y in zip(px, py)])
    assert np.array_equal(got, want)
    # the semantic layers: ring zone classification
    probe = lambda x, y: bool(  # noqa: E731
        points_in_rings(np.array([x * 1e6]), np.array([y * 1e6]), rings)[0]
    )
    assert probe(20, 20)        # in outer, outside hole
    assert not probe(35, 35)    # in hole
    assert probe(50, 50)        # on the island inside the hole
    assert probe(130, 30)       # disjoint second part
    assert not probe(100, 100)  # outside everything


def test_pip_join_both_forms_respect_holes(spark):
    """pip_join (broadcast) and pip_join_partitioned (shuffle) must
    agree with the scalar oracle — and each other — on a world with
    holes, an island and a multipolygon part."""
    import pandas as pd

    from ariadne_spark.functions.geometry import parse_wkt_rings
    from ariadne_spark.operators.pip import pip_join, pip_join_partitioned

    wkt, _ = _donut_world()
    regions = [{"region_id": "world", "depth": 0, "wkt": wkt}]
    rng = np.random.default_rng(32)
    n = 1500
    pdf = pd.DataFrame({
        "image_id": [f"img_{i}" for i in range(n)],
        "lon_u": rng.uniform(0, 180e6, n),
        "lat_u": rng.uniform(0, 120e6, n),
    })
    images = spark.createDataFrame(pdf)
    rings = parse_wkt_rings(wkt)
    want = {
        (f"img_{i}", "world", 0)
        for i in range(n)
        if _oracle_rings(pdf["lon_u"][i], pdf["lat_u"][i], rings)
    }
    got_b = {(r["image_id"], r["region_id"], r["depth"])
             for r in pip_join(images, regions, deepest_only=False).collect()}
    assert got_b == want
    regions_df = spark.createDataFrame(
        pd.DataFrame([{**r} for r in regions]),
        "region_id string, depth int, wkt string",
    )
    got_p = {(r["image_id"], r["region_id"], r["depth"])
             for r in pip_join_partitioned(
                 images, regions_df, deepest_only=False).collect()}
    assert got_p == want


def test_wkt_roundtrip_with_holes_and_multi():
    from ariadne_spark.functions.geometry import (
        parse_wkt_rings,
        to_wkt,
        to_wkt_multi,
    )

    outer = np.array([[0, 0], [10, 0], [10, 10], [0, 10]], float)
    hole = np.array([[2, 2], [4, 2], [4, 4], [2, 4]], float)
    rings = parse_wkt_rings(to_wkt(outer, [hole]))
    assert len(rings) == 2
    np.testing.assert_array_equal(rings[0], outer)
    np.testing.assert_array_equal(rings[1], hole)
    multi = to_wkt_multi([(outer, [hole]), (outer + 100, [])])
    assert multi.startswith("MULTIPOLYGON")
    assert len(parse_wkt_rings(multi)) == 3
    with pytest.raises(ValueError, match="unsupported WKT"):
        parse_wkt_rings("LINESTRING (0 0, 1 1)")
