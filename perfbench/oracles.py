"""Independent reference computations for the benchmark's output checks.

Nothing here calls into `ariadne_spark`'s hashing, geometry, tiling,
graph or query code: each check recomputes the expected answer from
the generator's truth with plain numpy / Python / DuckDB. Checks run
outside every timed interval. Each `check_*` returns a list of failure
messages (empty when the output is correct).
"""

from __future__ import annotations

import glob
import os
import re
from collections import deque

import numpy as np

PSNR_FLOOR_DB = 40.0
MAX_HAMMING = 16  # SpatialPipeline defaults
KNN_K = 5
# 4-band LSH over 64 bits shares a whole band between any two hashes
# closer than 4 bits (pigeonhole), so those pairs must all be found
LSH_EXACT_BELOW = 4

# ---------------------------------------------------------------------------
# perceptual hash
# ---------------------------------------------------------------------------

_N = 32


def _dct_basis(n: int = _N) -> np.ndarray:
    """Orthonormal DCT-II basis, row k = frequency k."""
    k = np.arange(n)[:, None]
    x = np.arange(n)[None, :]
    basis = np.sqrt(2.0 / n) * np.cos(np.pi * (2 * x + 1) * k / (2 * n))
    basis[0, :] = np.sqrt(1.0 / n)
    return basis


_BASIS8 = np.ascontiguousarray(_dct_basis()[:8])


def phash64(px: np.ndarray) -> int:
    """64-bit DCT perceptual hash of an HxWx3 uint8 image: integer BT.601
    luma, nearest-neighbour 32x32 sample, lowest 8x8 DCT-II
    coefficients, bit = coefficient > median, first coefficient = most
    significant bit, as a signed int64."""
    h, w = px.shape[:2]
    rows = (np.arange(_N) * h) // _N
    cols = (np.arange(_N) * w) // _N
    s = px[rows][:, cols].astype(np.int64)
    luma = (299 * s[..., 0] + 587 * s[..., 1] + 114 * s[..., 2]) // 1000
    coef = (_BASIS8 @ luma.astype(np.float64) @ _BASIS8.T).ravel()
    value = 0
    for bit in coef > np.median(coef):
        value = (value << 1) | int(bit)
    return value - (1 << 64) if value >= 1 << 63 else value


def popcount(a: np.ndarray) -> np.ndarray:
    v = np.asarray(a, dtype=np.int64).astype(np.uint64).view(np.uint8)
    return np.unpackbits(v.reshape(-1, 8), axis=1).sum(axis=1)


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = float(np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2))
    return float("inf") if mse == 0 else 10.0 * np.log10(255.0**2 / mse)


# ---------------------------------------------------------------------------
# point in polygon (even-odd ray casting over the region WKT)
# ---------------------------------------------------------------------------


def _rings(wkt: str) -> list[np.ndarray]:
    out = []
    for body in re.findall(r"\(([^()]+)\)", wkt):
        pts = np.array([[float(v) for v in p.split()] for p in body.split(",")])
        out.append(pts)
    return out


def _inside(x: np.ndarray, y: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    inside = np.zeros(len(x), dtype=bool)
    for ring in rings:
        x1, y1 = ring[:-1, 0], ring[:-1, 1]
        x2, y2 = ring[1:, 0], ring[1:, 1]
        for a, b, c, d in zip(x1, y1, x2, y2):
            crosses = (b > y) != (d > y)
            with np.errstate(divide="ignore", invalid="ignore"):
                xi = a + (y - b) * (c - a) / (d - b)
            inside ^= crosses & (x < xi)
    return inside


def deepest_regions(lon_u, lat_u, regions: list[dict]) -> tuple[np.ndarray, np.ndarray]:
    """Per point: (region_id or None, depth or -1) of the deepest
    containing region."""
    x = np.asarray(lon_u, dtype=np.float64)
    y = np.asarray(lat_u, dtype=np.float64)
    best = np.full(len(x), None, dtype=object)
    depth = np.full(len(x), -1)
    for r in sorted(regions, key=lambda r: r["depth"]):
        hit = _inside(x, y, _rings(r["wkt"]))
        best[hit] = r["region_id"]
        depth[hit] = r["depth"]
    return best, depth


def check_pip(pip_rows, ids, lon_u, lat_u, regions) -> list[str]:
    """pip_rows: iterable of (image_id, region_id, depth)."""
    want_region, want_depth = deepest_regions(lon_u, lat_u, regions)
    want = {
        (i, r, int(d))
        for i, r, d in zip(ids, want_region, want_depth)
        if r is not None
    }
    got = {(i, r, int(d)) for i, r, d in pip_rows}
    if got == want:
        return []
    return [f"pip: {len(got - want)} unexpected and {len(want - got)} missing rows"]


# ---------------------------------------------------------------------------
# tile pyramid
# ---------------------------------------------------------------------------


def check_tiles(tile_rows, lon_u, lat_u, max_z: int = 8) -> list[str]:
    """tile_rows: iterable of (z, tx, ty, n_images), possibly several
    rows per tile (the fine table is split by partition key)."""
    got: dict[tuple, int] = {}
    for z, tx, ty, n in tile_rows:
        got[(int(z), int(tx), int(ty))] = got.get((int(z), int(tx), int(ty)), 0) + int(n)
    lon = np.asarray(lon_u, dtype=np.int64)
    lat = np.asarray(lat_u, dtype=np.int64)
    errors = []
    for z in range(max_z + 1):
        tx = (lon * (1 << z)) // 360_000_000
        ty = (lat * (1 << z)) // 180_000_000
        keys, counts = np.unique(tx * (1 << 20) + ty, return_counts=True)
        want = {(z, int(k >> 20), int(k & ((1 << 20) - 1))): int(c) for k, c in zip(keys, counts)}
        have = {k: v for k, v in got.items() if k[0] == z}
        if have != want:
            errors.append(f"tiles: zoom {z} has {len(have)} tiles, expected {len(want)}")
        if sum(have.values()) != len(lon):
            errors.append(f"tiles: zoom {z} sums to {sum(have.values())}, expected {len(lon)}")
    return errors


# ---------------------------------------------------------------------------
# kNN graph
# ---------------------------------------------------------------------------


def check_knn(edge_rows, phash_of: dict, planted: list[tuple]) -> list[str]:
    """edge_rows: iterable of (src, dst, hamming); phash_of: id ->
    expected phash; planted: (child, parent) near-duplicate pairs closer
    than LSH_EXACT_BELOW bits — each must be linked in at least one
    direction."""
    errors = []
    out_deg: dict[str, int] = {}
    pairs = set()
    for src, dst, ham in edge_rows:
        true = int(popcount(np.array([phash_of[src] ^ phash_of[dst]]))[0])
        if ham != true or true > MAX_HAMMING or src == dst:
            errors.append(f"knn: edge {src}->{dst} hamming {ham}, true {true}")
            break
        out_deg[src] = out_deg.get(src, 0) + 1
        pairs.add((src, dst))
    over = [s for s, d in out_deg.items() if d > KNN_K]
    if over:
        errors.append(f"knn: {len(over)} nodes exceed {KNN_K} out-edges")
    missed = [p for p in planted if p not in pairs and p[::-1] not in pairs]
    if missed:
        errors.append(f"knn: {len(missed)} of {len(planted)} planted near-duplicates not linked")
    return errors


def bfs(edges: list[tuple[str, str]], focus: str, depth: int) -> set[tuple[str, str, int]]:
    """(direction, node, min_depth) within `depth` hops of focus, both
    directions, focus excluded."""
    adj = {"out": {}, "in": {}}
    for s, d in edges:
        adj["out"].setdefault(s, set()).add(d)
        adj["in"].setdefault(d, set()).add(s)
    out = set()
    for direction, nbrs in adj.items():
        seen = {focus: 0}
        queue = deque([focus])
        while queue:
            node = queue.popleft()
            if seen[node] == depth:
                continue
            for nxt in nbrs.get(node, ()):
                if nxt not in seen:
                    seen[nxt] = seen[node] + 1
                    queue.append(nxt)
        out |= {(direction, n, d) for n, d in seen.items() if n != focus}
    return out


_NB_LINE = re.compile(r"(?:· )*(\S+)  \(depth (\d+)\)$")


def parse_neighborhood(text: str) -> set[tuple[str, str, int]]:
    """The tool's rendered tree back to (direction, node, depth)."""
    out = set()
    direction = None
    for line in text.splitlines()[1:]:
        if "linked-from" in line:
            direction = "in"
        elif "links-to" in line:
            direction = "out"
        else:
            m = _NB_LINE.search(line)
            if m and direction:
                out.add((direction, m.group(1), int(m.group(2))))
    return out


# ---------------------------------------------------------------------------
# contract queries vs DuckDB
# ---------------------------------------------------------------------------


def normalize(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare_frames(name: str, got, want) -> list[str]:
    """Column names, row count, dtype kind and every value must match
    after sorting columns by name and rows by value."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"{name}: columns {sorted(got.columns)} vs {sorted(want.columns)}"]
    a, b = normalize(got), normalize(want)
    if len(a) != len(b):
        return [f"{name}: {len(a)} rows vs {len(b)}"]
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        ak = "i" if av.dtype.kind == "u" else av.dtype.kind
        bk = "i" if bv.dtype.kind == "u" else bv.dtype.kind
        if ak != bk:
            return [f"{name}.{c}: dtype {av.dtype} vs {bv.dtype}"]
        if not (av == bv).all():
            return [f"{name}.{c}: values differ"]
    return []


def duckdb_answers(tables_dir: str, names: list[str], sql: dict) -> dict:
    """Each named oracle query in DuckDB, over a view per parquet table
    of tables_dir."""
    import duckdb

    con = duckdb.connect()
    try:
        for path in sorted(glob.glob(os.path.join(tables_dir, "*.parquet"))):
            t = os.path.basename(path)[: -len(".parquet")]
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        return {n: con.execute(sql[n]).fetchdf() for n in names}
    finally:
        con.close()
