"""Hierarchical spatial grid — the engine's H3/S2 analog.

The reference models code locations as intervals inside files and scopes
as a containment tree (ariadne `packages/types/src/scopes.ts:12-69`,
tree build via containment at
`packages/core/src/index_single_file/scopes/scopes.ts:363-400`). Here
the coordinate system is the globe and the containment tree is a
hierarchical equirectangular grid:

- resolution r in [0, MAX_RES]: 2^r x 2^r cells
- integer microdegree coordinates (exact, no float drift):
  lon_u in [0, 360_000_000), lat_u in [0, 180_000_000)
- cell x = (lon_u * 2^r) // 360_000_000, y = (lat_u * 2^r) // 180_000_000
- packed 64-bit cell id: (r << 56) | (x << 28) | y
- parent(cell) = one resolution up (x>>1, y>>1) — O(1) arithmetic, the
  analog of ariadne's `find_containing_scope` with no geometric join
  (scopes.ts:363-400 does a linear containment scan; the grid makes the
  parent relation closed-form).

All of this is pure integer arithmetic so the SAME formula runs as
Spark Column expressions (JVM-side, whole-stage codegen) and as ANSI SQL
in the DuckDB oracle. A numpy implementation mirrors it for fixtures.

Z-order (Morton) keys are provided for partition locality: neighboring
cells land in the same shuffle partition ranges.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

MAX_RES = 20
LON_SPAN = 360_000_000  # microdegrees
LAT_SPAN = 180_000_000
X_SHIFT = 28
RES_SHIFT = 56
XY_MASK = (1 << X_SHIFT) - 1

# ---------------------------------------------------------------------------
# Column-expression API (JVM-side; mirrors oracle SQL exactly)
# ---------------------------------------------------------------------------


def idiv(a: Column, b: int) -> Column:
    """Exact floor-division for non-negative longs.

    (a - a % b) is exactly divisible by b, so the double division yields
    an exact integer (inputs stay < 2^53). Matches DuckDB's `//`.
    """
    return ((a - (a % F.lit(b))) / F.lit(b)).cast("long")


def cell_x(lon_u: Column, res: int) -> Column:
    """Grid x for integer-microdegree longitude at resolution res."""
    return idiv((lon_u * F.lit(1 << res)).cast("long"), LON_SPAN)


def cell_y(lat_u: Column, res: int) -> Column:
    return idiv((lat_u * F.lit(1 << res)).cast("long"), LAT_SPAN)


def pack_cell(res: Column | int, x: Column, y: Column) -> Column:
    res_col = F.lit(res) if isinstance(res, int) else res
    return (
        res_col.cast("long") * F.lit(1 << RES_SHIFT)
        + x.cast("long") * F.lit(1 << X_SHIFT)
        + y.cast("long")
    )


def cell_encode(lon_u: Column, lat_u: Column, res: int) -> Column:
    """lat/lon (microdegrees) -> packed cell id at resolution res."""
    return pack_cell(res, cell_x(lon_u, res), cell_y(lat_u, res))


def cell_res(cell: Column) -> Column:
    return F.shiftright(cell, RES_SHIFT).cast("int")


def cell_xy(cell: Column) -> tuple[Column, Column]:
    x = F.shiftright(cell, X_SHIFT).cast("long") % F.lit(1 << X_SHIFT)
    y = cell % F.lit(1 << X_SHIFT)
    return x, y


def cell_parent(cell: Column, steps: int = 1) -> Column:
    """Parent cell `steps` resolutions up — closed-form containment."""
    r = cell_res(cell)
    x, y = cell_xy(cell)
    return pack_cell(
        (r - F.lit(steps)).cast("long"),
        F.shiftright(x, steps),
        F.shiftright(y, steps),
    )


def cell_prefix(cell: Column, prefix_res: int) -> Column:
    """Coarse-resolution ancestor used as the partition key (the analog of
    ariadne's per-file grouping: registries key state by file,
    `packages/core/src/resolve_references/registries/definition.ts:26-90`).

    Works on MIXED-resolution cell columns: the shift count is the
    per-row `res - prefix_res`, a Column — the python `F.shiftright`
    wrapper only accepts an int bit count, so the variable shift goes
    through the SQL `shiftright` expression (which takes any expression
    on both sides) via `call_function`."""
    r = cell_res(cell)
    x, y = cell_xy(cell)
    steps = (r - F.lit(prefix_res)).cast("int")
    return pack_cell(
        F.lit(prefix_res).cast("long"),
        F.call_function("shiftright", x, steps),
        F.call_function("shiftright", y, steps),
    )


def kring_offsets(k: int = 1) -> list[tuple[int, int]]:
    """All (dx, dy) offsets within Chebyshev distance k, incl. (0,0)."""
    return [(dx, dy) for dx in range(-k, k + 1) for dy in range(-k, k + 1)]


def half_kring_offsets(k: int = 1) -> list[tuple[int, int]]:
    """(0,0) plus one offset per ANTIPODAL PAIR of the k-ring: dy > 0,
    or dy == 0 and dx > 0. For any two distinct cells within Chebyshev
    distance k, exactly one of (A-B, B-A) is in this set (requires grid
    width > 2k so the x-wraparound cannot alias dx and -dx) — the basis
    for the mirrored half-replication candidate join in knn_edges."""
    return [(0, 0)] + [
        (dx, dy)
        for dx in range(-k, k + 1)
        for dy in range(0, k + 1)
        if dy > 0 or dx > 0
    ]


def ring_targets(cell: int, res: int, offsets: list[tuple[int, int]]) -> list[int]:
    """Driver-side python twin of `cell_neighbors_df` for ONE packed
    cell: wrapped-x / clamped-y ring targets, with aliased offsets
    deduped by their effective (dx mod n, dy) exactly as the Column
    form does. This is the ONE copy of the wrap/clamp/repack rule —
    knn's replica-prune estimator and incremental's prefix_ring both
    call it, so the driver-side estimates can never silently diverge
    from the plan's actual neighbor cells."""
    n = 1 << res
    x = (cell >> X_SHIFT) & XY_MASK
    y = cell & XY_MASK
    eff: dict[tuple[int, int], None] = {}
    for dx, dy in offsets:
        eff.setdefault((dx % n, dy), None)
    out = []
    for dxm, dy in eff:
        ny = y + dy
        if 0 <= ny < n:
            out.append((res << RES_SHIFT) | (((x + dxm) % n) << X_SHIFT) | ny)
    return out


def cell_neighbors_df(cells_df, cell_col: str, res: int, k: int = 1, offsets=None):
    """Explode each cell into its k-ring (x wraps, y clamps).

    Returns the input with an extra `neighbor_cell` column; one row per
    neighbor. Pure column math — no shuffle, no UDF. `offsets`
    (list[(dx, dy)]) overrides the full k-ring, e.g. with
    half_kring_offsets for the mirrored kNN candidate join.
    """
    n = 1 << res
    x = F.shiftright(F.col(cell_col), X_SHIFT) % F.lit(1 << X_SHIFT)
    y = F.col(cell_col) % F.lit(1 << X_SHIFT)
    # dedupe offsets by their EFFECTIVE (dx mod n, dy): on a grid with
    # width n <= 2k, dx and dx±n alias to the same wrapped neighbor —
    # without this, one cell receives the same replica twice and a
    # downstream self-join emits duplicate pairs
    eff: dict[tuple[int, int], None] = {}
    for dx, dy in kring_offsets(k) if offsets is None else offsets:
        eff.setdefault((dx % n, dy), None)
    # the plan uses the EFFECTIVE dx (in [0, n)) — the original dx with
    # a single +n correction goes negative for dx < -n (k > n grids),
    # packing malformed cells; ring_targets uses the same dxm, so the
    # driver-side estimates and the plan can never disagree
    offsets = F.array(
        *[
            F.struct(F.lit(dxm).alias("dx"), F.lit(dy).alias("dy"))
            for dxm, dy in eff
        ]
    )
    exploded = cells_df.withColumn("_off", F.explode(offsets))
    nx = (x + F.col("_off.dx") + F.lit(n)) % F.lit(n)
    ny = y + F.col("_off.dy")
    return (
        exploded.where((ny >= 0) & (ny < n))
        .withColumn("neighbor_cell", pack_cell(res, nx, ny))
        .drop("_off")
    )


# ---------------------------------------------------------------------------
# SQL fragments — same formulas for the DuckDB oracle
# ---------------------------------------------------------------------------


def sql_cell_x(lon_u: str, res: int) -> str:
    return f"(({lon_u}) * {1 << res}) // {LON_SPAN}"


def sql_cell_y(lat_u: str, res: int) -> str:
    return f"(({lat_u}) * {1 << res}) // {LAT_SPAN}"


def sql_pack_cell(res: int, x_expr: str, y_expr: str) -> str:
    return f"(CAST({res} AS BIGINT) * {1 << RES_SHIFT} + ({x_expr}) * {1 << X_SHIFT} + ({y_expr}))"


# ---------------------------------------------------------------------------
# numpy mirror (fixtures / pure-python oracle)
# ---------------------------------------------------------------------------


def np_cell_encode(lon_u: np.ndarray, lat_u: np.ndarray, res: int) -> np.ndarray:
    x = (lon_u.astype(np.int64) * (1 << res)) // LON_SPAN
    y = (lat_u.astype(np.int64) * (1 << res)) // LAT_SPAN
    return (np.int64(res) << RES_SHIFT) | (x << X_SHIFT) | y


def np_cell_parent(cell: np.ndarray, steps: int = 1) -> np.ndarray:
    r = cell >> RES_SHIFT
    x = (cell >> X_SHIFT) & XY_MASK
    y = cell & XY_MASK
    return ((r - steps) << RES_SHIFT) | ((x >> steps) << X_SHIFT) | (y >> steps)


def np_morton(x: np.ndarray, y: np.ndarray, bits: int = MAX_RES) -> np.ndarray:
    """Interleave x/y bits -> Z-order key for partition locality."""
    out = np.zeros_like(x, dtype=np.int64)
    for b in range(bits):
        out |= ((x >> b) & 1) << (2 * b + 1)
        out |= ((y >> b) & 1) << (2 * b)
    return out


def morton_key(cell: Column, bits: int = MAX_RES) -> Column:
    """Z-order key as a Column expression (unrolled bit interleave).

    Used as the repartition/sort key so spatially-adjacent cells stay in
    adjacent shuffle partitions (Z-ORDER analog of Iceberg table layout).
    """
    x, y = cell_xy(cell)
    terms = []
    for b in range(bits):
        terms.append((F.shiftright(x, b) % 2) * F.lit(1 << (2 * b + 1)))
        terms.append((F.shiftright(y, b) % 2) * F.lit(1 << (2 * b)))
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out.cast("long")


def np_hilbert(x: np.ndarray, y: np.ndarray, order: int) -> np.ndarray:
    """Hilbert-curve distance d for cell coords (x, y) on the
    2^order x 2^order grid — the canonical xy2d (Wikipedia "Hilbert
    curve", the N-1 rotation variant), vectorized. Unlike Morton,
    CONSECUTIVE d values are always Manhattan-adjacent cells
    (pytest-pinned exhaustively), so files clustered by d have strictly
    better worst-case spatial locality than Z-order (no diagonal jumps
    at quadrant boundaries)."""
    n = 1 << order
    x = x.astype(np.int64)  # astype copies; the loop may rebind freely
    y = y.astype(np.int64)
    d = np.zeros_like(x)
    s = n >> 1
    while s > 0:
        rx = ((x & s) > 0).astype(np.int64)
        ry = ((y & s) > 0).astype(np.int64)
        d += s * s * ((3 * rx) ^ ry)
        # rotate: ry==0 -> (flip by n-1 when rx==1, then swap)
        x0 = x
        x = np.where(ry == 1, x, np.where(rx == 1, n - 1 - y, y))
        y = np.where(ry == 1, y, np.where(rx == 1, n - 1 - x0, x0))
        s >>= 1
    return d


def hilbert_key(cell: "Column", order: int = MAX_RES) -> "Column":
    """Hilbert key of a packed cell as an Arrow-batched pandas UDF.

    The 16-level rotation recurrence cannot unroll into one column
    expression (projection collapse substitutes each level into the
    next — exponential tree growth), so unlike `morton_key` this is a
    vectorized UDF: one numpy pass per Arrow batch, no shuffle. The
    DuckDB oracle twin (`hilbert_sql_chain`) expresses the same levels
    as a LINEAR chain of CTEs, and `np_hilbert` is the python truth —
    all three pinned equal in tests."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    @pandas_udf(LongType())
    def _h(cells_s: pd.Series) -> pd.Series:
        # NULL cells propagate as NULL keys, matching morton_key's
        # column-expression semantics (a NaN batch would otherwise
        # fail the int64 conversion and kill the task)
        na = cells_s.isna().to_numpy()
        c = cells_s.fillna(0).to_numpy(dtype=np.int64)
        x = (c >> X_SHIFT) & XY_MASK
        y = c & XY_MASK
        out = pd.Series(np_hilbert(x, y, order), dtype="Int64")
        if na.any():
            out[na] = pd.NA
        return out

    return _h(cell)


def hilbert_sql_chain(
    src: str, order: int, id_col: str = "doc_id",
    x: str = "x", y: str = "y", out: str = "hd",
) -> str:
    """DuckDB twin of `np_hilbert` as a linear CTE chain: level i reads
    level i-1's (x, y, d) — every expression in a SELECT sees the same
    input row, so rx/ry are the pre-rotation values exactly like the
    numpy pass. Returns the chain text; the final CTE is named
    `__h{order}` and carries (id_col, hx, hy, {out}) — select {out}
    explicitly rather than `SELECT *` (hx/hy are the fully-rotated
    coordinates, not the inputs)."""
    n = 1 << order
    parts = [f"__h0 AS (SELECT {id_col}, {x} AS hx, {y} AS hy, "
             f"CAST(0 AS BIGINT) AS {out} FROM {src})"]
    s = n >> 1
    lvl = 0
    while s > 0:
        lvl += 1
        rx = f"(CASE WHEN (hx & {s}) > 0 THEN 1 ELSE 0 END)"
        ry = f"(CASE WHEN (hy & {s}) > 0 THEN 1 ELSE 0 END)"
        parts.append(
            f"__h{lvl} AS (SELECT {id_col}, "
            f"CASE WHEN {ry} = 1 THEN hx WHEN {rx} = 1 THEN {n - 1} - hy "
            f"ELSE hy END AS hx, "
            f"CASE WHEN {ry} = 1 THEN hy WHEN {rx} = 1 THEN {n - 1} - hx "
            f"ELSE hx END AS hy, "
            f"{out} + {s * s} * xor(3 * {rx}, {ry}) AS {out} "
            f"FROM __h{lvl - 1})"
        )
        s >>= 1
    return ", ".join(parts)
