"""kNN phash linking within cell neighborhoods — the call-edge analog.

The reference resolves call references to definitions through name +
location matching, possibly to MULTIPLE candidates with a confidence
grade (`packages/core/src/resolve_references/call_resolver.ts:391-463`;
`Resolution{confidence: certain|probable|possible}` at
`packages/types/src/symbol_references.ts:270-298`). The spatial analog:
link each image to its k nearest perceptual neighbors (phash Hamming
distance) among images in its cell neighborhood.

Physical plan (explicit; north rule "shuffle plans chosen per join
cardinality"):

1. Candidate generation — self-join on (band_id, band_value,
   neighbor_cell): LSH banding over the 64-bit hash (d < n_bands
   guarantees a shared band — pigeonhole) intersected with k-ring cell
   locality. This is the big shuffle: at 10^12 rows the candidate join
   shuffles on a composite key whose cardinality (n_bands x 2^16 x
   n_cells) is high enough to spread load. On the symmetric self-join
   path the build side replicates to only the HALF ring (center + one
   offset per antipodal pair: 5 cells at kring=1, not 9) and each
   unordered pair is found once then mirrored into both directed edges
   post-join (`mirror` param) — 4/9 of the replica shuffle volume
   gone. The join executes as a SHUFFLED-HASH join building on the
   un-replicated probe side (no sort of the replica-heavy build side;
   spill-capable per SPARK-32399) with `join_strategy='merge'` as the
   sort-merge fallback; dense-cell skew is handled by optional salting
   (see `salt` param) + AQE skew-join as backstop.
2. Exact filter — `bit_count(xor)) <= max_hamming`, JVM built-in.
3. Dedup — a pair found via several bands collapses via groupBy min.
4. Top-k — `row_number` over (src) ordered by (distance, dst_id):
   deterministic tie-break, exactly the fixture contract
   (FIXTURES.md T3 expected_knn).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import cells
from ..functions.phash import hamming, phash_band

DEFAULT_RES = 5

def _prune_pays(
    probe_cells: list[int],
    build_cells: list[int],
    res: int,
    offsets: list[tuple[int, int]],
) -> bool:
    """Driver-side estimate of the build-replica fraction the occupied-
    cell semi-join would prune: for every (build cell, ring offset)
    target, is the target an occupied PROBE cell? Pruning costs a
    distinct + broadcast + per-replica probe (~20% of the stage when it
    prunes nothing — measured), so it only runs when it would drop
    >= 25% of replicas. Purely physical: results are identical either
    way (unpruned replicas land in probe-less cells and the join drops
    them). `offsets` is the replica offset set actually in use (full
    k-ring, or the half-ring when the mirrored join is on)."""
    occ = set(probe_cells)
    kept = total = 0
    for cell in build_cells:
        # shared wrap/clamp/repack rule (cells.ring_targets) — the same
        # arithmetic cell_neighbors_df compiles into the plan
        targets = cells.ring_targets(cell, res, offsets)
        total += len(targets)
        kept += sum(t in occ for t in targets)
    return total > 0 and kept < 0.75 * total


def knn_edges(
    images: DataFrame,
    k: int = 5,
    max_hamming: int = 16,
    res: int = DEFAULT_RES,
    kring: int = 1,
    n_bands: int = 4,
    salt: int | str = 1,
    build_images: DataFrame | None = None,
    salt_target_rows: int = 200_000,
    prune_build: bool | None = None,
    join_strategy: str = "hash",
    mirror: bool | None = None,
) -> DataFrame:
    """-> (src_image_id, dst_image_id, hamming, rank, confidence,
    reason) — the full Resolution{confidence, reason} contract
    (`packages/types/src/symbol_references.ts:270-298`); reason encodes
    locality + matched band, e.g. 'same-cell/band0'.

    `salt` > 1 splits each candidate bucket into `salt` sub-buckets by a
    hash of the *probe* side and replicates the build side, bounding the
    largest shuffle partition for hotspot cells (urban skew). salt=1 is
    a plain sort-merge self-join.

    `build_images` restricts/extends the candidate (destination) side
    independently of the probe side — the incremental path passes the
    affected partitions as `images` and their k-ring superset as
    `build_images`, mirroring the reference's re-resolution over
    {file} ∪ dependents (`packages/core/src/project/project.ts:312`).

    `salt='auto'` collects the cell histogram and picks the smallest
    factor bounding the hottest cell at `salt_target_rows` rows — the
    driver-side histogram-driven strategy decision of SURVEY.md §4.2.

    `prune_build=None` (auto) decides the occupied-cell semi-join from
    a driver-side ring-occupancy estimate over the distinct cell sets
    (bounded by 4^res ids; for res > 10 the collect is skipped and
    pruning defaults on, since grids that fine are sparse): pruning
    pays 3-4x shuffle on sparse/hotspot layouts and costs ~20% when
    every ring cell is occupied. `join_strategy='hash'` hints the probe
    side into a shuffled-hash join — no sort of the replica-heavy build
    side; spill-capable since Spark 3.1 (SPARK-32399), so it holds at
    any partition size AQE's sizing allows, and AQE's skew splitter
    still applies. 'merge' restores the sort-merge plan.

    `mirror=None` (auto) enables HALF-RING replication on the symmetric
    self-join path (no `build_images`): the build side replicates to
    only (0,0) + one offset per antipodal pair (5 cells instead of 9 at
    kring=1 — the dominant shuffle drops ~44%), each unordered pair is
    found exactly once, and both directed edges are emitted post-join
    by a zero-shuffle posexplode. Requires grid width > 2*kring+1 so
    x-wraparound cannot alias an offset with its negation; auto falls
    back to the full ring otherwise, and always when `build_images` is
    given (probe/build sets differ, so mirroring a found pair would
    fabricate edges).

    The final per-src top-k is a plain row_number window: Spark 4's
    partial WindowGroupLimit truncates its exchange to <= k rows/src
    map-side. All these knobs are physical only: the result rows are
    identical (asserted in tests/test_operators.py)."""
    if salt == "auto":
        from .skew import choose_salt_distributed

        # in-plan max-bucket aggregate; ONE scalar row to the driver
        # (the round-3 form collected the whole cell histogram)
        salt = choose_salt_distributed(images, res, salt_target_rows)
    elif not isinstance(salt, int) or isinstance(salt, bool) or salt < 1:
        # a typo'd string would otherwise die in `salt > 1` with an opaque
        # TypeError, and salt<=0 would silently degrade to unsalted
        raise ValueError(
            f"knn_edges: salt must be 'auto' or an int >= 1, got {salt!r}"
        )

    def prep(df: DataFrame) -> DataFrame:
        base = df.select(
            F.col("image_id"),
            F.col("phash"),
            cells.cell_encode(F.col("lon_u"), F.col("lat_u"), res).alias("cell"),
        )
        bands = F.array(*[phash_band(F.col("phash"), b, n_bands) for b in range(n_bands)])
        return base.select(
            "image_id",
            "phash",
            "cell",
            F.posexplode(bands).alias("band_id", "band_val"),
        )

    banded = prep(images)
    banded_build = banded if build_images is None else prep(build_images)

    if mirror is None:
        mirror = build_images is None and (1 << res) > 2 * kring + 1
    elif mirror:
        assert build_images is None, (
            "knn_edges: mirror=True is only valid for the symmetric "
            "self-join (build_images=None) — a found (probe, build) pair "
            "can only be reversed when both sides draw from the same set"
        )
        assert (1 << res) > 2 * kring + 1, (
            f"knn_edges: mirror needs grid width {1 << res} > 2*kring+1 "
            f"({2 * kring + 1}) so x-wraparound cannot alias an offset "
            "with its negation"
        )
    offsets = (
        cells.half_kring_offsets(kring) if mirror else cells.kring_offsets(kring)
    )

    # probe side: each image under its own cell only
    # build side: each image replicated to its k-ring so cross-cell
    # neighbors are found exactly once (probe.cell == build.neighbor_cell).
    # Replicas targeting cells with NO probe rows shuffle for nothing —
    # with hotspot-skewed data most of the 9x replication is waste — so
    # semi-join the replicas against the (tiny, broadcast) occupied
    # probe-cell set first: shuffle volume drops ~3-4x, result
    # identical. On DENSE layouts (every ring cell occupied) the
    # semi-join prunes nothing and only adds cost, so `prune_build` is
    # decided from the data (see docstring).
    if prune_build is None:
        if res > 10:
            prune_build = True  # cell set too large to collect; assume sparse
        else:
            probe_cells = [r["cell"] for r in images.select(
                cells.cell_encode(F.col("lon_u"), F.col("lat_u"), res).alias("cell")
            ).distinct().collect()]
            if build_images is None:
                build_cells = probe_cells
            else:
                build_cells = [r["cell"] for r in build_images.select(
                    cells.cell_encode(F.col("lon_u"), F.col("lat_u"), res).alias("cell")
                ).distinct().collect()]
            prune_build = _prune_pays(probe_cells, build_cells, res, offsets)
    build = cells.cell_neighbors_df(banded_build, "cell", res, kring, offsets=offsets)
    if prune_build:
        occupied = banded.select("cell").distinct()
        build = build.join(
            F.broadcast(occupied.withColumnRenamed("cell", "neighbor_cell")),
            "neighbor_cell",
            "left_semi",
        )
    build = build.select(
        F.col("image_id").alias("dst_image_id"),
        F.col("phash").alias("dst_phash"),
        F.col("band_id"),
        F.col("band_val"),
        F.col("neighbor_cell").alias("join_cell"),
        # 1-byte provenance flag for Resolution.reason: did this replica
        # land in the dst's own cell (same-cell link) or a ring offset?
        (F.col("neighbor_cell") == F.col("cell")).alias("dst_same_cell"),
    )
    probe = banded.select(
        F.col("image_id").alias("src_image_id"),
        F.col("phash").alias("src_phash"),
        "band_id",
        "band_val",
        F.col("cell").alias("join_cell"),
    )
    if join_strategy == "hash":
        # build the in-memory side on the UN-replicated probe (1x rows
        # vs the build side's ~9x ring replicas); skips sorting both
        # sides. Spill-capable (SPARK-32399), AQE skew-split still
        # applies — measured 9.8 s -> 5.5 s at 200k rows, local[32].
        probe = probe.hint("shuffle_hash")

    if salt > 1:
        probe = probe.withColumn("_salt", F.pmod(F.xxhash64("src_image_id"), F.lit(salt)))
        build = build.withColumn(
            "_salt", F.explode(F.array(*[F.lit(s) for s in range(salt)]))
        )
        join_keys = ["band_id", "band_val", "join_cell", "_salt"]
    else:
        join_keys = ["band_id", "band_val", "join_cell"]

    # first-match-band dedup: a pair surfacing via several bands is kept
    # ONLY in its lowest matching band — pure column math on the two
    # hashes, so the distinct-pair guarantee costs zero shuffles (the
    # naive alternative, groupBy(src,dst), re-shuffles every candidate
    # pair: measured 2x the whole stage cost at 60k rows and strictly
    # worse at scale).
    prev_bands_differ = F.lit(True)
    first_match = F.lit(False)
    for b in range(n_bands):
        first_match = first_match | (
            (F.col("band_id") == b) & prev_bands_differ
        )
        prev_bands_differ = prev_bands_differ & (
            phash_band(F.col("src_phash"), b, n_bands)
            != phash_band(F.col("dst_phash"), b, n_bands)
        )

    pairs = (
        probe.join(build, on=join_keys, how="inner")
        .where(F.col("src_image_id") != F.col("dst_image_id"))
        .where(first_match)
        .select(
            "src_image_id",
            "dst_image_id",
            hamming(F.col("src_phash"), F.col("dst_phash")).alias("hamming"),
            "band_id",
            "dst_same_cell",
        )
        .where(F.col("hamming") <= max_hamming)
    )

    if mirror:
        # Half-ring replication finds each unordered pair exactly once,
        # EXCEPT same-cell pairs which the (0,0) replica surfaces in both
        # directions — keep the (src < dst) one, then emit both directed
        # edges from every surviving pair with a zero-shuffle explode
        # (NOT a self-union, which would execute the candidate join
        # twice). hamming/band/same-cell are all direction-symmetric.
        both = F.explode(
            F.array(
                F.struct(
                    F.col("src_image_id").alias("s"),
                    F.col("dst_image_id").alias("d"),
                ),
                F.struct(
                    F.col("dst_image_id").alias("s"),
                    F.col("src_image_id").alias("d"),
                ),
            )
        )
        pairs = (
            pairs.where(
                (~F.col("dst_same_cell"))
                | (F.col("src_image_id") < F.col("dst_image_id"))
            )
            .select(both.alias("_sd"), "hamming", "band_id", "dst_same_cell")
            .select(
                F.col("_sd.s").alias("src_image_id"),
                F.col("_sd.d").alias("dst_image_id"),
                "hamming",
                "band_id",
                "dst_same_cell",
            )
        )

    w = Window.partitionBy("src_image_id").orderBy("hamming", "dst_image_id")
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .withColumn(
            "confidence",
            F.when(F.col("hamming") == 0, F.lit("certain"))
            .when(F.col("hamming") <= max_hamming // 2, F.lit("probable"))
            .otherwise(F.lit("possible")),
        )
        # Resolution.reason analog (`packages/types/src/
        # symbol_references.ts:270-298`): HOW the link was found —
        # locality ('same-cell' vs 'ring-neighbor') + the first matching
        # LSH band. The string materializes only on the <= k*n surviving
        # rows; through the candidate shuffle it travels as 1 byte + the
        # band id already present for first-match dedup.
        .withColumn(
            "reason",
            F.concat(
                F.when(F.col("dst_same_cell"), F.lit("same-cell")).otherwise(
                    F.lit("ring-neighbor")
                ),
                F.lit("/band"),
                F.col("band_id").cast("string"),
            ),
        )
        .drop("band_id", "dst_same_cell")
    )


def orphan_images(images: DataFrame, edges: DataFrame) -> DataFrame:
    """Images never linked as a kNN destination — the entry-point analog.

    Mirrors `detect_entry_points`: callables minus all referenced
    symbols via left-anti join
    (`packages/core/src/trace_call_graph/trace_call_graph.ts:102-136`).
    """
    referenced = edges.select(F.col("dst_image_id").alias("image_id")).distinct()
    return images.select("image_id").join(referenced, "image_id", "left_anti")
