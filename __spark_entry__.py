"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()[name]`` is an operator from SURVEY.md §2 expressed
Spark-first; ``oracle_sql()[name]`` is its ANSI-SQL twin for the DuckDB
oracle. Exact-parity rules used throughout:

- integers everywhere possible: monetary sums as cents via
  ``CAST(round(x*100) AS BIGINT)`` summed exactly; ratios as scaled
  integer division (associative, engine-independent);
- spatial/phash columns derived from doc_id by LCG integer arithmetic
  (``ariadne_spark.synth.derive``) — identical formulas in both engines;
- every computed column aliased identically in both forms;
- deterministic tie-breaks on id columns in every top-k.

Engine-only operators (polygon PIP, real-phash kNN, rasterization) have
``queries()`` entries without oracle SQL — the driver records the
weaker rows-only check for those (they are pytest-verified against
pure-python oracles in tests/).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ariadne_spark.functions import cells
from ariadne_spark.functions import filters as _filters
from ariadne_spark.synth import derive

# GPT-2-style pre-tokenizer (lookaround-free subset): shared verbatim
# between Spark (Java regex) and the DuckDB oracle (RE2)
BPE_PATTERN = r"'s|'t|'re|'ve|'m|'ll|'d| ?[a-zA-Z]+| ?[0-9]+| ?[^\sa-zA-Z0-9]+|\s+"

# ---------------------------------------------------------------------------
# shared constants / helpers (both engines)
# ---------------------------------------------------------------------------

LETTERS = "abcdefghijklmnopqrstuvwxyz"
GRAM_P = 1_000_003  # 3-gram polynomial hash modulus (prime, < 2^31)
MINHASH_PARAMS = [(2, 3, 5), (7, 11, 13), (17, 19, 23), (29, 31, 37)]
SIM_BITS = 8


_SF_BYTES: dict[str, int] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # size the session's AQE initial partition count to THIS corpus
    # (bytes-scaled, clamped to [cores, cores*8] — session.py): tiny
    # test corpora stop paying 256-bucket map overhead on sub-second
    # shuffles while a 100 TB sf_dir lands on the cores*8 ceiling,
    # i.e. exactly the round-4 wave-smoothing policy
    if sf_dir not in _SF_BYTES:
        import os as _os

        # tables are `{name}.parquet` files or Spark-written directories
        # of part files: count the parquet bytes at any depth
        _SF_BYTES[sf_dir] = sum(
            _os.path.getsize(_os.path.join(root, f))
            for root, _dirs, files in _os.walk(sf_dir)
            for f in files
            if f.endswith(".parquet")
        )
    from ariadne_spark.session import scale_shuffle_to_input

    scale_shuffle_to_input(spark, _SF_BYTES[sf_dir])
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _cents(col):
    """Exact monetary sum: double -> integer cents before aggregation."""
    return F.round(col * 100).cast("long")


def _docs_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = F.col("doc_id")
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        derive.lon_u_col(d).alias("lon_u"),
        derive.lat_u_col(d).alias("lat_u"),
        derive.phash_col(d).alias("phash"),
    )


_DOCS_GEO_SQL = (
    f"SELECT doc_id, {derive.lon_u_sql()} AS lon_u, {derive.lat_u_sql()} AS lat_u, "
    f"{derive.phash_sql()} AS phash FROM documents"
)


def _gram_hash_col(a: int, b: int, c: int):
    """3-gram polynomial hashes of `text` as an array Column.

    Guarded for text shorter than 3 chars: Spark's sequence(1, len-2)
    would AUTO-DESCEND (sequence(1, -1) -> [1, 0, -1], bogus grams
    from ascii('') = 0) while the DuckDB twin's range(1, len-1) is
    empty — the guard makes both sides emit an EMPTY gram list, so
    minhash is NULL and simhash 0 on both engines."""
    pos = F.when(
        F.length("text") >= 3, F.sequence(F.lit(1), F.length("text") - 2)
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(
        pos,
        lambda i: (
            F.lit(a) * F.ascii(F.substr(F.col("text"), i, F.lit(1)))
            + F.lit(b) * F.ascii(F.substr(F.col("text"), i + 1, F.lit(1)))
            + F.lit(c) * F.ascii(F.substr(F.col("text"), i + 2, F.lit(1)))
        )
        % F.lit(GRAM_P),
    )


def _gram_hash_sql(a: int, b: int, c: int) -> str:
    return (
        f"list_transform(range(1, length(text) - 1), i -> "
        f"(({a} * ascii(substring(text, i, 1)) + {b} * ascii(substring(text, i + 1, 1)) "
        f"+ {c} * ascii(substring(text, i + 2, 1))) % {GRAM_P}))"
    )


def _letter_mask_col():
    """26-bit set-of-letters mask of `text` (for exact Jaccard)."""
    expr = F.lit(0).cast("long")
    for i, ch in enumerate(LETTERS):
        expr = expr + F.when(F.col("text").contains(ch), F.lit(1 << i)).otherwise(F.lit(0))
    return expr


def _letter_mask_sql() -> str:
    terms = " + ".join(
        f"(CASE WHEN contains(text, '{ch}') THEN {1 << i} ELSE 0 END)"
        for i, ch in enumerate(LETTERS)
    )
    return f"({terms})"


# ---------------------------------------------------------------------------
# entry — flagship spatial pipeline at sf0.001
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: derived geo points -> tile-pyramid rollup (q15 at
    sf0.001): per-tile point counts at z=6 unioned with the z=3 parent
    rollup — (z, tx, ty, n_points)."""
    sf_dir = "/root/testdata/sf0.001"
    q = queries()
    tiles = q["q15_tile_pyramid"](spark, sf_dir)
    return tiles


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    Q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # S1/P1/P3 — scan with pushed filter + pruned projection
    def q01(spark, sf):
        li = _t(spark, sf, "lineitem")
        return (
            li.where(
                (F.col("l_shipdate") >= F.lit("1995-06-01").cast("timestamp"))
                & (F.col("l_discount") >= 0.05)
                & (F.col("l_discount") <= 0.07)
            )
            .groupBy("l_returnflag")
            .agg(
                F.count("*").alias("n_rows"),
                F.sum(_cents(F.col("l_extendedprice"))).alias("revenue_cents"),
            )
        )

    Q["q01_scan_prune"] = q01

    # A1/A3 — TPC-H Q1-style wide aggregation
    def q02(spark, sf):
        li = _t(spark, sf, "lineitem")
        return (
            li.groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
                F.sum(_cents(F.col("l_extendedprice"))).alias("sum_base_cents"),
                F.sum(
                    F.round(
                        _cents(F.col("l_extendedprice")) * (1000 - F.round(F.col("l_discount") * 1000).cast("long"))
                    ).cast("long")
                ).alias("sum_disc_milli"),
                F.count("*").alias("n_rows"),
            )
        )

    Q["q02_tpch_q1"] = q02

    # J8-style broadcast dim join
    def q03(spark, sf):
        o = _t(spark, sf, "orders")
        c = _t(spark, sf, "customer")
        return (
            o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .groupBy("c_mktsegment")
            .agg(
                F.count("*").alias("n_orders"),
                F.sum(_cents(F.col("o_totalprice"))).alias("total_cents"),
            )
        )

    Q["q03_broadcast_dim_join"] = q03

    # J6 — multi-hop join chain (refs -> symbols -> types -> members analog)
    def q04(spark, sf):
        li = _t(spark, sf, "lineitem")
        o = _t(spark, sf, "orders")
        c = _t(spark, sf, "customer")
        n = _t(spark, sf, "nation")
        r = _t(spark, sf, "region")
        return (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .groupBy("r_name")
            .agg(
                F.count("*").alias("n_items"),
                F.sum(_cents(F.col("l_extendedprice"))).alias("revenue_cents"),
            )
        )

    Q["q04_multihop_chain"] = q04

    # J10/J14/U2-U4 — the engine's set-operation family in one contract
    # row: left-anti orphans (entry-point detection, trace_call_graph.ts
    # :102-136), left-semi membership, and distinct-set difference —
    # each tagged by kind so the driver hash-checks all three at once
    def q05(spark, sf):
        c = _t(spark, sf, "customer")
        o = _t(spark, sf, "orders")
        e = _t(spark, sf, "events")
        orphans = c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
            F.lit("orphan_customer").alias("kind"),
            F.col("c_custkey").cast("string").alias("k"),
            F.lit(0).cast("long").alias("n"),
        )
        semi = (
            c.join(o, c.c_custkey == o.o_custkey, "left_semi")
            .groupBy("c_mktsegment")
            .agg(F.count("*").alias("n"))
            .select(
                F.lit("active_segment").alias("kind"),
                F.col("c_mktsegment").alias("k"),
                "n",
            )
        )
        err = e.where(F.col("event_type") == "error").select("user_id").distinct()
        pur = e.where(F.col("event_type") == "purchase").select("user_id").distinct()
        err_only = err.join(pur, "user_id", "left_anti").select(
            F.lit("error_only_user").alias("kind"),
            F.col("user_id").cast("string").alias("k"),
            F.lit(0).cast("long").alias("n"),
        )
        return orphans.unionByName(semi).unionByName(err_only)

    Q["q05_set_ops"] = q05

    # W2/O2 — top-1 per group with deterministic tie-break
    def q07(spark, sf):
        s = _t(spark, sf, "supplier")
        w = Window.partitionBy("s_nationkey").orderBy(
            F.desc("s_acctbal"), F.col("s_suppkey")
        )
        return (
            s.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") == 1)
            .select(
                "s_nationkey",
                "s_suppkey",
                _cents(F.col("s_acctbal")).alias("acctbal_cents"),
            )
        )

    Q["q07_top_supplier_per_nation"] = q07

    # W4 — per-group rank window, keep top 3
    def q08(spark, sf):
        o = _t(spark, sf, "orders")
        w = Window.partitionBy("o_custkey").orderBy(
            F.desc("o_totalprice"), F.col("o_orderkey")
        )
        return (
            o.withColumn("rank", F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= 3)
            .select("o_custkey", "o_orderkey", "rank")
        )

    Q["q08_order_rank_window"] = q08

    # J3 — equi + bounded-range join (ship within 30 days of order)
    def q09(spark, sf):
        o = _t(spark, sf, "orders")
        li = _t(spark, sf, "lineitem")
        d = F.datediff(F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date"))
        return (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .where((d >= 0) & (d <= 30))
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n_fast_items"))
        )

    Q["q09_equi_range_join"] = q09

    # J3 as-of — previous event of same user, delta seconds
    def q10(spark, sf):
        e = _t(spark, sf, "events")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        delta = (
            F.unix_timestamp(F.col("ts")) - F.unix_timestamp(F.lag("ts").over(w))
        ).cast("long")
        return (
            e.withColumn("delta_s", delta)
            .where(F.col("delta_s").isNotNull() & (F.col("delta_s") <= 3600))
            .select("event_id", "user_id", "delta_s")
        )

    Q["q10_asof_prev_event"] = q10

    # F10/S4 + J2/A7 — cell-encode histogram at res 8 next to the
    # closed-form parent rollup to res 4 (cells.cell_parent — the
    # scope-tree parent_id as O(1) arithmetic), tagged by `res`
    def q11(spark, sf):
        g = _docs_geo(spark, sf)
        c8 = cells.cell_encode(F.col("lon_u"), F.col("lat_u"), 8)
        h8 = (
            g.select(c8.alias("cell"))
            .groupBy("cell")
            .agg(F.count("*").alias("n_points"))
            .select(F.lit(8).cast("long").alias("res"), "cell", "n_points")
        )
        h4 = (
            g.select(cells.cell_parent(c8, 4).alias("cell"))
            .groupBy("cell")
            .agg(F.count("*").alias("n_points"))
            .select(F.lit(4).cast("long").alias("res"), "cell", "n_points")
        )
        return h8.unionByName(h4)

    Q["q11_cells_rollup"] = q11

    # J1/W3 — bbox PIP with deepest-region-wins
    def q13(spark, sf):
        g = _docs_geo(spark, sf)
        n = _t(spark, sf, "nation")
        box = derive.region_box_cols(F.col("n_nationkey"))
        regions = n.select(
            "n_nationkey",
            box["depth"].cast("long").alias("depth"),
            box["xmin"].alias("xmin"),
            box["xmax"].alias("xmax"),
            box["ymin"].alias("ymin"),
            box["ymax"].alias("ymax"),
        )
        hit = g.join(
            F.broadcast(regions),
            (F.col("lon_u") >= F.col("xmin"))
            & (F.col("lon_u") <= F.col("xmax"))
            & (F.col("lat_u") >= F.col("ymin"))
            & (F.col("lat_u") <= F.col("ymax")),
        )
        w = Window.partitionBy("doc_id").orderBy(F.desc("depth"), F.col("n_nationkey"))
        return (
            hit.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") == 1)
            .select("doc_id", F.col("n_nationkey").alias("region_key"), "depth")
        )

    Q["q13_pip_bbox_deepest"] = q13

    # J11/W4 — banded phash kNN, top-3, deterministic tie-break
    def q14(spark, sf):
        g = _docs_geo(spark, sf).select(
            "doc_id", "phash", F.shiftright(F.col("phash"), 46).alias("band")
        )
        a = g.select(
            F.col("doc_id").alias("src"),
            F.col("phash").alias("p1"),
            "band",
        )
        b = g.select(
            F.col("doc_id").alias("dst"),
            F.col("phash").alias("p2"),
            "band",
        )
        pairs = (
            a.join(b, "band")
            .where(F.col("src") != F.col("dst"))
            .select(
                "src",
                "dst",
                F.bit_count(F.col("p1").bitwiseXOR(F.col("p2"))).cast("long").alias("hamming"),
            )
            .where(F.col("hamming") <= 16)
        )
        w = Window.partitionBy("src").orderBy("hamming", "dst")
        return (
            pairs.withColumn("rank", F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= 3)
            # Resolution{confidence, reason} columns, matching the
            # knn_edges operator contract (symbol_references.ts:270-298)
            .withColumn(
                "confidence",
                F.when(F.col("hamming") == 0, F.lit("certain"))
                .when(F.col("hamming") <= 8, F.lit("probable"))
                .otherwise(F.lit("possible")),
            )
            .withColumn(
                "reason",
                F.when(F.col("hamming") == 0, F.lit("exact")).otherwise(
                    F.lit("band-match")
                ),
            )
        )

    Q["q14_knn_phash_topk"] = q14

    # A7 — two-level tile pyramid (z6 + rollup to z3)
    def q15(spark, sf):
        g = _docs_geo(spark, sf)
        tx6 = cells.idiv((F.col("lon_u") * F.lit(1 << 6)).cast("long"), cells.LON_SPAN)
        ty6 = cells.idiv((F.col("lat_u") * F.lit(1 << 6)).cast("long"), cells.LAT_SPAN)
        z6 = (
            g.select(tx6.alias("tx"), ty6.alias("ty"))
            .groupBy("tx", "ty")
            .agg(F.count("*").alias("n_points"))
            .select(F.lit(6).alias("z"), "tx", "ty", "n_points")
        )
        z3 = (
            z6.select(
                F.lit(3).alias("z"),
                F.shiftright(F.col("tx"), 3).alias("tx"),
                F.shiftright(F.col("ty"), 3).alias("ty"),
                "n_points",
            )
            .groupBy("z", "tx", "ty")
            .agg(F.sum("n_points").alias("n_points"))
        )
        return z6.unionByName(z3)

    Q["q15_tile_pyramid"] = q15

    # J14 — orphans of the kNN graph (docs never linked as dst);
    # driver-checked through q39_entrypoint_filter, which returns the
    # full orphan set with the P4/P5 `kept` verdict per row
    def q16(spark, sf):
        edges = q14(spark, sf)
        docs = _t(spark, sf, "documents").select("doc_id")
        dsts = edges.select(F.col("dst").alias("doc_id")).distinct()
        return docs.join(dsts, "doc_id", "left_anti")

    # dedup (exact): canonical doc per (lang, size bucket)
    def q17(spark, sf):
        d = _t(spark, sf, "documents")
        bucket = cells.idiv(F.col("n_chars").cast("long"), 50)
        return (
            d.select("lang", bucket.alias("size_bucket"), "doc_id")
            .groupBy("lang", "size_bucket")
            .agg(
                F.min("doc_id").alias("canonical_doc"),
                F.count("*").alias("group_size"),
            )
        )

    Q["q17_dedup_exact"] = q17

    # dedup (near, set-Jaccard): letter-set jaccard >= 0.9 within lang.
    # Spark side is the BANDED subquadratic operator (pigeonhole over 3
    # mask bands, 100% recall at this threshold — operators/dedup.py);
    # the oracle keeps the all-pairs form, so the driver verifies the
    # scale path against exact O(n^2) semantics.
    def q18(spark, sf):
        from ariadne_spark.operators.dedup import jaccard_neardup_banded

        d = _t(spark, sf, "documents").select(
            "doc_id", "lang", _letter_mask_col().alias("mask")
        )
        return jaccard_neardup_banded(d, threshold_milli=900)

    Q["q18_jaccard_neardup"] = q18

    # similarity — exact top-3 by quantized dot product (cosine:
    # embeddings are unit-norm), deterministic tie-break on dst.
    # Physical plan: distributed block-matmul (operators/exact_sim.py) —
    # probe/corpus rows replicated to data-derived block pairs, one numpy
    # matmul per (pb, cb) group in applyInPandas, final window merges
    # per-block top-ks. Exact, and no driver-side collect of the corpus
    # (the round-1 plan broadcast a driver-collected matrix: hard driver
    # memory ceiling). ann_topk/ann_ivf (x13) remain the subquadratic paths.
    # ... plus the sparse lexical half of the retrieval suite
    # (operators/retrieval.py): kind='sparse' rows are BM25 top-3 docs
    # per query (queries = ~7 docs picked by a data-derived stride
    # doc_id % max(n/6, 1) == 0, so the query COUNT is scale-invariant:
    # the entry's cost doesn't grow with corpus size — this synth
    # corpus is the all-stopword worst case where every query term
    # matches every doc; scored over distinct tokens, self excluded)
    # with the milli-integer BM25 formula — scores land in dot_q so the
    # whole retrieval relation (dense embedding top-k + sparse keyword
    # top-k) hash-checks as one.
    # ... and the HYBRID layer over both: kind='fused' rows are the
    # reciprocal-rank fusion (retrieval.rrf_fuse, micro-integer RRF) of
    # the dense and sparse top-3 lists on the shared query set (vec_id
    # and doc_id share one id space), and kind='eval' rows are the
    # retrieval metrics (retrieval.eval_topk): per query, the sparse
    # system scored against the dense top-3 as truth — src=query,
    # dst=hits@3, dot_q=mrr_micro, rank=recall_permille — so fusion
    # math AND the eval metrics are both driver-hash-checked.
    def q21(spark, sf):
        from ariadne_spark.operators.exact_sim import exact_topk
        from ariadne_spark.operators.retrieval import (
            bm25_topk,
            eval_topk,
            rrf_fuse,
        )

        # the dense top-k and BM25 subplans each feed 3-4 union
        # branches below (dense/fused/eval rows); an eager local
        # checkpoint materializes each ONCE (both are top-k-bounded:
        # n·3 and queries·3 rows) instead of re-running the block
        # matmul / postings scan per branch. Measured (round 4, sf0.1,
        # local[32], bench.py's q21_split): the whole entry is
        # ~5.7-6.8 s, of which ~5 s is exactly these two checkpoint
        # builds (BM25 ~3 s on the deliberate all-stopword worst case +
        # exact block matmul ~1.6 s) and each of the six kind branches
        # then costs 0.05-0.4 s — i.e. the checkpoint converts 6
        # re-executions of the 5 s build into one. The round-3 in-code
        # claim ("6.2 s -> ~2 s") overstated the win and is retracted;
        # the entry's floor is the SLOWER of the two builds: they are
        # independent jobs, so they are submitted from two driver
        # threads and Spark's scheduler overlaps them (checkpointed
        # results are identical to the sequential build — concurrency
        # changes wall time, never content).
        d = _t(spark, sf, "documents").select("doc_id", "text")
        stride = F.greatest(
            cells.idiv(F.col("n_docs"), 6), F.lit(1).cast("long")
        )
        qs = (
            d.crossJoin(
                F.broadcast(d.agg(F.count(F.lit(1)).alias("n_docs")))
            )
            .where(F.col("doc_id") % stride == 0)
            .select(F.col("doc_id").alias("query_id"), "text")
        )
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(2) as pool:
            f_dense = pool.submit(
                lambda: exact_topk(
                    _t(spark, sf, "embeddings"), k=3
                ).localCheckpoint()
            )
            f_sp = pool.submit(
                lambda: bm25_topk(d, qs, k=3, exclude_self=True).localCheckpoint()
            )
            dense_r, sp = f_dense.result(), f_sp.result()
        dense = dense_r.select(
            F.lit("dense").alias("kind"), "src", "dst", "dot_q", "rank"
        )
        sparse = sp.select(
            F.lit("sparse").alias("kind"),
            F.col("query_id").alias("src"),
            F.col("doc_id").alias("dst"),
            F.col("score_q").alias("dot_q"),
            "rank",
        )
        dsub = dense_r.join(
            F.broadcast(qs.select(F.col("query_id").alias("src"))),
            "src",
            "left_semi",
        ).select(
            F.col("src").alias("query_id"), F.col("dst").alias("doc_id"), "rank"
        )
        spr = sp.select("query_id", "doc_id", "rank")
        fused_r = rrf_fuse([dsub, spr], k0=60, k=3)
        fused = fused_r.select(
            F.lit("fused").alias("kind"),
            F.col("query_id").alias("src"),
            F.col("doc_id").alias("dst"),
            F.col("rrf_micro").alias("dot_q"),
            "rank",
        )

        def ev_rows(kind, system, truth):
            # eval rows: src=query, dst=hits@3, dot_q=mrr_micro,
            # rank=recall_permille. Two variants so the metric is
            # hash-checked on BOTH regimes: sparse-vs-dense (random
            # embeddings -> zero agreement, pins the miss path) and
            # dense-vs-fused-consensus (varied nonzero values).
            return eval_topk(system, truth, k=3).select(
                F.lit(kind).alias("kind"),
                F.col("query_id").alias("src"),
                F.col("hits").alias("dst"),
                F.col("mrr_micro").alias("dot_q"),
                F.col("recall_permille").alias("rank"),
            )

        # ... and kind='hardneg' rows: hard-negative mining for
        # retriever training (retrieval.hard_negatives) — sparse
        # candidates that are NOT the dense top-1 positive, re-ranked;
        # src=query, dst=neg_id, dot_q=pos_id, rank=neg_rank
        from ariadne_spark.operators.retrieval import hard_negatives

        hn = hard_negatives(
            spr, dsub.where(F.col("rank") == 1).select("query_id", "doc_id"),
            k_neg=2,
        ).select(
            F.lit("hardneg").alias("kind"),
            F.col("query_id").alias("src"),
            F.col("neg_id").alias("dst"),
            F.col("pos_id").alias("dot_q"),
            F.col("neg_rank").alias("rank"),
        )
        return (
            dense.unionByName(sparse)
            .unionByName(fused)
            .unionByName(ev_rows("eval", spr, dsub))
            .unionByName(
                ev_rows("eval_fused", dsub, fused_r.select("query_id", "doc_id", "rank"))
            )
            .unionByName(hn)
        )

    Q["q21_embedding_topk"] = q21

    # text — token counts per lang (whitespace tokens, exact arithmetic)
    # ... plus the RAG chunking layout (curation.chunk_docs, 64-word
    # windows every 48 words) aggregated per lang: kind='chunks' rows
    # reuse the stats columns as n_docs:=n_chunks, sum_words:=sum of
    # per-chunk token counts, sum_chars:=sum of rebuilt chunk-text
    # lengths — any slice/clamp boundary error shifts the sums, so the
    # chunk relation is hash-checked at the aggregate grain here and
    # at the per-chunk grain in tests/test_curation.py
    # ... plus the record-shard export accounting (operators/export.py,
    # the WebDataset-style loader hand-off): kind='export' rows carry
    # n_docs:=record count, sum_words:=total wire bytes of the packed
    # shard (16-byte header + utf8 key/meta + payload, the exact blob
    # length pytest pins byte-for-byte), sum_chars:=payload bytes —
    # so the export format's byte layout is driver-hash-checked even
    # though the blob itself is not SQL-expressible
    def q22(spark, sf):
        from ariadne_spark.operators.curation import chunk_docs
        from ariadne_spark.operators.export import shard_bytes_col

        d = _t(spark, sf, "documents")
        words = (
            F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
            + 1
        ).cast("long")
        stats = (
            d.select("lang", words.alias("words"), F.col("n_chars").cast("long").alias("nc"))
            .groupBy("lang")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("words").alias("sum_words"),
                F.sum("nc").alias("sum_chars"),
            )
            .select(F.lit("stats").alias("kind"), "*")
        )
        chunks = (
            chunk_docs(
                d.select("doc_id", "lang", "text"),
                chunk=64,
                stride=48,
                id_cols=("doc_id", "lang"),
            )
            .groupBy("lang")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("n_tok").alias("sum_words"),
                F.sum(F.length("chunk_text").cast("long")).alias("sum_chars"),
            )
            .select(F.lit("chunks").alias("kind"), "*")
        )
        export = (
            d.select(
                "lang",
                F.col("doc_id").cast("string").alias("key"),
                F.col("lang").alias("meta"),
                F.encode(F.col("text"), "UTF-8").alias("payload"),
            )
            .groupBy("lang")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum(shard_bytes_col()).alias("sum_words"),
                F.sum(F.octet_length("payload").cast("long")).alias("sum_chars"),
            )
            .select(F.lit("export").alias("kind"), "*")
        )
        return stats.unionByName(chunks).unionByName(export)

    Q["q22_token_stats"] = q22

    # text — quality score (integer-scaled): word count, avg word length,
    # stopword share of 'the' ... plus MODEL-BASED quality filtering
    # (curation.quality_classifier): the heuristic gate (quality >= 70)
    # is the SEED that trains an integer token-polarity classifier
    # (DCLM/FineWeb-Edu distillation stage), and every doc carries the
    # model's milli-score + verdict next to the heuristic's — so the
    # trained weights, the scoring join, and the keep boundary are all
    # driver-hash-checked against the DuckDB twin.
    def q23(spark, sf):
        from ariadne_spark.operators.curation import quality_classifier

        d = _t(spark, sf, "documents")
        text = F.col("text")
        words = (F.length(text) - F.length(F.replace(text, F.lit(" "), F.lit(""))) + 1).cast(
            "long"
        )
        the_count = cells.idiv(
            (F.length(text) - F.length(F.replace(text, F.lit("the"), F.lit("")))).cast("long"),
            3,
        )
        score = (
            F.when(words >= 20, F.lit(40)).otherwise(F.lit(0))
            + F.when((the_count * 100) <= words * 20, F.lit(30)).otherwise(F.lit(0))
            + F.when(F.col("n_chars") >= 200, F.lit(30)).otherwise(F.lit(0))
        ).cast("long")
        base = d.select(
            "doc_id", words.alias("words"), the_count.alias("the_count"), score.alias("quality")
        )
        # threshold picked inside the sf0.01 score distribution so the
        # driver hash-checks BOTH sides of the keep boundary
        clf = quality_classifier(
            d, seed_pred=score >= 70, min_df=2, threshold_milli=8000
        )
        # LM-surprisal columns ride along (curation.surprisal_score,
        # the CCNet perplexity-filter analog with an integer-exact
        # floor-log2): the unigram model, the bits() law, and the
        # permille floor are all hash-checked per doc
        from ariadne_spark.operators.curation import surprisal_score

        sp = surprisal_score(d).select(
            "doc_id", F.col("surprisal_permille").alias("surp_permille")
        )
        return base.join(clf, "doc_id").join(sp, "doc_id")

    Q["q23_quality_score"] = q23

    # text — marker-token language-id heuristic + confusion counts
    def q24(spark, sf):
        d = _t(spark, sf, "documents")
        text = F.col("text")

        def cnt(tok):
            return cells.idiv(
                (F.length(text) - F.length(F.replace(text, F.lit(tok), F.lit("")))).cast(
                    "long"
                ),
                len(tok),
            )

        pred = (
            F.when(cnt(" the ") >= 2, F.lit("en"))
            .when(cnt(" a ") >= 2, F.lit("en_lite"))
            .otherwise(F.lit("unknown"))
        )
        return (
            d.select("lang", pred.alias("pred"))
            .groupBy("lang", "pred")
            .agg(F.count("*").alias("n"))
        )

    Q["q24_langid_heuristic"] = q24

    # per-doc signature dump, one scan of the corpus: rolling
    # polynomial fingerprint of the first 16 chars + Morton/Z-order key
    # of the res-8 cell (F6/Morton) + MinHash (4-hash over 3-gram
    # polynomial hashes) + 8-bit majority SimHash — every per-document
    # signature family the dedup operators consume, cross-engine
    # integer-exact in one driver row
    def q25(spark, sf):
        d = _t(spark, sf, "documents")
        fp = F.lit(0).cast("long")
        for k in range(1, 17):
            fp = (fp * F.lit(31) + F.ascii(F.substring(F.col("text"), k, 1))) % F.lit(
                derive.M31
            )
        did = F.col("doc_id")
        c8 = cells.cell_encode(derive.lon_u_col(did), derive.lat_u_col(did), 8)
        sig = [
            F.array_min(_gram_hash_col(*p)).alias(f"mh{i}")
            for i, p in enumerate(MINHASH_PARAMS)
        ]
        grams = _gram_hash_col(*MINHASH_PARAMS[0])
        bits = []
        for bpos in range(SIM_BITS):
            s = F.aggregate(
                grams,
                F.lit(0).cast("long"),
                lambda acc, h: acc
                + (F.shiftright(h, bpos) % 2) * 2
                - 1,
            )
            bits.append(F.when(s >= 0, F.lit(1 << bpos)).otherwise(F.lit(0)))
        sim = bits[0]
        for bb in bits[1:]:
            sim = sim + bb
        # empty gram list (text < 3 chars): per-bit sums are 0 so every
        # bit would set (255) while the DuckDB twin's list_sum(NULL)
        # CASE yields 0 — pin simhash 0 on both engines
        sim = F.when(F.size(grams) > 0, sim).otherwise(F.lit(0))
        return d.select(
            "doc_id",
            fp.alias("fingerprint"),
            cells.morton_key(c8, bits=8).alias("morton"),
            # Hilbert twin of the morton key (adjacency-preserving
            # clustering; UDF side vs the DuckDB 8-level CTE chain —
            # the curve law itself is exhaustively pinned in
            # tests/test_foundations.py)
            cells.hilbert_key(c8, order=8).alias("hilbert"),
            *sig,
            sim.cast("long").alias("simhash"),
        )

    Q["q25_fingerprint_morton"] = q25

    # U1 — union of per-kind aggregates (unionByName)
    def q27(spark, sf):
        e = _t(spark, sf, "events")
        views = (
            e.where(F.col("event_type") == "view")
            .groupBy("user_id")
            .agg(F.count("*").alias("n"))
            .withColumn("kind", F.lit("view"))
        )
        clicks = (
            e.where(F.col("event_type") == "click")
            .groupBy("user_id")
            .agg(F.count("*").alias("n"))
            .withColumn("kind", F.lit("click"))
        )
        return views.unionByName(clicks)

    Q["q27_union_kinds"] = q27

    # A2 — member-index build: per nation, ordered member roster
    def q28(spark, sf):
        c = _t(spark, sf, "customer")
        return (
            c.groupBy("c_nationkey")
            .agg(
                F.count("*").alias("n_members"),
                F.concat_ws("|", F.sort_array(F.collect_list("c_name"))).alias("roster"),
            )
        )

    Q["q28_member_index"] = q28

    # A3 — global stats
    def q29(spark, sf):
        c = _t(spark, sf, "customer")
        o = _t(spark, sf, "orders")
        li = _t(spark, sf, "lineitem")
        return (
            c.agg(F.count("*").alias("n_customers"))
            .crossJoin(o.agg(F.count("*").alias("n_orders")))
            .crossJoin(
                li.agg(
                    F.count("*").alias("n_lineitems"),
                    F.countDistinct("l_partkey").alias("n_distinct_parts"),
                )
            )
        )

    Q["q29_stats"] = q29

    # J5/A5 — bounded iterative closure over a derived functional graph
    def q30(spark, sf):
        d = _t(spark, sf, "documents").select("doc_id")
        n_docs = d.count()
        step = lambda col: (col * 7 + 3) % F.lit(n_docs)  # noqa: E731
        roots = d.where(F.col("doc_id") < 10).select(F.col("doc_id").alias("root"))
        frontier = roots.select("root", F.col("root").alias("node"))
        reach = frontier
        for _ in range(3):
            frontier = frontier.select("root", step(F.col("node")).alias("node"))
            reach = reach.unionByName(frontier).distinct()
        return reach.groupBy("root").agg(F.count("*").alias("n_reachable"))

    Q["q30_reachability_3hop"] = q30

    # skew-handling — salted large join, result identical to plain join
    def q31(spark, sf):
        o = _t(spark, sf, "orders")
        li = _t(spark, sf, "lineitem")
        SALT = 8
        li_s = li.withColumn("_salt", F.pmod(F.xxhash64("l_linenumber"), F.lit(SALT)))
        o_s = o.withColumn(
            "_salt", F.explode(F.array(*[F.lit(s) for s in range(SALT)]))
        )
        return (
            li_s.join(
                o_s,
                (li_s.l_orderkey == o_s.o_orderkey) & (li_s._salt == o_s._salt),
            )
            .groupBy("o_orderpriority")
            .agg(
                F.count("*").alias("n_items"),
                F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            )
        )

    Q["q31_salted_skew_join"] = q31

    # streaming-concept analog — sessionization (gap > 600 s) ... plus
    # semi-structured metadata extraction: events.props is a JSON
    # sidecar (the WARC-header/metadata-blob shape of a crawl
    # pipeline); `$.k` is pulled with the engine's native JSON path
    # (Spark get_json_object, DuckDB json_extract_string — both NULL
    # on a missing key, both skipped by SUM), cast to long, and
    # aggregated per user so the extraction is hash-checked alongside
    # the session counts. JVM-side expression, no UDF.
    def q32(spark, sf):
        e = _t(spark, sf, "events")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        gap = F.unix_timestamp(F.col("ts")) - F.unix_timestamp(F.lag("ts").over(w))
        new_session = F.when(gap.isNull() | (gap > 600), 1).otherwise(0)
        meta_k = F.get_json_object(F.col("props"), "$.k").cast("long")
        return (
            e.withColumn("ns", new_session)
            .withColumn("mk", meta_k)
            .groupBy("user_id")
            .agg(
                F.sum("ns").cast("long").alias("n_sessions"),
                F.count("*").alias("n_events"),
                F.sum("mk").alias("sum_meta_k"),
                F.count("mk").alias("n_meta"),
            )
        )

    Q["q32_sessionize"] = q32

    # A7 — explicit ROLLUP with grouping_id (the materialized-pyramid
    # concept as a single relational operator)
    def q33(spark, sf):
        li = _t(spark, sf, "lineitem")
        return (
            li.rollup("l_returnflag", "l_linestatus")
            .agg(
                F.count("*").alias("n_rows"),
                F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
                F.grouping_id().alias("gid"),
            )
        )

    Q["q33_rollup_grouping"] = q33

    # J1/J4 — full containment CHAIN (deepest_only=False semantics):
    # every enclosing region per point, ordered by depth — the scope
    # ancestor path analog
    def q34(spark, sf):
        g = _docs_geo(spark, sf)
        n = _t(spark, sf, "nation")
        box = derive.region_box_cols(F.col("n_nationkey"))
        regions = n.select(
            "n_nationkey",
            box["depth"].cast("long").alias("depth"),
            box["xmin"].alias("xmin"),
            box["xmax"].alias("xmax"),
            box["ymin"].alias("ymin"),
            box["ymax"].alias("ymax"),
        )
        return g.join(
            F.broadcast(regions),
            (F.col("lon_u") >= F.col("xmin"))
            & (F.col("lon_u") <= F.col("xmax"))
            & (F.col("lat_u") >= F.col("ymin"))
            & (F.col("lat_u") <= F.col("ymax")),
        ).select("doc_id", F.col("n_nationkey").alias("region_key"), "depth")

    Q["q34_pip_chain"] = q34

    # J12/cells — k-ring neighbor expansion (x wraps, y clamps), counts
    # per neighbor cell at res 6
    def q35(spark, sf):
        res = 6
        nside = 1 << res
        g = _docs_geo(spark, sf)
        x = cells.cell_x(F.col("lon_u"), res)
        y = cells.cell_y(F.col("lat_u"), res)
        offs = F.array(
            *[
                F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                for dx, dy in cells.kring_offsets(1)
            ]
        )
        e = g.select(x.alias("x"), y.alias("y"), F.explode(offs).alias("o"))
        nx = (F.col("x") + F.col("o.dx") + F.lit(nside)) % F.lit(nside)
        ny = F.col("y") + F.col("o.dy")
        return (
            e.where((ny >= 0) & (ny < nside))
            .select(cells.pack_cell(res, nx, ny).alias("neighbor_cell"))
            .groupBy("neighbor_cell")
            .agg(F.count("*").alias("n"))
        )

    Q["q35_kring_counts"] = q35

    # dedup (MinHash LSH) — banded candidate pairs: 4-hash signatures in
    # 2 bands of 2; a pair is a candidate if ANY band matches, reported
    # once under its first matching band (the same first-match dedup
    # as the phash kNN operator — zero extra shuffles). Each pair also
    # carries its connected-component cluster_id (min doc_id reachable
    # through the pair graph, `operators/dedup.py dup_clusters` —
    # min-label propagation to fixpoint), cross-checked against the
    # oracle's recursive-CTE closure: pairs -> clusters is the step a
    # curation pipeline runs before canonical-document selection.
    def q37(spark, sf):
        d = _t(spark, sf, "documents")
        sig = d.select(
            "doc_id",
            *[
                F.array_min(_gram_hash_col(*p)).alias(f"mh{i}")
                for i, p in enumerate(MINHASH_PARAMS)
            ],
        )
        a = sig.select(*[F.col(c).alias(f"a_{c}") for c in sig.columns])
        b = sig.select(*[F.col(c).alias(f"b_{c}") for c in sig.columns])
        band0 = (F.col("a_mh0") == F.col("b_mh0")) & (F.col("a_mh1") == F.col("b_mh1"))
        band1 = (F.col("a_mh2") == F.col("b_mh2")) & (F.col("a_mh3") == F.col("b_mh3"))
        p0 = (
            a.join(b, (F.col("a_mh0") == F.col("b_mh0")) & (F.col("a_mh1") == F.col("b_mh1")))
            .where(F.col("a_doc_id") < F.col("b_doc_id"))
            .select(
                F.col("a_doc_id").alias("a"),
                F.col("b_doc_id").alias("b"),
                F.lit(0).alias("band"),
            )
        )
        p1 = (
            a.join(b, (F.col("a_mh2") == F.col("b_mh2")) & (F.col("a_mh3") == F.col("b_mh3")))
            .where((F.col("a_doc_id") < F.col("b_doc_id")) & ~band0)
            .select(
                F.col("a_doc_id").alias("a"),
                F.col("b_doc_id").alias("b"),
                F.lit(1).alias("band"),
            )
        )
        pairs = p0.unionByName(p1)
        from ariadne_spark.operators.dedup import dup_clusters

        labels = dup_clusters(pairs.select("a", "b"))
        return pairs.join(labels, pairs.a == labels.doc_id).select(
            "a", "b", "band", "cluster_id"
        )

    Q["q37_minhash_lsh_pairs"] = q37

    # dedup (embedding-cosine near-dup) — pairs with quantized dot >=
    # 900000 (~cosine 0.9 on unit vectors); distributed block-matmul
    # (same plan family as q21 — no driver collect), exact integer
    # arithmetic; a<b orientation lands each pair in exactly one block
    # ... plus the CLIP-score-style image-text alignment gate
    # (curation.alignment_filter): vectors pair as (even vec_id = image
    # embedding, vec_id+1 = caption embedding) and kind='align' rows
    # carry EVERY pair with its integer-exact cosine>=0.2 verdict —
    # both the kept and the dropped side of the gate are hash-checked,
    # so the decimal/HUGEINT cross-multiplied threshold is pinned at
    # the flip boundary
    def q38(spark, sf):
        from ariadne_spark.operators.curation import alignment_filter
        from ariadne_spark.operators.exact_sim import exact_neardup_pairs

        emb = _t(spark, sf, "embeddings")
        nd = exact_neardup_pairs(emb, threshold=900_000).select(
            F.lit("neardup").alias("kind"),
            "a",
            "b",
            "dot_q",
            F.lit(True).alias("aligned"),
        )
        img = emb.where(F.col("vec_id") % 2 == 0).select(
            F.col("vec_id").alias("a"), F.col("embedding").alias("img_vec")
        )
        txt = emb.select(
            (F.col("vec_id") - 1).alias("a"), F.col("embedding").alias("txt_vec")
        )
        al = alignment_filter(img.join(txt, "a"), threshold_permille=200).select(
            F.lit("align").alias("kind"),
            "a",
            (F.col("a") + 1).alias("b"),
            "dot_q",
            "aligned",
        )
        # third block: the feature-hashing featurizer (operators/
        # features.py — text -> integer vectors with no trained model,
        # the self-contained feed for SemDeDup/IVF/cosine). Corpus-
        # grain per-bucket accounting: a=bucket, b=token count,
        # dot_q=signed sum, aligned = sum >= 0 — any drift in the
        # tokenizer, rolling fp, mix, bucket map, or sign rule moves
        # these rows, so the featurizer is driver-hash-checked.
        from ariadne_spark.operators.features import bucket_sums

        hf = bucket_sums(_t(spark, sf, "documents"), dim=32).select(
            F.lit("hashfeat").alias("kind"),
            F.col("bucket").cast("long").alias("a"),
            F.col("n_tokens").alias("b"),
            F.col("sum_sign").alias("dot_q"),
            (F.col("sum_sign") >= 0).alias("aligned"),
        )
        return nd.unionByName(al).unionByName(hf)

    Q["q38_embedding_neardup"] = q38

    # ----- engine-only operators (rows-only driver check; pytest-verified
    # against pure-python oracles in tests/test_operators.py) -----

    def x01(spark, sf):
        import tempfile

        from ariadne_spark.operators.pip import pip_join
        from ariadne_spark.synth.images import write_images
        from ariadne_spark.synth.regions import generate_regions

        d = tempfile.mkdtemp()
        write_images(f"{d}/images.parquet", 2000)
        images = spark.read.parquet(f"{d}/images.parquet")
        return pip_join(images, generate_regions(), deepest_only=True)

    Q["x01_polygon_pip"] = x01

    def x02(spark, sf):
        import tempfile

        from ariadne_spark.operators.knn import knn_edges
        from ariadne_spark.synth.images import write_images

        d = tempfile.mkdtemp()
        write_images(f"{d}/images.parquet", 2000)
        images = spark.read.parquet(f"{d}/images.parquet")
        return knn_edges(images, k=5, max_hamming=16)

    Q["x02_real_phash_knn"] = x02

    # rasterization + raster -> vector round-trip (north rule): render
    # the z=4 tile layer, then decode each tile, re-extract the
    # occupied-bin set and compare to the bin set computed from raw
    # points — bins_match must be all-true (asserted in-entry; the
    # call-graph <-> source fidelity analog)
    def x03(spark, sf):
        import tempfile

        from ariadne_spark.operators.tiles import rasterize_tiles, roundtrip_check
        from ariadne_spark.synth.images import write_images

        d = tempfile.mkdtemp()
        write_images(f"{d}/images.parquet", 2000)
        images = spark.read.parquet(f"{d}/images.parquet")
        tiles = rasterize_tiles(images, 4, fmt="png").localCheckpoint()
        rt = roundtrip_check(tiles, images, 4, fmt="png")
        out = tiles.select(
            "z", "tx", "ty", "n_images", F.length("tile_img").alias("png_bytes")
        ).join(rt.select("z", "tx", "ty", "bins_match"), ["z", "tx", "ty"])
        assert out.where(~F.col("bins_match")).count() == 0, (
            "raster->vector round-trip lost occupied bins"
        )
        return out

    Q["x03_rasterize_roundtrip"] = x03

    # incremental re-tiling + snapshot lifecycle: full build on [0,600)
    # then update (modify 20, add 10, delete 10) must equal a cold build
    # on the final input — returns the per-table per-partition
    # fingerprint comparison rows (all `equal` = true). The same store
    # is then driven through the S8 snapshot lifecycle end to end: time
    # travel (read a pre-update snapshot after the table moved on),
    # metadata-only snapshot diff (the ~ms git fast-path analog — no
    # data read), and rollback (atomic HEAD re-point; both snapshots'
    # data retained), each asserted in-entry and reported as an extra
    # `__lifecycle__` row. Engine-only: snapshot stores + lineage have
    # no single-SQL oracle; deep checks live in tests/test_incremental.py.
    def x04(spark, sf):
        import tempfile

        import numpy as np

        from ariadne_spark.operators.incremental import SpatialPipeline
        from ariadne_spark.synth.images import IMAGES_SCHEMA, generate_rows
        from ariadne_spark.synth.regions import generate_regions

        def imgs(ids):
            return spark.createDataFrame(
                generate_rows(ids).to_pandas(), schema=IMAGES_SCHEMA
            ).drop("bytes")

        def modified(ids, shift=777):
            pdf = generate_rows(ids + shift).to_pandas().drop(columns=["bytes"])
            pdf["image_id"] = [f"img_{int(i):08d}" for i in ids]
            # explicit schema: without it w/h infer as int64 and the
            # update snapshot's parquet drifts from the full build's int32
            fields = [
                f for f in IMAGES_SCHEMA.split(", ") if not f.startswith("bytes ")
            ]
            cols = [f.split(" ")[0] for f in fields]
            return spark.createDataFrame(pdf[cols], schema=", ".join(fields))

        d = tempfile.mkdtemp()
        regions = generate_regions()
        inc = SpatialPipeline(spark, f"{d}/inc", regions, max_z=6)
        inc.full_build(imgs(np.arange(600)))
        mod = np.arange(50, 70)
        inc.update(
            modified(mod).unionByName(imgs(np.arange(600, 610))),
            deleted_ids=[f"img_{i:08d}" for i in range(200, 210)],
        )

        ref = SpatialPipeline(spark, f"{d}/ref", regions, max_z=6)
        final = np.array(
            [i for i in range(610) if not (200 <= i < 210 or i in set(mod))]
        )
        ref.full_build(imgs(final).unionByName(modified(mod)))

        a, b = inc.table_fingerprints(), ref.table_fingerprints()
        rows = []
        for table in sorted(set(a) | set(b)):
            for pk in sorted(set(a.get(table, {})) | set(b.get(table, {}))):
                fa = a.get(table, {}).get(pk)
                fb = b.get(table, {}).get(pk)
                rows.append((table, pk, fa == fb))

        # snapshot lifecycle on the incremental store (was x17): a
        # 100-row single-partition phash perturbation, then time
        # travel + metadata-only diff + rollback, all asserted
        st = inc.store
        sid0 = st.current_snapshot_id("images_indexed")
        n0 = st.read("images_indexed").count()
        parts = st.manifest("images_indexed").partitions
        pk_big = max(sorted(parts), key=lambda k: parts[k]["n_rows"])
        changed = (
            st.read("images_indexed", keys=[pk_big])
            .orderBy("image_id")
            .limit(100)
            .drop("pk")
            .withColumn("phash", F.col("phash").bitwiseXOR(F.lit(0x77)))
        ).localCheckpoint()
        n_upd = changed.count()
        inc.update(changed)
        sid1 = st.current_snapshot_id("images_indexed")
        assert sid1 != sid0, "update did not advance the snapshot"
        old = st.read("images_indexed", sid0)
        assert old.count() == n0, "time-travel read lost rows"
        ch = st.diff("images_indexed", sid0, sid1)
        assert ch == [pk_big], f"diff {ch} != [{pk_big}]"
        new = st.read("images_indexed")
        n_changed = new.join(old, ["image_id", "phash"], "left_anti").count()
        assert n_changed == n_upd > 0, f"expected {n_upd} changed rows, got {n_changed}"
        st.rollback("images_indexed", sid0)
        back = st.read("images_indexed")
        assert (
            back.join(old, ["image_id", "phash"]).count() == n0 == back.count()
        ), "rollback did not restore the pre-update rowset"
        rows.append(("__lifecycle__", f"sid{sid0}->sid{sid1}", True))

        # round-3 store additions ride in the same entry on a side
        # table (bloom-located MOR delete -> CDC -> IVM refresh ->
        # materialize), every law asserted in-entry:
        side = spark.createDataFrame(
            [(i, f"g{i % 4}", i * 10) for i in range(80)],
            "id long, grp string, val long",
        )
        b0 = st.write_table(side, "side", key="grp", bloom_cols=["id"])
        from ariadne_spark.operators.ivm import create_agg_view, refresh_agg_view

        create_agg_view(st, "side", "side_v", "grp", ["val"])
        b1 = st.delete_rows_mor(
            spark.createDataFrame([(5,), (9,)], "id long"), "side", pk="id"
        )
        # tombstone commit rewrote nothing; reads hide the pks
        assert st.manifest("side", b0).partitions == st.manifest("side", b1).partitions
        assert st.read("side").count() == 78
        # CDC sees the logical-only change (bloom-located)
        cdc = sorted((r["change"], r["id"]) for r in st.read_changes("side", b0, b1).collect())
        assert cdc == [("delete", 5), ("delete", 9)], cdc
        # IVM refresh from the delta equals a cold rebuild
        refresh_agg_view(st, "side", "side_v", "grp", ["val"])
        got = {r["grp"]: (r["n_rows"], r["sum_val"]) for r in st.read("side_v").collect()}
        exp = {}
        for i in range(80):
            if i in (5, 9):
                continue
            g = f"g{i % 4}"
            n, s = exp.get(g, (0, 0))
            exp[g] = (n + 1, s + i * 10)
        assert got == exp, "IVM view diverged from the delta-applied truth"
        # materialize folds tombstones physically and clears them
        st.materialize_deletes("side")
        assert not st.manifest("side").delete_files
        assert st.read("side", _apply_deletes=False).count() == 78
        rows.append(("__mor_cdc_ivm__", f"sid{b0}->sid{b1}", True))

        return spark.createDataFrame(rows, "table string, pk string, equal boolean")

    Q["x04_incremental_lifecycle"] = x04

    # query surface: orphan images (never a kNN destination) ranked by
    # transitive reach — the list_entrypoints analog. The A6 analytics
    # layer (≅ mcp/src/analytics/query_stats.ts per-tool call counts)
    # rides in the same entry: each surface call is recorded through
    # api.record_query and the per-tool tallies are asserted in-entry
    # (engine-only: call history is runtime state; deeper checks in
    # tests/test_api.py).
    def x05(spark, sf):
        import tempfile

        from ariadne_spark.api import (
            list_orphans,
            neighborhood,
            query_stats,
            record_query,
            stats,
        )
        from ariadne_spark.operators.knn import knn_edges
        from ariadne_spark.store import SnapshotStore
        from ariadne_spark.synth.images import write_images

        d = tempfile.mkdtemp()
        write_images(f"{d}/images.parquet", 2000)
        images = spark.read.parquet(f"{d}/images.parquet").drop("bytes")
        # checkpoint once: the kNN candidate join feeds orphans,
        # neighborhood, stats AND the pagerank gate below — without it
        # each consumer re-executes the pipeline's most expensive plan
        edges = knn_edges(images, k=3, max_hamming=16).localCheckpoint()

        store = SnapshotStore(spark, f"{d}/s")
        record_query(store, "list_orphans")
        orphans = list_orphans(images, edges, max_depth=4).limit(100)
        record_query(store, "neighborhood")
        neighborhood(edges, orphans.first()["image_id"], depth=1)
        record_query(store, "stats")
        stats(images, edges=edges)
        record_query(store, "stats")
        stats(images, edges=edges)
        got = {r["tool"]: r["n_calls"] for r in query_stats(store).collect()}
        assert got == {"list_orphans": 1, "neighborhood": 1, "stats": 2}, (
            f"query-stats analytics diverged: {got}"
        )
        # centrality rides along in-entry (api.pagerank, integer pico-
        # prob floor law; python-oracle equality in tests/test_api.py):
        # mass conservation and full node coverage gate the entry
        from ariadne_spark.api import PR_UNIT, pagerank

        pr = pagerank(edges, n_iters=4)
        n_nodes = (
            edges.select(F.col("src_image_id").alias("n"))
            .unionByName(edges.select(F.col("dst_image_id").alias("n")))
            .distinct()
            .count()
        )
        agg = pr.agg(
            F.count("*").alias("n"), F.sum("rank_pp").alias("mass")
        ).collect()[0]
        assert agg["n"] == n_nodes, "pagerank must rank every graph node"
        assert 0 < agg["mass"] <= PR_UNIT, "pagerank mass must conserve"
        return orphans

    Q["x05_orphan_reach"] = x05

    # decode-stage per-row invariants (BASELINE.json input_hint): exact
    # png decode, PSNR>=40dB lossy decode, caption equality, phash
    # self-consistency — summarized per fmt, all violation counts zero.
    # The resize/thumbnail stage (decode -> aspect-preserving nearest-
    # neighbor downscale -> re-encode, one mapInPandas pass) rides in
    # the same entry as `resize` stage rows: n_pixel_violations counts
    # thumbnails whose max side exceeds the bound (must be zero; the
    # byte-exact numpy oracle lives in tests/test_decode.py)
    def x06(spark, sf):
        import tempfile

        from ariadne_spark.operators.decode import invariant_summary, resize_images
        from ariadne_spark.synth.images import write_images

        d = tempfile.mkdtemp()
        write_images(f"{d}/images.parquet", 2000)
        images = spark.read.parquet(f"{d}/images.parquet")
        inv = invariant_summary(images).select(F.lit("decode").alias("stage"), "*")
        rz = (
            resize_images(images, max_side=24)
            .groupBy("fmt")
            .agg(
                F.count("*").alias("n_rows"),
                F.sum(
                    F.when(F.greatest("w", "h") > 24, 1).otherwise(0)
                ).alias("n_pixel_violations"),
                F.lit(0).cast("long").alias("n_caption_violations"),
                F.lit(0).cast("long").alias("n_phash_violations"),
                F.lit(None).cast("double").alias("min_psnr"),
            )
            .select(F.lit("resize").alias("stage"), "*")
        )
        # audio + video plumbing ride in the same entry, reduced to the
        # summary shape (was x08): audio decode + DSP features, video
        # frame sampling via container index seek; n_pixel_violations
        # counts non-finite feature rows (audio) / off-stride frames
        # (video) — must be zero; per-item numeric oracles are
        # pure-python in tests/test_multimodal.py
        from ariadne_spark.operators.multimodal import (
            audio_df,
            extract_audio_features,
            sample_frames,
            video_df,
        )

        aud = extract_audio_features(audio_df(spark, 500)).agg(
            F.count("*").alias("n_rows"),
            F.sum(
                F.when(
                    F.isnan("rms") | F.isnan("zcr") | F.isnan("spectral_centroid"), 1
                ).otherwise(0)
            ).alias("n_pixel_violations"),
        )
        vid = sample_frames(video_df(spark, 500), every_k=4).agg(
            F.count("*").alias("n_rows"),
            F.sum(
                F.when(F.col("frame_idx") % 4 != 0, 1).otherwise(0)
            ).alias("n_pixel_violations"),
        )
        # scene-cut detection rides along: the synth moving-block
        # corpus has motion but no shot boundaries, so any detected
        # cut is a violation (planted-cut truth + python oracle live
        # in tests/test_multimodal.py)
        from ariadne_spark.operators.multimodal import detect_scenes

        scn = detect_scenes(video_df(spark, 500)).agg(
            F.count("*").alias("n_rows"),
            F.sum("is_cut").alias("n_pixel_violations"),
        )
        pad = lambda df, stage, fmt: df.select(  # noqa: E731
            F.lit(stage).alias("stage"),
            F.lit(fmt).alias("fmt"),
            F.col("n_rows").cast("long"),
            F.col("n_pixel_violations").cast("long"),
            F.lit(0).cast("long").alias("n_caption_violations"),
            F.lit(0).cast("long").alias("n_phash_violations"),
            F.lit(None).cast("double").alias("min_psnr"),
        )
        # image-curation funnel rides in the same entry, reduced to the
        # summary shape: one row per disposition reason (stage='curate',
        # fmt=reason). In-entry asserts: total coverage (every image
        # gets exactly one reason) and the phash near-dup stage firing
        # on the synth corpus's planted ~5% near-duplicates; per-gate
        # adversarial rows + stage==independent-recomputation parity in
        # tests/test_curation.py.
        from ariadne_spark.operators.curation import curate_images

        funnel = curate_images(images).groupBy("reason").agg(
            F.count(F.lit(1)).alias("n_rows")
        )
        frows = {r["reason"]: r["n_rows"] for r in funnel.collect()}
        assert sum(frows.values()) == 2000, "funnel must cover every image"
        assert frows.get("phash_dup", 0) > 0, "planted near-dups must be caught"
        cur = funnel.select(
            F.lit("curate").alias("stage"),
            F.col("reason").alias("fmt"),
            F.col("n_rows").cast("long"),
            F.lit(0).cast("long").alias("n_pixel_violations"),
            F.lit(0).cast("long").alias("n_caption_violations"),
            F.lit(0).cast("long").alias("n_phash_violations"),
            F.lit(None).cast("double").alias("min_psnr"),
        )

        # ViT patch extraction rides in the same entry: one summary row
        # per fmt; n_pixel_violations counts images whose decoded patch
        # grid disagrees with the STORED (w, h) columns — an independent
        # dims-vs-decode cross-check (numpy tile oracle per patch lives
        # in tests/test_decode.py)
        from ariadne_spark.operators.decode import patchify

        P = 16
        pat = (
            patchify(images, patch=P)
            .groupBy("image_id")
            .agg(F.count(F.lit(1)).alias("n_patches"))
            .join(images.select("image_id", "fmt", "w", "h"), "image_id", "right")
            .groupBy("fmt")
            .agg(
                F.sum(F.coalesce(F.col("n_patches"), F.lit(0))).alias("n_rows"),
                F.sum(
                    F.when(
                        F.coalesce(F.col("n_patches"), F.lit(0))
                        != (F.col("w") / P).cast("int") * (F.col("h") / P).cast("int"),
                        1,
                    ).otherwise(0)
                ).alias("n_pixel_violations"),
            )
            .select(F.lit("patchify").alias("stage"), "*")
            .select(
                "stage", "fmt", F.col("n_rows").cast("long"),
                F.col("n_pixel_violations").cast("long"),
                F.lit(0).cast("long").alias("n_caption_violations"),
                F.lit(0).cast("long").alias("n_phash_violations"),
                F.lit(None).cast("double").alias("min_psnr"),
            )
        )

        # aspect-ratio bucketing + batch assembly rides along: one row
        # per occupied bucket; violations count batches that are not
        # exactly batch_size (must be zero — partial tails are dropped
        # by construction); python bucket/batch oracle in
        # tests/test_batching.py
        from ariadne_spark.operators.batching import bucket_batches

        BS = 8
        bat = (
            bucket_batches(images.select("image_id", "w", "h"), batch_size=BS)
            .groupBy("bucket_w", "bucket_h", "batch_id")
            .agg(F.count(F.lit(1)).alias("__n"))
            .groupBy("bucket_w", "bucket_h")
            .agg(
                F.sum("__n").alias("n_rows"),
                F.sum(F.when(F.col("__n") != BS, 1).otherwise(0)).alias(
                    "n_pixel_violations"
                ),
            )
            .select(
                F.lit("aspect_batch").alias("stage"),
                F.concat_ws(
                    ":", F.col("bucket_w").cast("string"),
                    F.col("bucket_h").cast("string"),
                ).alias("fmt"),
                F.col("n_rows").cast("long"),
                F.col("n_pixel_violations").cast("long"),
                F.lit(0).cast("long").alias("n_caption_violations"),
                F.lit(0).cast("long").alias("n_phash_violations"),
                F.lit(None).cast("double").alias("min_psnr"),
            )
        )

        # deterministic training augmentation rides along: one row per
        # fmt; violations = augmented dims disagreeing with the
        # id-derived crop law greatest(1, (side*7)//8) or channel sums
        # exceeding the 255-per-pixel envelope (byte-exact numpy oracle
        # incl. re-encode parity lives in tests/test_decode.py)
        from ariadne_spark.operators.decode import augment_images

        ag = (
            augment_images(images)
            .join(
                images.select(
                    "image_id", F.col("w").alias("ow"), F.col("h").alias("oh")
                ),
                "image_id",
            )
            .groupBy("fmt")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(
                    F.when(
                        (F.col("w") != F.greatest(F.lit(1), cells.idiv(F.col("ow") * 7, 8)))
                        | (F.col("h") != F.greatest(F.lit(1), cells.idiv(F.col("oh") * 7, 8)))
                        | (F.col("sum_r") > F.col("w") * F.col("h") * 255)
                        | (F.col("sum_g") > F.col("w") * F.col("h") * 255)
                        | (F.col("sum_b") > F.col("w") * F.col("h") * 255),
                        1,
                    ).otherwise(0)
                ).alias("n_pixel_violations"),
            )
            .select(
                F.lit("augment").alias("stage"), "fmt",
                F.col("n_rows").cast("long"),
                F.col("n_pixel_violations").cast("long"),
                F.lit(0).cast("long").alias("n_caption_violations"),
                F.lit(0).cast("long").alias("n_phash_violations"),
                F.lit(None).cast("double").alias("min_psnr"),
            )
        )

        # cross-format duplicate detection rides along: migrate every
        # lossless image to the other container (reencode_images) and
        # require pixel_fingerprint equality across the migration —
        # the byte-hash-invisible duplicate class. violations = fp
        # mismatches after a lossless re-encode (must be zero)
        from ariadne_spark.operators.decode import (
            pixel_fingerprint,
            reencode_images,
        )

        lossless = images.where(F.col("fmt") != "fjpg")
        fp_a = pixel_fingerprint(lossless).select(
            "image_id", F.col("pixel_fp").alias("fa")
        )
        fp_b = pixel_fingerprint(reencode_images(lossless, "bmp")).select(
            "image_id", F.col("pixel_fp").alias("fb")
        )
        pfp = (
            fp_a.join(fp_b, "image_id")
            .join(images.select("image_id", "fmt"), "image_id")
            .groupBy("fmt")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.when(F.col("fa") != F.col("fb"), 1).otherwise(0)).alias(
                    "n_pixel_violations"
                ),
            )
            .select(
                F.lit("pixel_fp").alias("stage"), "fmt",
                F.col("n_rows").cast("long"),
                F.col("n_pixel_violations").cast("long"),
                F.lit(0).cast("long").alias("n_caption_violations"),
                F.lit(0).cast("long").alias("n_phash_violations"),
                F.lit(None).cast("double").alias("min_psnr"),
            )
        )

        # REAL baseline JPEG roundtrip gate (functions/jpeg.py — spec
        # DCT+Huffman interchange streams, not the fjpg stand-in): a
        # deterministic 1-in-40 sample of the corpus migrates through
        # encode_jpeg/decode_jpeg at 4:4:4 q98; violations = any row
        # below the 40 dB PSNR gate, with a bad container magic, or
        # with changed dims. Golden hand-assembled-fixture oracles live
        # in tests/test_jpeg.py.
        from ariadne_spark.operators.decode import jpeg_real_roundtrip

        jsample = images.where(
            F.regexp_extract("image_id", r"(\d+)$", 1).cast("long") % 40 == 0
        )
        jrt = (
            jpeg_real_roundtrip(jsample, quality=98)
            .groupBy("fmt")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(
                    F.when(
                        (F.col("psnr") < 40.0)
                        | ~F.col("container_ok")
                        | ~F.col("dims_ok"),
                        1,
                    ).otherwise(0)
                ).alias("n_pixel_violations"),
                F.min("psnr").alias("min_psnr"),
            )
            .select(
                F.lit("jpeg_real").alias("stage"), "fmt",
                F.col("n_rows").cast("long"),
                F.col("n_pixel_violations").cast("long"),
                F.lit(0).cast("long").alias("n_caption_violations"),
                F.lit(0).cast("long").alias("n_phash_violations"),
                F.col("min_psnr").cast("double"),
            )
        )

        # corrupt-payload quarantine rides along (the 100TB operability
        # gate: decode stages must never die on a bad blob). Plant five
        # corruption classes JVM-side on disjoint deterministic id
        # slices, then require quarantine_scan to classify EVERY row —
        # clean and planted — exactly; violations = any verdict
        # disagreeing with the plant (zero-gated below). Per-class
        # python oracles + parallelism invariance in tests/test_decode.
        from ariadne_spark.operators.decode import quarantine_scan

        idn = F.regexp_extract("image_id", r"(\d+)$", 1).cast("long") % 50
        planted = (
            images.select("image_id", "bytes", "w", "h", "fmt")
            .withColumn(
                "bytes",
                F.when(idn == 1, F.expr("substring(bytes, 1, 16)"))
                .when(idn == 3, F.concat(F.lit(b"XX"), F.expr("substring(bytes, 3)")))
                .when(idn == 4, F.lit(None).cast("binary"))
                .otherwise(F.col("bytes")),
            )
            .withColumn(
                # webp: unregistered (tiff joined the codec registry in round 5)
                "fmt", F.when(idn == 2, F.lit("webp")).otherwise(F.col("fmt"))
            )
            .withColumn(
                "w", F.when(idn == 5, F.col("w") + 1).otherwise(F.col("w"))
            )
            .withColumn(
                "expected",
                F.when(idn == 1, F.lit("decode_error"))
                .when(idn == 2, F.lit("unknown_fmt"))
                .when(idn == 3, F.lit("bad_magic"))
                .when(idn == 4, F.lit("null_bytes"))
                .when(idn == 5, F.lit("dim_mismatch")),
            )
        )
        qsc = (
            quarantine_scan(planted)
            .join(planted.select("image_id", "expected"), "image_id")
            .groupBy(F.coalesce("error_kind", F.lit("ok")).alias("fmt"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(
                    F.when(
                        ~F.col("error_kind").eqNullSafe(F.col("expected")), 1
                    ).otherwise(0)
                ).alias("n_pixel_violations"),
            )
            .select(
                F.lit("quarantine").alias("stage"), "fmt",
                F.col("n_rows").cast("long"),
                F.col("n_pixel_violations").cast("long"),
                F.lit(0).cast("long").alias("n_caption_violations"),
                F.lit(0).cast("long").alias("n_phash_violations"),
                F.lit(None).cast("double").alias("min_psnr"),
            )
        )

        kinds = {r["fmt"] for r in qsc.select("fmt").collect()}
        assert kinds == {
            "ok", "decode_error", "unknown_fmt", "bad_magic",
            "null_bytes", "dim_mismatch",
        }, f"quarantine classes missing: {kinds}"

        out = (
            inv.unionByName(rz)
            .unionByName(pad(aud, "audio", "wav"))
            .unionByName(pad(vid, "video", "fvid"))
            .unionByName(pad(scn, "scenes", "fvid"))
            .unionByName(cur)
            .unionByName(pat)
            .unionByName(bat)
            .unionByName(ag)
            .unionByName(pfp)
            .unionByName(jrt)
            .unionByName(qsc)
        )
        bad = out.where(
            (F.col("n_pixel_violations") > 0)
            | (F.col("n_caption_violations") > 0)
            | (F.col("n_phash_violations") > 0)
        ).count()
        assert bad == 0, "decode/resize/audio/video invariant violations"
        return out

    Q["x06_decode_invariants"] = x06

    # adaptive H3-resolution split (north rule skew handling): dense
    # cells refine to children until bounded; returns the (res, cell, n)
    # histogram — deterministic across partitionings (pytest-oracled)
    def x11(spark, sf):
        import tempfile

        from ariadne_spark.operators.skew import adaptive_split, split_histogram
        from ariadne_spark.synth.images import write_images

        d = tempfile.mkdtemp()
        write_images(f"{d}/images.parquet", 3000)
        images = spark.read.parquet(f"{d}/images.parquet").drop("bytes")
        return split_histogram(adaptive_split(images, 3, 7, 200))

    Q["x11_adaptive_split"] = x11

    # J14 + P4/P5 — the full kNN-orphan set (docs never linked as dst,
    # left-anti ≅ trace_call_graph.ts:102-136) with the entry-point
    # verdict per row: kept = NOT holdout (per-lang marker registry ≅
    # detect_test_file.ts:21) AND NOT framework id (round-id ≅ dunder
    # filter, filter_entry_points.ts:46-58)
    def q39(spark, sf):
        from ariadne_spark.functions import filters

        orphans = q16(spark, sf)
        docs = _t(spark, sf, "documents").select("doc_id", "text", "lang")
        kept = ~filters.is_holdout(F.col("text"), F.col("lang")) & ~filters.is_framework_entry(
            F.col("doc_id")
        )
        return orphans.join(docs, "doc_id").select("doc_id", "lang", kept.alias("kept"))

    Q["q39_entrypoint_filter"] = q39

    # text — BPE-ish tokenizer: GPT-2-style pre-tokenizer regex
    # (contraction suffixes, letter runs, digit runs, punct runs) next
    # to plain whitespace tokens; pattern has no lookarounds so Java
    # regex (Spark) and RE2 (DuckDB) agree exactly
    def q40(spark, sf):
        d = _t(spark, sf, "documents")
        ws = (
            F.length("text")
            - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
            + 1
        ).cast("long")
        bpe = F.regexp_count(F.col("text"), F.lit(BPE_PATTERN)).cast("long")
        return d.select(
            "doc_id", ws.alias("n_ws_tokens"), bpe.alias("n_bpe_tokens")
        )

    Q["q40_bpe_tokens"] = q40

    # capstone — end-to-end training-data curation over `documents`:
    # exact dedup (md5 hash groupBy, keep min doc_id) -> prefix-
    # fingerprint near-dup dedup (q25's rolling hash of the first 16
    # chars; canonical per fingerprint — the boilerplate/mirror-dup
    # removal a crawl pipeline runs) -> quality + language-id gates.
    # Every stage is a hash groupBy or pure column expression — NO
    # pairwise join anywhere, so the plan is linear in corpus size at
    # any scale; the oracle replays identical semantics in SQL, so the
    # driver cross-checks the whole curation pipeline end to end.
    # (Similarity-based near-dup is deliberately a separate operator
    # family — q18/q37/q38 and operators/dedup.py — because on this
    # synthetic corpus set-level signals saturate: letter-mask Jaccard
    # >= 0.9 marks 472/500 docs. Prefix fingerprints drop 27/500.)
    def q41(spark, sf):
        d = _t(spark, sf, "documents").select("doc_id", "lang", "text", "n_chars")
        # exact dedup: canonical (min) doc per md5(text) — md5 hex is
        # engine-identical (lowercase UTF-8 digest in Spark and DuckDB)
        mins = d.groupBy(F.md5("text").alias("k")).agg(F.min("doc_id").alias("doc_id"))
        uniq = (
            d.withColumn("k", F.md5("text")).join(mins, ["k", "doc_id"], "left_semi").drop("k")
        )

        # prefix-fingerprint dedup: q25's 16-char rolling polynomial hash
        fp = F.lit(0).cast("long")
        for k in range(1, 17):
            fp = (fp * F.lit(31) + F.ascii(F.substring(F.col("text"), k, 1))) % F.lit(
                derive.M31
            )
        withfp = uniq.withColumn("fp", fp)
        fmins = withfp.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
        kept = withfp.join(fmins, ["fp", "doc_id"], "left_semi")

        text = F.col("text")
        words = (
            F.length(text) - F.length(F.replace(text, F.lit(" "), F.lit(""))) + 1
        ).cast("long")
        the_count = cells.idiv(
            (F.length(text) - F.length(F.replace(text, F.lit("the"), F.lit("")))).cast(
                "long"
            ),
            3,
        )
        quality = (
            F.when(words >= 20, F.lit(40)).otherwise(F.lit(0))
            + F.when((the_count * 100) <= words * 20, F.lit(30)).otherwise(F.lit(0))
            + F.when(F.col("n_chars") >= 200, F.lit(30)).otherwise(F.lit(0))
        ).cast("long")
        the_tok = cells.idiv(
            (
                F.length(text) - F.length(F.replace(text, F.lit(" the "), F.lit("")))
            ).cast("long"),
            5,
        )
        return (
            kept.where(the_tok >= 1)
            .select("doc_id", "lang", words.alias("words"), quality.alias("quality"))
            .where(F.col("quality") >= 70)
        )

    Q["q41_curate_corpus"] = q41

    # curation — BOTH deterministic sampling policies in one relation,
    # tagged by `policy`. (1) 'stratified': rebalance an
    # overrepresented stratum (en is ~44% of documents) by keeping a
    # per-language permille of rows, decided by the document's content
    # fingerprint (q25's rolling hash) — pure column expressions in
    # the scan stage, no shuffle, no UDF. (2) 'temperature':
    # GLaM/Pile-style T=0.5 mixture flattening over the same skewed
    # `lang` strata (curation.temperature_sample) — same imbalance,
    # data-derived rates instead of fixed ones: keep rate
    # ~ sqrt(c_min/c_s) with
    # the sqrt expressed as an INTEGER square comparison
    # (fpb^2 * c_s < 10^6 * c_min), per-domain counts broadcast back
    # onto the scan. Both are RNG-free: the kept set is a pure
    # function of content, bit-identical across runs, engines, and
    # cluster sizes, and a re-crawl of the same text lands on the
    # same side.
    def q42(spark, sf):
        from ariadne_spark.operators.curation import temperature_sample

        d = _t(spark, sf, "documents")
        fp = F.lit(0).cast("long")
        for k in range(1, 17):
            fp = (fp * F.lit(31) + F.ascii(F.substring(F.col("text"), k, 1))) % F.lit(
                derive.M31
            )
        rate = (
            F.when(F.col("lang") == "en", F.lit(300))
            .when(F.col("lang") == "de", F.lit(500))
            .otherwise(F.lit(1000))
        )
        strat = (
            d.withColumn("fp_bucket", fp % F.lit(1000))
            .where(F.col("fp_bucket") < rate)
            .select(
                F.lit("stratified").alias("policy"),
                "doc_id",
                F.col("lang").alias("key"),
                F.col("fp_bucket").alias("bucket"),
            )
        )
        temp = temperature_sample(d.withColumn("__fp", fp), "lang", F.col("__fp"))
        temp_rows = temp.select(
            F.lit("temperature").alias("policy"),
            "doc_id",
            F.col("lang").alias("key"),
            F.col("fpb").alias("bucket"),
        )
        # third policy: deterministic global shuffle + shard layout
        # (mix-ordered, RNG-free — the training-order complement of the
        # two keep/drop policies); key = shard, bucket = position
        from ariadne_spark.operators.curation import shuffle_shards

        shuf = shuffle_shards(d, n_shards=8).select(
            F.lit("shuffle").alias("policy"),
            "doc_id",
            F.col("shard").cast("string").alias("key"),
            F.col("pos").alias("bucket"),
        )
        # fourth policy: mixture assembly (curation.mixture_sample) —
        # Hamilton-apportioned per-lang quotas for a 120-row training
        # draw, first-quota rows by (fingerprint, doc_id) order;
        # key = lang, bucket = within-domain rank
        from ariadne_spark.operators.curation import mixture_sample

        wts = spark.createDataFrame(
            [("en", 5), ("de", 3), ("fr", 3), ("zh", 2), ("es", 2)],
            "lang string, weight long",
        )
        mix = mixture_sample(
            d.withColumn("__fp", fp),
            wts,
            total=120,
            order_keys=[F.col("__fp"), F.col("doc_id")],
        ).select(
            F.lit("mixture").alias("policy"),
            "doc_id",
            F.col("lang").alias("key"),
            F.col("rnk").alias("bucket"),
        )
        # fifth policy: deterministic train/val/test split — the
        # standard hash-threshold assignment (90/5/5) on a salted mix
        # of doc_id, so membership is a pure function of the row (no
        # RNG, no partition dependence) and REBALANCING-STABLE: adding
        # or removing other docs never moves an existing doc's split.
        # key = split name, bucket = the hash cell the threshold read
        from ariadne_spark.functions.sketch import mix_col

        cell = mix_col(F.col("doc_id") + F.lit(777)) % F.lit(100)
        split = d.select(
            F.lit("split").alias("policy"),
            "doc_id",
            F.when(cell < 90, F.lit("train"))
            .when(cell < 95, F.lit("val"))
            .otherwise(F.lit("test"))
            .alias("key"),
            cell.alias("bucket"),
        )
        return (
            strat.unionByName(temp_rows)
            .unionByName(shuf)
            .unionByName(mix)
            .unionByName(split)
        )

    Q["q42_sampling_policies"] = q42

    # sketch suite — the three classic sketches in one normalized
    # relation (sketch, key, est, exact): approximate COUNT(DISTINCT)
    # via bucketed harmonic minima, count-min frequency estimation
    # (d=4 x w=4096, the <= d*w-row table broadcasts to its probe),
    # and histogram quantiles (p50/p95 without a total order). Every
    # shuffle is sketch-bounded — <= k rows / <= w rows / <= n_bins
    # rows per group per mapper regardless of input row count — and
    # the arithmetic is deterministic integers end to end, so the
    # APPROXIMATE values are oracle-checked exactly (same estimate on
    # any engine, partitioning, or cluster size). `exact` carries the
    # true value alongside each estimate (for quantiles: the group row
    # count n, the denominator of the rank the estimate answers for).
    def q43(spark, sf):
        from ariadne_spark.functions.sketch import (
            cm_build,
            cm_estimate,
            distinct_sketch,
            quantile_sketch,
        )

        li = _t(spark, sf, "lineitem")
        est = distinct_sketch(li, ["l_returnflag"], F.col("l_orderkey"), k=256)
        dexact = li.groupBy("l_returnflag").agg(
            F.countDistinct("l_orderkey").alias("exact")
        )
        d_rows = est.join(dexact, "l_returnflag").select(
            F.lit("distinct").alias("sketch"),
            F.col("l_returnflag").alias("key"),
            F.col("est_distinct").alias("est"),
            F.col("exact"),
        )
        cm = cm_build(li, F.col("l_partkey"), d=4, w=4096)
        fexact = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("exact"))
        probe = fexact.orderBy(F.desc("exact"), F.asc("l_partkey")).limit(20)
        f_rows = cm_estimate(cm, probe, F.col("l_partkey"), d=4, w=4096).select(
            F.lit("freq").alias("sketch"),
            F.col("l_partkey").cast("string").alias("key"),
            F.col("est_freq").alias("est"),
            F.col("exact"),
        )
        qs = quantile_sketch(
            li.select(
                "l_returnflag",
                F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
            ),
            ["l_returnflag"],
            F.col("cents"),
            10_000,
        )
        q_rows = None
        for p in (500, 950):
            r = qs.select(
                F.lit(f"quantile_p{p}").alias("sketch"),
                F.col("l_returnflag").alias("key"),
                F.col(f"est_p{p}").alias("est"),
                F.col("n").alias("exact"),
            )
            q_rows = r if q_rows is None else q_rows.unionByName(r)
        return d_rows.unionByName(f_rows).unionByName(q_rows)

    Q["q43_sketch_suite"] = q43

    # curation — eval-set decontamination: distinct word 4-grams of
    # each training doc probed against the benchmark corpus's 4-gram
    # set (here: docs with doc_id % 10 == 0 play the benchmark);
    # contaminated = >= 3 verbatim overlapping grams. The benchmark
    # gram set distinct-aggregates first and BROADCASTS to the
    # semi-join (benchmarks are tiny next to a training corpus), so
    # corpus-side cost is one explode + two hash aggs — linear at any
    # scale (operators/curation.py).
    def q46(spark, sf):
        from ariadne_spark.operators.curation import (
            bloom_decontaminate,
            decontaminate,
        )

        d = _t(spark, sf, "documents")
        bench = d.where(F.col("doc_id") % 10 == 0)
        corpus = d.where(F.col("doc_id") % 10 != 0)
        exact = decontaminate(corpus, bench, n=4, min_hits=3)
        # memory-bounded variant rides alongside: the benchmark gram
        # set summarized as a <= m_bits-row Bloom table (the broadcast
        # stays bounded however large the held-out set grows); its
        # deterministic integer hashing makes even the false positives
        # bit-identical across engines, so the approximate columns are
        # oracle-checked exactly. bloom_hits >= n_contaminated_grams
        # always (no false negatives; asserted in test_curation).
        bloom = bloom_decontaminate(
            corpus, bench, n=4, m_bits=1 << 16, k=3, min_hits=3
        )
        return exact.join(bloom, "doc_id")

    Q["q46_decontaminate"] = q46

    # curation — BOTH repetition signals per document in one relation:
    # intra-doc Gopher gates (Rae et al. 2112.11446 §A1.1 — most-
    # frequent-word share, duplicate-bigram share, repetitive verdict)
    # joined with the CROSS-doc duplicated-4-gram coverage
    # (RefinedWeb-style boilerplate signal, 2306.01116 §G: fraction of
    # a doc's distinct 4-grams appearing in >= 1 other doc). All
    # integer permille. Cost shapes: explode + hash-agg per grain plus
    # ONE gram-keyed equi-join for the cross-doc counts — linear in
    # total gram count, map-side combinable, nothing pairwise
    # (operators/curation.py).
    def q47(spark, sf):
        from ariadne_spark.operators.curation import (
            dup_ngram_coverage,
            repetition_stats,
            strip_dup_spans,
            token_dup_coverage,
        )

        d = _t(spark, sf, "documents")
        return (
            repetition_stats(d)
            .join(
                dup_ngram_coverage(d, n=4).select(
                    "doc_id", "n_grams", "dup_gram_permille"
                ),
                "doc_id",
            )
            # position-level variant: permille of TOKENS inside any
            # cross-doc duplicated 4-gram (interval union, so
            # overlapping shared windows don't double-count)
            .join(
                token_dup_coverage(d, n=4).select(
                    "doc_id", "dup_tokens", "token_dup_permille"
                ),
                "doc_id",
            )
            # the TRANSFORM the metrics feed (ExactSubstr-style span
            # removal): every covered token stripped, rebuilt text
            # hash-checked byte-identically against the DuckDB twin
            .join(
                strip_dup_spans(d, n=4).select(
                    "doc_id", "kept_tokens", "clean_text"
                ),
                "doc_id",
            )
        )

    Q["q47_repetition_stats"] = q47

    # curation — PII audit + redaction (operators/pii.py): emails,
    # IPv4s, phone numbers counted and stripped with JVM-side regex
    # column expressions (no UDF; patterns restricted to the
    # Java-regex/RE2 common subset so both engines match identically).
    # PII-bearing rows are derived deterministically from the table
    # itself (every doc_id % 5 == 0 gains a contact line built from
    # its own id), so the fixture needs no external data and the
    # expected counts are a pure function of the input. The output
    # carries residual_matches — matches remaining AFTER redaction —
    # which the oracle pins at exactly 0: the redactor's completeness
    # is itself driver-checked. Per-group aggregate is the only
    # shuffle; corpus cost is one linear scan at any scale.
    def q48(spark, sf):
        from ariadne_spark.operators.pii import pii_stats

        d = _t(spark, sf, "documents")
        contact = F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com node 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit("."),
            ((F.col("doc_id") / 256).cast("long") % 256).cast("string"),
            F.lit(" tel 555-"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        )
        injected = F.when(F.col("doc_id") % 5 == 0, contact).otherwise(F.col("text"))
        return pii_stats(d.select("lang", injected.alias("t")), F.col("t"), ["lang"])

    Q["q48_pii_redact"] = q48

    # curation — GPT-style sequence packing (curation.pack_sequences):
    # each pack shard's documents concatenate into one token stream
    # sliced into fixed 512-token context windows, documents splitting
    # across boundaries exactly as pretraining loaders pack. The shard
    # key is data-derived (doc_id % 4), so window-partition size is
    # bounded by shard count — the knob that keeps the one shuffle +
    # per-partition cumulative sum scalable to 10^12 docs — and the
    # layout is bit-identical at any parallelism.
    def q49(spark, sf):
        from ariadne_spark.operators.curation import (
            pack_boundaries,
            pack_sequences,
        )

        d = _t(spark, sf, "documents")
        words = (
            F.length(F.col("text"))
            - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
            + 1
        ).cast("long")
        sharded = d.select(
            (F.col("doc_id") % 4).alias("shard"), "doc_id", words.alias("w")
        )
        # fragment grain: per-doc stream positions JOINED with the
        # per-window boundary index (which slice of each ctx window
        # belongs to which doc — the attention-mask metadata); both
        # relations recomputed independently in the DuckDB oracle
        p = pack_sequences(sharded, F.col("w"), 512, ["shard"], "doc_id")
        b = pack_boundaries(sharded, F.col("w"), 512, ["shard"], "doc_id")
        return p.join(b, ["shard", "doc_id"])

    Q["q49_pack_sequences"] = q49

    # similarity ANN — both approximate paths in one entry, tagged by
    # method: IVF-flat (THE 100 TB path: candidates bounded at
    # n^2*n_probe/n_centroids with n_centroids ~ sqrt(n); deterministic
    # sampled+k-means centroids, integer-quantized order-independent
    # cluster sums) and random-hyperplane LSH (n_planes scales with
    # log2(n) so bucket occupancy — and candidate volume — stays
    # subquadratic; recall vs the exact baseline is pytest-gated in
    # tests/test_ann.py)
    # ... plus the joint IVF-PQ layout (operators/pq.py): product-
    # quantized codes bound BYTES per candidate (m ints, never raw
    # vectors) while IVF cells bound candidate COUNT; rerank=True adds
    # the exact int64 re-rank of the ADC survivors, so its dot_q
    # column is on the same scale as the other two methods
    def x13(spark, sf):
        from ariadne_spark.operators.ann import ann_ivf, ann_topk
        from ariadne_spark.operators.pq import ivf_pq_topk, pq_train

        emb = _t(spark, sf, "embeddings")
        ivf = ann_ivf(emb, k=3).select(F.lit("ivf").alias("method"), "*")
        lsh = ann_topk(emb, k=3).select(F.lit("lsh").alias("method"), "*")
        vecs = emb.select("vec_id", "embedding")
        books = pq_train(vecs, m=4, k=64, iters=2)
        pq = ivf_pq_topk(
            vecs, k=3, m=4, k_codes=64, n_centroids=16, n_probe=4,
            books=books, rerank=True,
        ).select(F.lit("ivfpq").alias("method"), "*")
        return ivf.unionByName(lsh).unionByName(pq)

    Q["x13_ann_ivf_lsh"] = x13

    # semantic dedup (SemDeDup, arXiv:2303.09540): k-means cluster the
    # embeddings, exact within-cluster quantized-cosine pairs >= 0.85,
    # connected components, keep min-id representative — pairwise work
    # bounded to clusters (~n^1.5 total with sqrt(n) centroids), never
    # global all-pairs. The real embeddings table has no >=0.85 pairs
    # (q38 is empty at that bar), so the entry PLANTS near-dup copies
    # of every 5th vector via vectorized column math (id+10_000,
    # component-wise 0.999x + 0.0001) and asserts in-entry that every
    # original survives and >=95% of planted copies are dropped (the
    # <5% slack is SemDeDup's documented cross-cluster-boundary miss).
    # Engine-only: k-means state isn't single-SQL; exactness/recall
    # oracles live in tests/test_semdedup.py.
    def x14(spark, sf):
        from ariadne_spark.operators.semdedup import semdedup

        emb = _t(spark, sf, "embeddings").select("vec_id", "embedding")
        planted = emb.where(F.col("vec_id") % 5 == 0).select(
            (F.col("vec_id") + 10_000).alias("vec_id"),
            F.transform(
                "embedding", lambda x: (x * 0.999 + 0.0001).cast("float")
            ).alias("embedding"),
        )
        out = semdedup(emb.unionByName(planted), threshold_q=850_000)
        orig_dropped = out.where((F.col("vec_id") < 10_000) & (F.col("keep") == 0)).count()
        assert orig_dropped == 0, f"{orig_dropped} originals dropped"
        n_planted = planted.count()
        kept_planted = out.where(
            (F.col("vec_id") >= 10_000) & (F.col("keep") == 1)
        ).count()
        assert kept_planted * 20 <= n_planted, (
            f"only {n_planted - kept_planted}/{n_planted} planted dups dropped"
        )
        return out.orderBy("vec_id")

    Q["x14_semdedup"] = x14

    # streaming exact dedup (applyInPandasWithState): documents + synth
    # re-crawl duplicates fed as three micro-batches; final per-key
    # state must equal the batch groupBy(md5).agg(min(id), count(*)) —
    # asserted here (not just in pytest) so a driver run exercises the
    # streaming path end to end. Engine-only: streaming state has no
    # single-SQL oracle; the equality below IS the batch oracle.
    def x15(spark, sf):
        import os
        import tempfile
        import time

        from ariadne_spark.streaming.dedup_stream import dedup_stateful

        docs = _t(spark, sf, "documents").select("doc_id", "text")
        dupes = docs.where(F.col("doc_id") % 3 == 0).withColumn(
            "doc_id", F.col("doc_id") + 10_000
        )
        keyed = (
            docs.unionByName(dupes)
            .select("doc_id", F.md5("text").alias("dup_key"))
        )

        d = tempfile.mkdtemp()
        chunks = [
            keyed.where((F.col("doc_id") >= 100) & (F.col("doc_id") < 10_000)),
            keyed.where(F.col("doc_id") >= 10_000),
            keyed.where(F.col("doc_id") < 100),
        ]
        for i, c in enumerate(chunks):
            p = f"{d}/chunk_{i}"
            c.coalesce(1).write.mode("overwrite").parquet(p)
            t = time.time() + i * 10
            for root, _dirs, files in os.walk(p):
                for f in files:
                    os.utime(os.path.join(root, f), (t, t))
            os.utime(p, (t, t))

        stream = (
            spark.readStream.schema(keyed.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{d}/chunk_*")
        )
        name = f"x15_dedup_{os.path.basename(d)}"
        query = (
            dedup_stateful(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", f"{d}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination(120)

        final = spark.sql(
            f"SELECT dup_key, min(canonical_id) AS canonical_id, "
            f"max(n_seen) AS n_seen FROM {name}"
            " GROUP BY dup_key"
        )
        want = keyed.groupBy("dup_key").agg(
            F.min("doc_id").alias("canonical_id"), F.count("*").alias("n_seen")
        )
        assert final.join(want, ["dup_key", "canonical_id", "n_seen"]).count() == want.count() == final.count(), (
            "streaming dedup state diverged from batch aggregate"
        )
        return final

    # watermarked stream-stream join (ingest x late caption): documents
    # recast as an ingest stream + a caption stream with deterministic
    # event times (ts = base + 7*doc_id; caption delay = doc_id % 900,
    # matching iff <= 600s). The two sides are chunked at DIFFERENT
    # doc_id boundaries so a band of captions arrives a micro-batch
    # before its ingests — the symmetric join state must buffer across
    # batches. Streaming result is asserted equal to the batch run of
    # the SAME function (the batch execution is the oracle; watermarks
    # are no-ops in batch mode). Engine-only: stateful stream-stream
    # join has no single-SQL oracle.
    def x16(spark, sf):
        import os
        import tempfile
        import time

        from ariadne_spark.streaming.joins import ingest_caption_join

        docs = _t(spark, sf, "documents").select("doc_id")
        t0 = F.unix_timestamp(F.to_timestamp(F.lit("2024-01-01 00:00:00")))
        ing = docs.select(
            F.concat(F.lit("img_"), F.col("doc_id")).alias("image_id"),
            F.timestamp_seconds(t0 + F.col("doc_id") * 7).alias("ingest_ts"),
        )
        cap = docs.where(F.col("doc_id") % 2 == 0).select(
            F.concat(F.lit("img_"), F.col("doc_id")).alias("image_id"),
            F.timestamp_seconds(
                t0 + F.col("doc_id") * 7 + F.col("doc_id") % 900
            ).alias("caption_ts"),
            F.concat(F.lit("cap "), F.col("doc_id")).alias("caption"),
        )
        want = ingest_caption_join(ing, cap)

        # chunk boundaries: captions split 20 ids later than ingests,
        # so captions for doc_id in (mid, mid+20] precede their ingests
        mid = docs.agg(F.max("doc_id")).first()[0] // 2
        d = tempfile.mkdtemp()
        for side, df, key, bound in (
            ("ing", ing, "ingest_ts", mid),
            ("cap", cap, "caption_ts", mid + 20),
        ):
            cut = F.unix_timestamp(F.col(key)) - t0 < bound * 7
            for i, chunk in enumerate((df.where(cut), df.where(~cut))):
                p = f"{d}/{side}/chunk_{i}"
                chunk.coalesce(1).write.mode("overwrite").parquet(p)
                t = time.time() + i * 10
                for root, _dirs, files in os.walk(p):
                    for f in files:
                        os.utime(os.path.join(root, f), (t, t))

        ing_s = (
            spark.readStream.schema(ing.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{d}/ing/chunk_*")
        )
        cap_s = (
            spark.readStream.schema(cap.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{d}/cap/chunk_*")
        )
        name = f"x16_ssjoin_{os.path.basename(d)}"
        query = (
            ingest_caption_join(ing_s, cap_s)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", f"{d}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination(120)

        got = spark.sql(f"SELECT * FROM {name}")
        cols = got.columns
        assert (
            got.join(want, cols).count() == want.count() == got.count()
        ), "streaming stream-stream join diverged from batch execution"
        assert got.count() > 0, "stream-stream join produced no rows"
        return got

    # streaming distinct-count sketch (q43's estimator made continuous
    # with BOUNDED state — one 2 KB bucket-minima vector per group):
    # chunked micro-batches over the lineitem keys, duplicates
    # re-arriving across batches; the final streaming estimate must be
    # bit-identical to the batch distinct_sketch over the same rows
    # (asserted in-entry). Engine-only: streaming state is runtime
    # behavior DuckDB can't replay.
    def x18(spark, sf):
        import os
        import tempfile
        import time

        from ariadne_spark.functions.sketch import distinct_sketch
        from ariadne_spark.streaming.sketch_stream import distinct_sketch_stateful

        keyed = _t(spark, sf, "lineitem").select(
            F.col("l_returnflag").alias("g"), F.col("l_orderkey").alias("x")
        )

        d = tempfile.mkdtemp()
        # split by orderkey range so every group spans all three
        # micro-batches, and re-send an already-seen band as duplicates
        chunks = [
            keyed.where(F.col("x") % 5 <= 1),
            keyed.where((F.col("x") % 5).isin(2, 3)).unionAll(
                keyed.where(F.col("x") % 5 == 0)
            ),
            keyed.where(F.col("x") % 5 == 4),
        ]
        for i, c in enumerate(chunks):
            p = f"{d}/chunk_{i}"
            c.coalesce(1).write.mode("overwrite").parquet(p)
            t = time.time() + i * 10
            for root, _dirs, files in os.walk(p):
                for f in files:
                    os.utime(os.path.join(root, f), (t, t))
            os.utime(p, (t, t))

        stream = (
            spark.readStream.schema("g string, x long")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{d}/chunk_*")
        )
        name = f"x18_sketch_{os.path.basename(d)}"
        query = (
            distinct_sketch_stateful(stream, "g", "x", k=256)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", f"{d}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination(120)

        # estimates are monotone non-decreasing (minima only fall), so
        # max per group is the final state
        final = spark.sql(
            f"SELECT g, max(est_distinct) AS est_distinct FROM {name} GROUP BY g"
        )
        want = distinct_sketch(keyed, ["g"], F.col("x"), k=256)
        assert (
            final.join(want, ["g", "est_distinct"]).count()
            == want.count()
            == final.count()
        ), "streaming sketch state diverged from the batch estimate"
        return final

    # the three Structured-Streaming operators — exact dedup
    # (applyInPandasWithState keyed state), watermarked stream-stream
    # join (both state sides evictable), and the continuous distinct-
    # count sketch (bounded 2 KB/group state) — driven end to end over
    # chunked micro-batches with adversarial ordering; EACH asserts
    # streaming == batch in its own block above, then the results are
    # projected to a common (op, k, v1, v2) shape for the driver row.
    # Engine-only: streaming state is runtime behavior DuckDB can't
    # replay; the batch executions asserted against ARE the oracles.
    def x15s(spark, sf):
        dedup = x15(spark, sf).select(
            F.lit("dedup").alias("op"),
            F.col("dup_key").alias("k"),
            F.col("canonical_id").cast("long").alias("v1"),
            F.col("n_seen").cast("long").alias("v2"),
        )
        ssjoin = x16(spark, sf).select(
            F.lit("ssjoin").alias("op"),
            F.col("image_id").alias("k"),
            F.unix_timestamp("ingest_ts").alias("v1"),
            F.unix_timestamp("caption_ts").alias("v2"),
        )
        sketch = x18(spark, sf).select(
            F.lit("sketch").alias("op"),
            F.col("g").alias("k"),
            F.col("est_distinct").cast("long").alias("v1"),
            F.lit(0).cast("long").alias("v2"),
        )
        return dedup.unionByName(ssjoin).unionByName(sketch)

    Q["x15_streaming_ops"] = x15s

    return Q


# ---------------------------------------------------------------------------
# oracle SQL
# ---------------------------------------------------------------------------


def oracle_sql() -> dict[str, str]:
    from ariadne_spark.operators import curation, pii, retrieval
    from ariadne_spark.operators import export as _export
    from ariadne_spark.operators import features as _features
    from ariadne_spark.functions.sketch import mix_sql as _mix_sql
    from ariadne_spark.functions import embed

    geo = _DOCS_GEO_SQL
    cell8 = cells.sql_pack_cell(8, cells.sql_cell_x("lon_u", 8), cells.sql_cell_y("lat_u", 8))
    cell4 = cells.sql_pack_cell(4, cells.sql_cell_x("lon_u", 4), cells.sql_cell_y("lat_u", 4))
    box = derive.region_box_sql()
    mask = _letter_mask_sql()
    mh = ", ".join(
        f"list_min({_gram_hash_sql(*p)}) AS mh{i}" for i, p in enumerate(MINHASH_PARAMS)
    )
    sim_terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform({_gram_hash_sql(*MINHASH_PARAMS[0])}, "
        f"h -> ((h >> {b}) & 1) * 2 - 1)) >= 0 THEN {1 << b} ELSE 0 END)"
        for b in range(SIM_BITS)
    )
    fp = "CAST(0 AS BIGINT)"
    for k in range(1, 17):
        fp = f"((({fp}) * 31 + ascii(substring(text, {k}, 1))) % {derive.M31})"
    from ariadne_spark.functions.sketch import cm_sql, distinct_sketch_sql

    sketch = distinct_sketch_sql("lineitem", ["l_returnflag"], "l_orderkey", k=256)
    cm_probe = """SELECT l_partkey, CAST(count(*) AS BIGINT) AS exact_freq
                  FROM lineitem GROUP BY 1
                  ORDER BY exact_freq DESC, l_partkey ASC LIMIT 20"""
    freq = cm_sql(
        "lineitem", "l_partkey", cm_probe, ["l_partkey", "exact_freq"], d=4, w=4096
    )
    from ariadne_spark.functions.sketch import quantile_sketch_sql

    qsk = quantile_sketch_sql(
        "(SELECT l_returnflag, CAST(round(l_extendedprice*100) AS BIGINT)"
        " AS cents FROM lineitem)",
        ["l_returnflag"],
        "cents",
        10_000,
    )

    return {
        "q01_scan_prune": """
            SELECT l_returnflag, count(*) AS n_rows,
                   CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                        AS BIGINT) AS revenue_cents
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1995-06-01'
              AND l_discount >= 0.05 AND l_discount <= 0.07
            GROUP BY l_returnflag
        """,
        "q02_tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
                   CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                        AS BIGINT) AS sum_base_cents,
                   CAST(sum(CAST(round(CAST(round(l_extendedprice * 100) AS BIGINT)
                        * (1000 - CAST(round(l_discount * 1000) AS BIGINT))) AS BIGINT))
                        AS BIGINT) AS sum_disc_milli,
                   count(*) AS n_rows
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "q03_broadcast_dim_join": """
            SELECT c_mktsegment, count(*) AS n_orders,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS total_cents
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        """,
        "q04_multihop_chain": """
            SELECT r_name, count(*) AS n_items,
                   CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                        AS BIGINT) AS revenue_cents
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "q05_set_ops": """
            SELECT 'orphan_customer' AS kind, CAST(c_custkey AS VARCHAR) AS k,
                   CAST(0 AS BIGINT) AS n
            FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
            UNION ALL
            SELECT 'active_segment' AS kind, c_mktsegment AS k,
                   count(*) AS n
            FROM customer
            WHERE c_custkey IN (SELECT o_custkey FROM orders)
            GROUP BY c_mktsegment
            UNION ALL
            SELECT 'error_only_user' AS kind, CAST(user_id AS VARCHAR) AS k,
                   CAST(0 AS BIGINT) AS n
            FROM (
              SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
              AND user_id NOT IN (
                SELECT user_id FROM events WHERE event_type = 'purchase')) t
        """,
        "q07_top_supplier_per_nation": """
            SELECT s_nationkey, s_suppkey,
                   CAST(round(s_acctbal * 100) AS BIGINT) AS acctbal_cents
            FROM (
              SELECT *, row_number() OVER (
                PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey) AS rk
              FROM supplier) t
            WHERE rk = 1
        """,
        "q08_order_rank_window": """
            SELECT o_custkey, o_orderkey, rank FROM (
              SELECT o_custkey, o_orderkey, row_number() OVER (
                PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rank
              FROM orders) t
            WHERE rank <= 3
        """,
        "q09_equi_range_join": """
            SELECT o_orderpriority, count(*) AS n_fast_items
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))
                  BETWEEN 0 AND 30
            GROUP BY o_orderpriority
        """,
        "q10_asof_prev_event": """
            SELECT event_id, user_id, delta_s FROM (
              SELECT event_id, user_id,
                     epoch_us(ts) // 1000000
                     - epoch_us(lag(ts) OVER (
                         PARTITION BY user_id ORDER BY ts, event_id)) // 1000000
                       AS delta_s
              FROM events) t
            WHERE delta_s IS NOT NULL AND delta_s <= 3600
        """,
        "q11_cells_rollup": f"""
            SELECT CAST(8 AS BIGINT) AS res, {cell8} AS cell, count(*) AS n_points
            FROM ({geo}) g GROUP BY 2
            UNION ALL
            SELECT CAST(4 AS BIGINT) AS res, {cell4} AS cell, count(*) AS n_points
            FROM ({geo}) g GROUP BY 2
        """,
        "q13_pip_bbox_deepest": f"""
            WITH g AS ({geo}),
            r AS (SELECT n_nationkey, CAST({box['depth']} AS BIGINT) AS depth,
                         {box['xmin']} AS xmin, {box['xmax']} AS xmax,
                         {box['ymin']} AS ymin, {box['ymax']} AS ymax
                  FROM nation),
            hit AS (
              SELECT g.doc_id, r.n_nationkey, r.depth,
                     row_number() OVER (PARTITION BY g.doc_id
                                        ORDER BY r.depth DESC, r.n_nationkey) AS rk
              FROM g JOIN r
                ON g.lon_u >= r.xmin AND g.lon_u <= r.xmax
               AND g.lat_u >= r.ymin AND g.lat_u <= r.ymax)
            SELECT doc_id, n_nationkey AS region_key, depth FROM hit WHERE rk = 1
        """,
        "q14_knn_phash_topk": f"""
            WITH g AS (SELECT doc_id, phash, phash >> 46 AS band FROM ({geo}) t),
            pairs AS (
              SELECT a.doc_id AS src, b.doc_id AS dst,
                     CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
              FROM g a JOIN g b ON a.band = b.band AND a.doc_id <> b.doc_id),
            ranked AS (
              SELECT src, dst, hamming, row_number() OVER (
                PARTITION BY src ORDER BY hamming, dst) AS rank
              FROM pairs WHERE hamming <= 16)
            SELECT src, dst, hamming, rank,
                   CASE WHEN hamming = 0 THEN 'certain'
                        WHEN hamming <= 8 THEN 'probable'
                        ELSE 'possible' END AS confidence,
                   CASE WHEN hamming = 0 THEN 'exact'
                        ELSE 'band-match' END AS reason
            FROM ranked WHERE rank <= 3
        """,
        "q15_tile_pyramid": f"""
            WITH g AS ({geo}),
            z6 AS (
              SELECT 6 AS z, (lon_u * 64) // {cells.LON_SPAN} AS tx,
                     (lat_u * 64) // {cells.LAT_SPAN} AS ty, count(*) AS n_points
              FROM g GROUP BY 2, 3)
            SELECT z, tx, ty, n_points FROM z6
            UNION ALL
            SELECT 3 AS z, tx >> 3 AS tx, ty >> 3 AS ty,
                   CAST(sum(n_points) AS BIGINT) AS n_points
            FROM z6 GROUP BY 2, 3
        """,
        "q39_entrypoint_filter": f"""
            WITH g AS (SELECT doc_id, phash, phash >> 46 AS band FROM ({geo}) t),
            pairs AS (
              SELECT a.doc_id AS src, b.doc_id AS dst,
                     bit_count(xor(a.phash, b.phash)) AS hamming
              FROM g a JOIN g b ON a.band = b.band AND a.doc_id <> b.doc_id),
            ranked AS (
              SELECT src, dst, hamming, row_number() OVER (
                PARTITION BY src ORDER BY hamming, dst) AS rank
              FROM pairs WHERE hamming <= 16),
            dsts AS (SELECT DISTINCT dst FROM ranked WHERE rank <= 3),
            orph AS (
              SELECT doc_id, text, lang FROM documents
              WHERE doc_id NOT IN (SELECT dst FROM dsts))
            SELECT doc_id, lang,
                   (NOT ({_filters.holdout_sql('text', 'lang')})
                    AND NOT ({_filters.framework_entry_sql('doc_id')})) AS kept
            FROM orph
        """,
        "q40_bpe_tokens": f"""
            SELECT doc_id,
                   CAST(length(text) - length(replace(text, ' ', '')) + 1
                        AS BIGINT) AS n_ws_tokens,
                   CAST(len(regexp_extract_all(text,
                        '{BPE_PATTERN.replace("'", "''")}')) AS BIGINT)
                       AS n_bpe_tokens
            FROM documents
        """,
        "q41_curate_corpus": f"""
            WITH uniq AS (
              SELECT d.doc_id, d.lang, d.text, d.n_chars
              FROM documents d
              JOIN (SELECT md5(text) AS k, min(doc_id) AS doc_id
                    FROM documents GROUP BY 1) m
                ON md5(d.text) = m.k AND d.doc_id = m.doc_id),
            f AS (SELECT u.*, {fp} AS fp FROM uniq u),
            canon AS (SELECT fp, min(doc_id) AS doc_id FROM f GROUP BY 1),
            kept AS (
              SELECT f.* FROM f
              JOIN canon ON f.fp = canon.fp AND f.doc_id = canon.doc_id),
            scored AS (
              SELECT doc_id, lang,
                     CAST(length(text) - length(replace(text, ' ', '')) + 1
                          AS BIGINT) AS words,
                     CAST(CASE WHEN length(text) - length(replace(text, ' ', '')) + 1
                                    >= 20 THEN 40 ELSE 0 END
                      + CASE WHEN ((length(text) - length(replace(text, 'the', ''))) // 3)
                                  * 100
                                  <= (length(text) - length(replace(text, ' ', '')) + 1)
                                     * 20 THEN 30 ELSE 0 END
                      + CASE WHEN n_chars >= 200 THEN 30 ELSE 0 END AS BIGINT)
                         AS quality,
                     (length(text) - length(replace(text, ' the ', ''))) // 5
                         AS the_tok
              FROM kept)
            SELECT doc_id, lang, words, quality FROM scored
            WHERE quality >= 70 AND the_tok >= 1
        """,
        "q42_sampling_policies": f"""
            WITH b AS (SELECT doc_id, lang, ({fp}) % 1000 AS fp_bucket
                       FROM documents),
            temp AS ({curation.temperature_sample_sql(
                f"(SELECT doc_id, lang, ({fp}) AS fpv FROM documents)",
                "lang", "fpv", ["doc_id", "lang"],
            )})
            SELECT 'stratified' AS policy, doc_id, lang AS "key",
                   fp_bucket AS bucket
            FROM b
            WHERE fp_bucket < CASE lang WHEN 'en' THEN 300
                                        WHEN 'de' THEN 500
                                        ELSE 1000 END
            UNION ALL
            SELECT 'temperature', doc_id, lang, fpb FROM temp
            UNION ALL
            SELECT 'shuffle', doc_id, CAST(shard AS VARCHAR), pos
            FROM ({curation.shuffle_shards_sql(n_shards=8)})
            UNION ALL
            SELECT 'mixture', doc_id, lang, rnk
            FROM ({curation.mixture_sample_sql(
                f"(SELECT doc_id, lang, ({fp}) AS fpv FROM documents)",
                "('en', 5), ('de', 3), ('fr', 3), ('zh', 2), ('es', 2)",
                120,
                "lang",
                "fpv, doc_id",
                ["doc_id", "lang"],
            )})
            UNION ALL
            SELECT 'split', doc_id,
                   CASE WHEN ({_mix_sql("doc_id + 777")}) % 100 < 90 THEN 'train'
                        WHEN ({_mix_sql("doc_id + 777")}) % 100 < 95 THEN 'val'
                        ELSE 'test' END,
                   ({_mix_sql("doc_id + 777")}) % 100
            FROM documents
        """,
        "q43_sketch_suite": f"""
            WITH est AS ({sketch}),
            dexact AS (
              SELECT l_returnflag, CAST(count(DISTINCT l_orderkey) AS BIGINT)
                       AS exact
              FROM lineitem GROUP BY l_returnflag),
            d_rows AS (
              SELECT 'distinct' AS sketch, est.l_returnflag AS "key",
                     est.est_distinct AS est, dexact.exact
              FROM est JOIN dexact USING (l_returnflag)),
            f_rows AS (
              SELECT 'freq' AS sketch, CAST(l_partkey AS VARCHAR) AS "key",
                     CAST(est_freq AS BIGINT) AS est,
                     CAST(exact_freq AS BIGINT) AS exact
              FROM ({freq})),
            q AS ({qsk})
            SELECT * FROM d_rows
            UNION ALL SELECT * FROM f_rows
            UNION ALL SELECT 'quantile_p500', l_returnflag,
                             CAST(est_p500 AS BIGINT), n FROM q
            UNION ALL SELECT 'quantile_p950', l_returnflag,
                             CAST(est_p950 AS BIGINT), n FROM q
        """,
        "q48_pii_redact": pii.pii_stats_sql(
            """(SELECT lang,
                       CASE WHEN doc_id % 5 = 0 THEN
                         text || ' contact user' || CAST(doc_id AS VARCHAR)
                              || '@mail.example.com node 10.0.'
                              || CAST(doc_id % 256 AS VARCHAR) || '.'
                              || CAST((doc_id // 256) % 256 AS VARCHAR)
                              || ' tel 555-'
                              || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                              || '-'
                              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                       ELSE text END AS t
                FROM documents)""",
            "t",
            ["lang"],
        ),
        "q49_pack_sequences": f"""
            WITH p AS ({curation.pack_sequences_sql(
                "(SELECT doc_id % 4 AS shard, doc_id,"
                " length(text) - length(replace(text, ' ', '')) + 1 AS w"
                " FROM documents)",
                "w", 512, ["shard"], "doc_id",
            )}),
            b AS ({curation.pack_boundaries_sql(
                "(SELECT doc_id % 4 AS shard, doc_id,"
                " length(text) - length(replace(text, ' ', '')) + 1 AS w"
                " FROM documents)",
                "w", 512, ["shard"], "doc_id",
            )})
            SELECT p.*, b.bin, b.start_in_bin, b.frag_len
            FROM p JOIN b USING (shard, doc_id)
        """,
        "q46_decontaminate": f"""
            WITH exact AS ({curation.decontaminate_sql(n=4, min_hits=3, bench_mod=10)}),
            bloom AS ({curation.bloom_decontaminate_sql(
                n=4, m_bits=1 << 16, k=3, min_hits=3, bench_mod=10)})
            SELECT exact.*, bloom.bloom_hits, bloom.bloom_contaminated
            FROM exact JOIN bloom USING (doc_id)
        """,
        "q47_repetition_stats": f"""
            WITH rep AS ({curation.repetition_stats_sql()}),
            cov AS ({curation.dup_ngram_coverage_sql(n=4)}),
            tok AS ({curation.token_dup_coverage_sql(n=4)}),
            strip AS ({curation.strip_dup_spans_sql(n=4)})
            SELECT rep.*, cov.n_grams, cov.dup_gram_permille,
                   tok.dup_tokens, tok.token_dup_permille,
                   strip.kept_tokens, strip.clean_text
            FROM rep JOIN cov USING (doc_id) JOIN tok USING (doc_id)
                 JOIN strip USING (doc_id)
        """,
        "q17_dedup_exact": """
            SELECT lang, CAST(n_chars AS BIGINT) // 50 AS size_bucket,
                   min(doc_id) AS canonical_doc, count(*) AS group_size
            FROM documents GROUP BY 1, 2
        """,
        "q18_jaccard_neardup": f"""
            WITH m AS (SELECT doc_id, lang, {mask} AS mask FROM documents)
            SELECT a.doc_id AS a, b.doc_id AS b,
                   (CAST(bit_count(a.mask & b.mask) AS BIGINT) * 1000)
                       // CAST(bit_count(a.mask | b.mask) AS BIGINT) AS j1000
            FROM m a JOIN m b ON a.lang = b.lang AND a.doc_id < b.doc_id
            WHERE (CAST(bit_count(a.mask & b.mask) AS BIGINT) * 1000)
                      // CAST(bit_count(a.mask | b.mask) AS BIGINT) >= 900
        """,
        "q21_embedding_topk": f"""
            WITH q AS (
              SELECT vec_id,
                     list_transform(embedding, x -> {embed.QUANTIZE_SQL}) AS qv
              FROM embeddings),
            pairs AS (
              SELECT a.vec_id AS src, b.vec_id AS dst,
                     CAST(list_dot_product(a.qv, b.qv) AS BIGINT) AS dot_q
              FROM q a JOIN q b ON a.vec_id <> b.vec_id),
            ranked AS (
              SELECT src, dst, dot_q, row_number() OVER (
                PARTITION BY src ORDER BY dot_q DESC, dst) AS rank
              FROM pairs),
            dn AS (SELECT src, dst, dot_q, CAST(rank AS BIGINT) AS rank
                   FROM ranked WHERE rank <= 3),
            qset AS (SELECT doc_id AS query_id FROM documents
                     WHERE doc_id %
                       greatest((SELECT count(*) // 6 FROM documents), 1) = 0),
            dsub AS (SELECT src AS query_id, dst AS doc_id, rank
                     FROM dn JOIN qset ON dn.src = qset.query_id),
            sp AS ({retrieval.bm25_sql(
                "SELECT doc_id AS query_id, text FROM documents"
                " WHERE doc_id %"
                " greatest((SELECT count(*) // 6 FROM documents), 1) = 0",
                k=3,
                exclude_self=True,
            )})
            SELECT 'dense' AS kind, src, dst, dot_q, rank FROM dn
            UNION ALL
            SELECT 'sparse' AS kind, query_id AS src, doc_id AS dst,
                   score_q AS dot_q, rank
            FROM sp
            UNION ALL
            SELECT 'fused' AS kind, query_id AS src, doc_id AS dst,
                   rrf_micro AS dot_q, rank
            FROM ({retrieval.rrf_sql(
                ["SELECT query_id, doc_id, rank FROM dsub",
                 "SELECT query_id, doc_id, rank FROM sp"],
                k0=60,
                k=3,
            )})
            UNION ALL
            SELECT 'eval' AS kind, query_id AS src, hits AS dst,
                   mrr_micro AS dot_q, recall_permille AS rank
            FROM ({retrieval.eval_sql(
                "SELECT query_id, doc_id, rank FROM sp",
                "SELECT query_id, doc_id, rank FROM dsub",
                k=3,
            )})
            UNION ALL
            SELECT 'eval_fused' AS kind, query_id AS src, hits AS dst,
                   mrr_micro AS dot_q, recall_permille AS rank
            FROM ({retrieval.eval_sql(
                "SELECT query_id, doc_id, rank FROM dsub",
                retrieval.rrf_sql(
                    ["SELECT query_id, doc_id, rank FROM dsub",
                     "SELECT query_id, doc_id, rank FROM sp"],
                    k0=60,
                    k=3,
                ),
                k=3,
            )})
            UNION ALL
            SELECT 'hardneg' AS kind, query_id AS src, neg_id AS dst,
                   pos_id AS dot_q, neg_rank AS rank
            FROM ({retrieval.hard_negatives_sql(
                "SELECT query_id, doc_id, rank FROM sp",
                "SELECT query_id, doc_id FROM dsub WHERE rank = 1",
                k_neg=2,
            )})
        """,
        "q22_token_stats": f"""
            SELECT 'stats' AS kind, lang, count(*) AS n_docs,
                   CAST(sum(length(text) - length(replace(text, ' ', '')) + 1)
                        AS BIGINT) AS sum_words,
                   CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS sum_chars
            FROM documents GROUP BY lang
            UNION ALL
            SELECT 'chunks' AS kind, lang, count(*) AS n_docs,
                   CAST(sum(n_tok) AS BIGINT) AS sum_words,
                   CAST(sum(length(chunk_text)) AS BIGINT) AS sum_chars
            FROM ({curation.chunk_docs_sql(64, 48)}) GROUP BY lang
            UNION ALL
            SELECT 'export' AS kind, lang, count(*) AS n_docs,
                   CAST(sum({_export.shard_bytes_sql(
                       "CAST(doc_id AS VARCHAR)", "lang", "encode(text)"
                   )}) AS BIGINT) AS sum_words,
                   CAST(sum(octet_length(encode(text))) AS BIGINT) AS sum_chars
            FROM documents GROUP BY lang
        """,
        "q23_quality_score": f"""
            WITH base AS (
              SELECT doc_id,
                     length(text) - length(replace(text, ' ', '')) + 1 AS words,
                     (length(text) - length(replace(text, 'the', ''))) // 3 AS the_count,
                     CAST(CASE WHEN length(text) - length(replace(text, ' ', '')) + 1 >= 20
                           THEN 40 ELSE 0 END
                      + CASE WHEN ((length(text) - length(replace(text, 'the', ''))) // 3) * 100
                                  <= (length(text) - length(replace(text, ' ', '')) + 1) * 20
                             THEN 30 ELSE 0 END
                      + CASE WHEN n_chars >= 200 THEN 30 ELSE 0 END AS BIGINT) AS quality
              FROM documents),
            clf AS ({curation.quality_classifier_sql(
                "(CASE WHEN length(text) - length(replace(text, ' ', '')) + 1 >= 20"
                " THEN 40 ELSE 0 END"
                " + CASE WHEN ((length(text) - length(replace(text, 'the', ''))) // 3) * 100"
                " <= (length(text) - length(replace(text, ' ', '')) + 1) * 20"
                " THEN 30 ELSE 0 END"
                " + CASE WHEN n_chars >= 200 THEN 30 ELSE 0 END) >= 70",
                min_df=2,
                threshold_milli=8000,
            )}),
            sp AS ({curation.surprisal_score_sql()})
            SELECT base.doc_id, words, the_count, quality, clf_milli, clf_keep,
                   sp.surprisal_permille AS surp_permille
            FROM base JOIN clf ON base.doc_id = clf.doc_id
            JOIN sp ON base.doc_id = sp.doc_id
        """,
        "q24_langid_heuristic": """
            WITH p AS (
              SELECT lang,
                     CASE WHEN (length(text) - length(replace(text, ' the ', ''))) // 5 >= 2
                          THEN 'en'
                          WHEN (length(text) - length(replace(text, ' a ', ''))) // 3 >= 2
                          THEN 'en_lite'
                          ELSE 'unknown' END AS pred
              FROM documents)
            SELECT lang, pred, count(*) AS n FROM p GROUP BY lang, pred
        """,
        "q25_fingerprint_morton": f"""
            WITH t AS (SELECT doc_id, {fp} AS fingerprint FROM documents),
            g AS ({geo}),
            c AS (SELECT doc_id, {cells.sql_cell_x('lon_u', 8)} AS x,
                         {cells.sql_cell_y('lat_u', 8)} AS y FROM g),
            {cells.hilbert_sql_chain('c', 8)},
            s AS (SELECT doc_id, {mh},
                         CAST({sim_terms} AS BIGINT) AS simhash
                  FROM documents)
            SELECT t.doc_id, t.fingerprint,
                   ({" + ".join(f"((x >> {b}) & 1) * {1 << (2 * b + 1)} + ((y >> {b}) & 1) * {1 << (2 * b)}" for b in range(8))})
                       AS morton,
                   __h8.hd AS hilbert,
                   s.mh0, s.mh1, s.mh2, s.mh3, s.simhash
            FROM t JOIN c ON t.doc_id = c.doc_id
            JOIN __h8 ON t.doc_id = __h8.doc_id
            JOIN s ON t.doc_id = s.doc_id
        """,
        "q27_union_kinds": """
            SELECT user_id, count(*) AS n, 'view' AS kind FROM events
            WHERE event_type = 'view' GROUP BY user_id
            UNION ALL
            SELECT user_id, count(*) AS n, 'click' AS kind FROM events
            WHERE event_type = 'click' GROUP BY user_id
        """,
        "q28_member_index": """
            SELECT c_nationkey, count(*) AS n_members,
                   string_agg(c_name, '|' ORDER BY c_name) AS roster
            FROM customer GROUP BY c_nationkey
        """,
        "q29_stats": """
            SELECT (SELECT count(*) FROM customer) AS n_customers,
                   (SELECT count(*) FROM orders) AS n_orders,
                   (SELECT count(*) FROM lineitem) AS n_lineitems,
                   (SELECT count(DISTINCT l_partkey) FROM lineitem) AS n_distinct_parts
        """,
        "q30_reachability_3hop": """
            WITH RECURSIVE walk(root, node, depth) AS (
              SELECT doc_id AS root, doc_id AS node, 0 AS depth
              FROM documents WHERE doc_id < 10
              UNION ALL
              SELECT root, (node * 7 + 3) % (SELECT count(*) FROM documents), depth + 1
              FROM walk WHERE depth < 3)
            SELECT root, count(DISTINCT node) AS n_reachable
            FROM walk GROUP BY root
        """,
        "q31_salted_skew_join": """
            SELECT o_orderpriority, count(*) AS n_items,
                   CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_orderpriority
        """,
        "q34_pip_chain": f"""
            WITH g AS ({geo}),
            r AS (SELECT n_nationkey, CAST({box['depth']} AS BIGINT) AS depth,
                         {box['xmin']} AS xmin, {box['xmax']} AS xmax,
                         {box['ymin']} AS ymin, {box['ymax']} AS ymax
                  FROM nation)
            SELECT g.doc_id, r.n_nationkey AS region_key, r.depth
            FROM g JOIN r
              ON g.lon_u >= r.xmin AND g.lon_u <= r.xmax
             AND g.lat_u >= r.ymin AND g.lat_u <= r.ymax
        """,
        "q35_kring_counts": f"""
            WITH g AS ({geo}),
            c AS (SELECT {cells.sql_cell_x('lon_u', 6)} AS x,
                         {cells.sql_cell_y('lat_u', 6)} AS y FROM g),
            o(dx, dy) AS (VALUES {", ".join(f"({dx}, {dy})" for dx, dy in cells.kring_offsets(1))}),
            e AS (SELECT (x + dx + 64) % 64 AS nx, y + dy AS ny
                  FROM c CROSS JOIN o)
            SELECT {cells.sql_pack_cell(6, 'nx', 'ny')} AS neighbor_cell,
                   count(*) AS n
            FROM e WHERE ny >= 0 AND ny < 64 GROUP BY 1
        """,
        "q37_minhash_lsh_pairs": f"""
            WITH RECURSIVE s AS (SELECT doc_id, {mh} FROM documents),
            p0 AS (
              SELECT a.doc_id AS a, b.doc_id AS b, 0 AS band
              FROM s a JOIN s b
                ON a.mh0 = b.mh0 AND a.mh1 = b.mh1 AND a.doc_id < b.doc_id),
            p1 AS (
              SELECT a.doc_id AS a, b.doc_id AS b, 1 AS band
              FROM s a JOIN s b
                ON a.mh2 = b.mh2 AND a.mh3 = b.mh3 AND a.doc_id < b.doc_id
              WHERE NOT (a.mh0 = b.mh0 AND a.mh1 = b.mh1)),
            pairs AS (
              SELECT a, b, band FROM p0
              UNION ALL
              SELECT a, b, band FROM p1),
            edges AS (
              SELECT a AS u, b AS v FROM pairs
              UNION SELECT b AS u, a AS v FROM pairs),
            reach(src, node) AS (
              SELECT u AS src, u AS node FROM edges
              UNION
              SELECT r.src, e.v FROM reach r JOIN edges e ON r.node = e.u),
            lab AS (
              SELECT src, CAST(min(node) AS BIGINT) AS cluster_id
              FROM reach GROUP BY src)
            SELECT p.a, p.b, p.band, l.cluster_id
            FROM pairs p JOIN lab l ON p.a = l.src
        """,
        "q38_embedding_neardup": f"""
            WITH q AS (
              SELECT vec_id,
                     list_transform(embedding, x -> {embed.QUANTIZE_SQL}) AS qv
              FROM embeddings),
            pairs AS (
              SELECT a.vec_id AS a, b.vec_id AS b,
                     CAST(list_dot_product(a.qv, b.qv) AS BIGINT) AS dot,
                     CAST(list_dot_product(a.qv, a.qv) AS BIGINT) AS na,
                     CAST(list_dot_product(b.qv, b.qv) AS BIGINT) AS nb
              FROM q a JOIN q b ON b.vec_id = a.vec_id + 1
              WHERE a.vec_id % 2 = 0)
            SELECT 'neardup' AS kind, a.vec_id AS a, b.vec_id AS b,
                   CAST(list_dot_product(a.qv, b.qv) AS BIGINT) AS dot_q,
                   TRUE AS aligned
            FROM q a JOIN q b ON a.vec_id < b.vec_id
            WHERE CAST(list_dot_product(a.qv, b.qv) AS BIGINT) >= 900000
            UNION ALL
            SELECT 'align' AS kind, a, b, dot AS dot_q,
                   {curation.alignment_gate_sql('dot', 'na', 'nb', 200)} AS aligned
            FROM pairs
            UNION ALL
            SELECT 'hashfeat' AS kind, bucket AS a, n_tokens AS b,
                   sum_sign AS dot_q, sum_sign >= 0 AS aligned
            FROM ({_features.bucket_sums_sql(dim=32)})
        """,
        "q33_rollup_grouping": """
            SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
                   CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
                   GROUPING(l_returnflag, l_linestatus) AS gid
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "q32_sessionize": """
            SELECT user_id, CAST(sum(ns) AS BIGINT) AS n_sessions,
                   count(*) AS n_events,
                   CAST(sum(mk) AS BIGINT) AS sum_meta_k,
                   CAST(count(mk) AS BIGINT) AS n_meta FROM (
              SELECT user_id,
                     CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                               IS NULL
                          OR epoch_us(ts) // 1000000
                             - epoch_us(lag(ts) OVER (
                                 PARTITION BY user_id ORDER BY ts, event_id)) // 1000000
                             > 600
                          THEN 1 ELSE 0 END AS ns,
                     CAST(json_extract_string(props, '$.k') AS BIGINT) AS mk
              FROM events) t
            GROUP BY user_id
        """,
    }
