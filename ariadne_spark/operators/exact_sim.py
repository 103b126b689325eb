"""Exact similarity over embeddings — distributed block-matmul.

The exactness twin of `operators/ann.py` (which is the subquadratic
scale path). Exact all-pairs cosine is O(n^2) compute no matter what;
what this module guarantees is that it is *distributed* O(n^2): no
driver-side `collect()` of the corpus, no unbounded single-task group.

Physical shape (SUMMA-style block matrix multiply expressed as one
grouped-map):

  probe rows   -> replicated to every corpus block   (n * C rows)
  corpus rows  -> replicated to every probe block    (n * P rows)
  groupBy(pb, cb) -> applyInPandas: one numpy matmul per block pair
                     over at most (n/P x dim) x (dim x n/C) int64
  top-k:   each block pair emits its local per-src top-k; a final
           window merges partials (global top-k is a subset of the
           union of per-block top-ks, so this is exact)
  pairs:   threshold pairs are emitted once (src < dst orders the
           unordered pair into exactly one block pair)

Block ids are data-derived (`pmod(xxhash64(vec_id), B)`), never
partition-derived, so results are identical at any parallelism — the
cross-cluster-size equality requirement.

Scores follow the one embedding-score contract in `functions/embed.py`
(the quantizer shared with the DuckDB oracle and the numpy kernels),
and every exact top-k — this module's merge and the LSH, IVF and PQ
re-ranks via `rerank_topk` — ranks through `topk_by_dot`, so their
answers are directly comparable.

Reference analog: the exact-location reference↔definition match that
anchors ariadne's resolution (`packages/core/src/resolve_references/
call_resolver.ts:260-278`) — exactness is the contract; ANN is the
relaxation.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ariadne_spark.functions.embed import int_dot, quantize


def _blocked(embeddings: DataFrame, p_blocks: int, c_blocks: int) -> DataFrame:
    """Union of role-tagged probe/corpus replicas keyed by (pb, cb).

    Known cost: the two union branches each scan + quantize the
    embeddings input (two passes over the vector column). Deliberate:
    a single-scan explode-into-both-roles or an internal checkpoint
    would change the plan/caching shape of the exact paths that q21's
    bench line and its external localCheckpoint depend on, to shave a
    cost that is second-order next to the O(n^2) matmul this operator
    exists to pay. Callers who iterate should cache `embeddings`."""
    base = embeddings.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        quantize(F.col("embedding")).alias("q"),
    )
    blk = lambda n: F.pmod(F.xxhash64(F.col("vec_id")), F.lit(n)).cast("int")
    probe = base.select(
        blk(p_blocks).alias("pb"),
        F.explode(F.array(*[F.lit(b) for b in range(c_blocks)])).alias("cb"),
        F.lit("p").alias("role"),
        "vec_id",
        "q",
    )
    corpus = base.select(
        F.explode(F.array(*[F.lit(b) for b in range(p_blocks)])).alias("pb"),
        blk(c_blocks).alias("cb"),
        F.lit("c").alias("role"),
        "vec_id",
        "q",
    )
    return probe.unionByName(corpus)


def topk_by_dot(scored: DataFrame, k: int) -> DataFrame:
    """(src, dst, dot_q) -> + rank: the k best dst per src by
    (dot_q desc, dst asc) — the one deterministic top-k rank."""
    w = Window.partitionBy("src").orderBy(F.desc("dot_q"), F.col("dst"))
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def rerank_topk(cand: DataFrame, embeddings: DataFrame, k: int) -> DataFrame:
    """Candidate (src, dst) pairs -> (src, dst, dot_q, rank): exact
    re-rank. The quantized vectors join back only AFTER candidate
    generation and dedup, so the candidate shuffle carries ids alone."""
    vecs = embeddings.select("vec_id", quantize(F.col("embedding")).alias("q"))
    scored = (
        cand.join(
            vecs.select(F.col("vec_id").alias("src"), F.col("q").alias("qa")), "src"
        )
        .join(
            vecs.select(F.col("vec_id").alias("dst"), F.col("q").alias("qb")), "dst"
        )
        .select("src", "dst", int_dot(F.col("qa"), F.col("qb")).alias("dot_q"))
    )
    return topk_by_dot(scored, k)


def _split(pdf: pd.DataFrame):
    p = pdf[pdf["role"] == "p"]
    c = pdf[pdf["role"] == "c"]
    if len(p) == 0 or len(c) == 0:
        return None
    pm = np.stack([np.asarray(v, dtype=np.int64) for v in p["q"]])
    cm = np.stack([np.asarray(v, dtype=np.int64) for v in c["q"]])
    return (
        p["vec_id"].to_numpy(dtype=np.int64),
        pm,
        c["vec_id"].to_numpy(dtype=np.int64),
        cm,
    )


def exact_topk(
    embeddings: DataFrame, k: int = 3, p_blocks: int = 8, c_blocks: int = 8
) -> DataFrame:
    """-> (src, dst, dot_q, rank): exact top-k by quantized dot product,
    deterministic tie-break on dst. Same contract as driver query q21."""

    def local_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        s = _split(pdf)
        if s is None:
            return pd.DataFrame({"src": [], "dst": [], "dot_q": []}).astype(
                {"src": "int64", "dst": "int64", "dot_q": "int64"}
            )
        pid, pm, cid, cm = s
        dots = pm @ cm.T
        out_s, out_d, out_q = [], [], []
        for i in range(len(pid)):
            mask = cid != pid[i]
            d = dots[i][mask]
            ids = cid[mask]
            order = np.lexsort((ids, -d))[:k]
            out_s.extend([pid[i]] * len(order))
            out_d.extend(ids[order].tolist())
            out_q.extend(d[order].tolist())
        return pd.DataFrame({"src": out_s, "dst": out_d, "dot_q": out_q})

    partial = (
        _blocked(embeddings, p_blocks, c_blocks)
        .groupBy("pb", "cb")
        .applyInPandas(local_topk, "src long, dst long, dot_q long")
    )
    return topk_by_dot(partial, k).select(
        "src", "dst", "dot_q", F.col("rank").cast("long").alias("rank")
    )


def exact_neardup_pairs(
    embeddings: DataFrame,
    threshold: int,
    p_blocks: int = 8,
    c_blocks: int = 8,
) -> DataFrame:
    """-> (a, b, dot_q) with a < b and dot_q >= threshold — exact
    cosine near-dup pairs (driver query q38 contract). Each unordered
    pair lands in exactly one (pb, cb) group via the a<b orientation,
    so no dedup shuffle is needed."""

    def local_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        s = _split(pdf)
        if s is None:
            return pd.DataFrame({"a": [], "b": [], "dot_q": []}).astype(
                {"a": "int64", "b": "int64", "dot_q": "int64"}
            )
        pid, pm, cid, cm = s
        dots = pm @ cm.T
        ii, jj = np.nonzero((dots >= threshold) & (pid[:, None] < cid[None, :]))
        return pd.DataFrame(
            {"a": pid[ii], "b": cid[jj], "dot_q": dots[ii, jj]}
        )

    return (
        _blocked(embeddings, p_blocks, c_blocks)
        .groupBy("pb", "cb")
        .applyInPandas(local_pairs, "a long, b long, dot_q long")
    )
