"""SemDeDup-style semantic deduplication over embeddings (Abbas et
al., "SemDeDup: Data-efficient learning at web-scale through semantic
deduplication", arXiv:2303.09540 — public method description only).

Pipeline: deterministic k-means clustering (reusing the IVF coarse
quantizer from operators/ann.py) -> WITHIN-cluster exact pairwise
quantized-cosine above threshold -> connected components
(operators/dedup.dup_clusters) -> keep the min-id representative per
component. Pairwise work is confined to clusters: with n_centroids ~
sqrt(n), per-cluster cost is ~(n/sqrt(n))^2 = n and total ~n^1.5 —
never global all-pairs. Cross-cluster near-dups are the method's
documented approximation (SemDeDup accepts them by design); recall vs
the exact all-pairs oracle is pytest-gated in tests/test_semdedup.py.

Determinism: centroids are data-derived (xxhash64 sample + integer-
quantized k-means, ann.py), assignment uses exact int64 dot products,
components use order-independent min-labels — identical output at any
parallelism or cluster size.

Reference analog: collapsing groups of co-resolving symbols onto one
canonical definition before emitting call edges — the multi-candidate
`Resolution[]` of `packages/types/src/call_chains.ts:10-17` reduced to
a single canonical target per equivalence group.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ariadne_spark.functions.embed import EMB_QSCALE, q_round
from ariadne_spark.operators.ann import _centroids, _ivf_assign_udf, _kmeans_refine
from ariadne_spark.operators.dedup import dup_clusters


# blocked pair scoring: transient dot-matrix elements per block and
# the row floor (module-level so tests can force multi-block runs)
_PAIR_BLOCK_ELEMS = 1 << 25
_PAIR_BLOCK_MIN_ROWS = 256


def semdedup_pairs(
    embeddings: DataFrame,
    threshold_q: int,
    n_centroids: int | None = None,
    kmeans_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """-> (a, b, dot_q) with a < b: within-cluster near-dup pairs whose
    quantized dot (`functions.embed` contract, == q21/q38 arithmetic)
    is >= threshold_q. threshold_q ~ cosine * 1e6 for unit-norm input.
    """
    # normalize column names up front: the shared ann helpers
    # (_centroids/_kmeans_refine) key on (vec_id, embedding)
    embeddings = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    )
    if n_centroids is None:
        n = embeddings.count()
        n_centroids = max(2, int(n**0.5))
    cents = _kmeans_refine(
        embeddings, _centroids(embeddings, n_centroids), kmeans_iters
    )
    assign = _ivf_assign_udf(cents, n_probe=1)
    cell = (
        embeddings.withColumn("_a", assign(F.col("embedding")))
        .select("vec_id", "embedding", F.col("_a.own_cell").alias("cell"))
    )

    def local_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        mat_q = q_round(
            np.stack(pdf["embedding"].to_numpy()), EMB_QSCALE
        )
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids)  # id-sorted so a < b orientation is by value
        ids, mat_q = ids[order], mat_q[order]
        n = len(ids)
        # BLOCKED scoring: a full n x n dot matrix is 8*n^2 bytes —
        # k-means on real data yields occasional giant clusters, and a
        # 60k-row cluster would hold a 28 GB matrix in one worker (the
        # 24M stress run's RSS peak; 100k rows would OOM it outright).
        # Row blocks cap the transient at ~256 MB regardless of
        # cluster size; thresholding happens per block so survivors,
        # not scores, accumulate. Same int64 products, same pairs.
        blk = max(_PAIR_BLOCK_MIN_ROWS, _PAIR_BLOCK_ELEMS // max(n, 1))
        outs = []
        for i0 in range(0, n, blk):
            i1 = min(i0 + blk, n)
            dots = mat_q[i0:i1] @ mat_q.T  # exact int64, (i1-i0, n)
            bi, bj = np.nonzero(dots >= threshold_q)
            gi = bi + i0
            keep = bj > gi  # upper triangle: a < b by sorted position
            if keep.any():
                outs.append(
                    (ids[gi[keep]], ids[bj[keep]], dots[bi[keep], bj[keep]])
                )
        if not outs:
            return pd.DataFrame(
                {"a": [], "b": [], "dot_q": []}
            ).astype({"a": "int64", "b": "int64", "dot_q": "int64"})
        return pd.DataFrame(
            {
                "a": np.concatenate([o[0] for o in outs]).astype(np.int64),
                "b": np.concatenate([o[1] for o in outs]).astype(np.int64),
                "dot_q": np.concatenate([o[2] for o in outs]).astype(np.int64),
            }
        )

    return cell.groupBy("cell").applyInPandas(local_pairs, "a long, b long, dot_q long")


def semdedup(
    embeddings: DataFrame,
    threshold_q: int = 850_000,
    n_centroids: int | None = None,
    kmeans_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """-> (vec_id, dup_cluster_id, keep) for every input row: semantic-
    dup component id (min member id; own id for singletons) and
    keep=1 iff the row is its component's canonical representative.

    The kept subset is the SemDeDup-curated corpus; dropped rows are
    semantic re-phrasings of a kept one. Plan: one Arrow assignment
    pass + per-cluster pairwise (bounded, see module docstring) +
    min-label components + one left join — no global pairwise stage.
    """
    pairs = semdedup_pairs(
        embeddings, threshold_q, n_centroids, kmeans_iters, id_col, vec_col
    )
    comps = dup_clusters(pairs, "a", "b").withColumnRenamed("doc_id", id_col)
    lab = (
        embeddings.select(id_col)
        .join(comps, id_col, "left")
        .withColumn("dup_cluster_id", F.coalesce("cluster_id", F.col(id_col)))
        .drop("cluster_id")
    )
    return lab.select(
        id_col,
        "dup_cluster_id",
        (F.col(id_col) == F.col("dup_cluster_id")).cast("long").alias("keep"),
    )
