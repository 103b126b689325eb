"""Approximate nearest neighbors over embeddings — IVF-flat + LSH.

Brute-force cosine top-k (driver contract `q21_embedding_topk`) is the
exactness baseline; it is O(n^2) and only viable per-partition. Two
approximate paths exist, with an explicit division of labor:

- **`ann_ivf` is THE 100 TB top-k path.** Candidate volume is bounded
  at n^2 * n_probe / n_centroids by construction; with the auto-chosen
  n_centroids ~ sqrt(2n) (`ivf_params`) that is ~5 * n^1.5 — genuinely
  subquadratic, independent of how similar the corpus vectors are.
- **`ann_topk` (random-hyperplane LSH, Charikar's SimHash for cosine)
  is the candidate-DIVERSITY path**: collision probability for a pair
  at angle theta is 1 - (1 - (1-theta/pi)^n_planes)^n_tables, so it
  retrieves *high-similarity* pairs (near-dups, low theta) far more
  reliably than partition-based IVF, but its recall for a fixed
  candidate budget decays for distant true neighbors. With auto-chosen
  parameters (`lsh_params`: n_planes ~ log2(n)/2 so per-table bucket
  occupancy stays ~sqrt(n); n_tables = 2*n_planes to hold recall) the
  candidate volume is O(n^1.5 * log n) under the uniform-bucket model
  — subquadratic, but for general top-k at scale use `ann_ivf`. The
  historical fixed defaults (n_planes=4, n_tables=8) remain available
  for small recall-tuned corpora; at 10^9 rows they are quadratic with
  a 1/16-per-table constant, which is why they are no longer the
  default.

Physical plan mirrors the phash kNN operator (`operators/knn.py`):
bucket ids computed in ONE Arrow-batched pandas UDF (matrix multiply
per batch — no per-row Python), explode by table, sort-merge self-join
on (table, bucket), first-match-table dedup (zero extra shuffles),
exact-score filter, deterministic top-k window.

Reference analog: the multi-candidate call resolution with confidence
grades (`packages/core/src/resolve_references/call_resolver.ts:391-463`)
— here "confidence" is the exact cosine score re-ranking the
generated candidate set.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from ariadne_spark.functions.embed import CENT_QSCALE, EMB_QSCALE, q_round, quantize
from ariadne_spark.operators.exact_sim import rerank_topk

SEED = 1729


def lsh_params(n: int) -> tuple[int, int]:
    """(n_planes, n_tables) scaled to corpus size: n_planes grows with
    log2(n)/2 so each table has >= sqrt(n) buckets and expected bucket
    occupancy stays <= sqrt(n) (candidates/table <= n^1.5 under the
    uniform model); n_tables = 2*n_planes compensates the per-table
    collision-probability drop. At n=500: (6, 12) — measured 4.2*n^1.5
    candidates on the driver fixture; at n=10^9: (16, 32)."""
    n = max(int(n), 2)
    n_planes = max(4, math.ceil(math.log2(n) / 2) + 1)
    return n_planes, max(8, 2 * n_planes)


def ivf_params(n: int) -> tuple[int, int]:
    """(n_centroids, n_probe) scaled to corpus size: n_centroids ~
    sqrt(2n) keeps cells ~sqrt(n/2) rows, so the probe join's candidate
    volume is ~ n_probe * n^1.5 / sqrt(2) regardless of corpus size; at
    10^12 rows that is ~1.4M centroids and ~10^6-row cells. n_probe=7
    measured recall 0.655 on the weakly-clustered driver fixture."""
    n = max(int(n), 2)
    return max(16, math.isqrt(2 * n)), 7


def hyperplanes(dim: int, n_planes: int, n_tables: int, seed: int = SEED) -> np.ndarray:
    """(n_tables, n_planes, dim) deterministic Gaussian hyperplanes."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_tables, n_planes, dim))


def _bucket_udf(planes: np.ndarray):
    n_tables, n_planes, dim = planes.shape
    flat = planes.reshape(n_tables * n_planes, dim)
    powers = 1 << np.arange(n_planes, dtype=np.int64)

    @F.pandas_udf(ArrayType(LongType()))
    def buckets(emb: pd.Series) -> pd.Series:
        mat = np.stack(emb.to_numpy())  # (batch, dim)
        proj = mat @ flat.T  # (batch, n_tables*n_planes)
        bits = (proj > 0).reshape(len(mat), n_tables, n_planes)
        ids = (bits * powers).sum(axis=2)  # (batch, n_tables)
        return pd.Series(list(ids))

    return buckets


def ann_topk(
    embeddings: DataFrame,
    k: int = 3,
    n_planes: int | None = None,
    n_tables: int | None = None,
    dim: int | None = None,
    seed: int = SEED,
) -> DataFrame:
    """-> (src, dst, dot_q, rank): approximate top-k cosine neighbors
    via random-hyperplane LSH — the candidate-diversity path (module
    docstring has the division of labor vs `ann_ivf`).

    n_planes/n_tables default to `lsh_params(count)` — log2-scaled so
    candidate volume stays subquadratic at any corpus size (enforced
    by tests/test_ann.py's <6*n^1.5 bound). Pass explicit values (e.g.
    4, 8) only for small recall-tuned corpora where a near-quadratic
    candidate set is affordable.

    Candidates are re-ranked by `exact_sim.rerank_topk`, the same
    integer score and rank as the exact baseline (`q21`), so ANN
    results are directly comparable (recall = overlap of (src,dst)
    sets).
    """
    if n_planes is None or n_tables is None:
        auto_p, auto_t = lsh_params(embeddings.count())
        n_planes = auto_p if n_planes is None else n_planes
        n_tables = auto_t if n_tables is None else n_tables
    if dim is None:
        dim = len(embeddings.select("embedding").first()["embedding"])
    planes = hyperplanes(dim, n_planes, n_tables, seed)
    buckets = _bucket_udf(planes)

    # candidate generation ships ONLY (vec_id, table_id, bucket) through
    # the bucket self-join — the full int64 vectors (dim×8 B each) are
    # joined back AFTER pair dedup, cutting candidate-shuffle bytes by
    # ~2·dim·8 per pair
    bucketed = embeddings.select(
        F.col("vec_id"),
        F.posexplode(buckets(F.col("embedding"))).alias("table_id", "bucket"),
    )
    a = bucketed.select(F.col("vec_id").alias("src"), "table_id", "bucket")
    b = bucketed.select(F.col("vec_id").alias("dst"), "table_id", "bucket")

    # dedup pairs colliding in multiple tables via min(table_id) — a
    # groupBy on the pair key with map-side partial agg (deterministic;
    # the table id itself is then dropped). Candidate sets are LSH-small,
    # so this shuffle is bounded by collisions, not n^2.
    cand = (
        a.join(b, ["table_id", "bucket"])
        .where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.min("table_id").alias("first_table"))
        .drop("first_table")
    )
    return rerank_topk(cand, embeddings, k)


def brute_force_topk(embeddings: DataFrame, k: int = 3) -> DataFrame:
    """Exact all-pairs reference (same contract as driver query q21):
    every ordered pair is a candidate of the shared re-rank step."""
    ids = embeddings.select("vec_id")
    cand = (
        ids.select(F.col("vec_id").alias("src"))
        .crossJoin(ids.select(F.col("vec_id").alias("dst")))
        .where(F.col("src") != F.col("dst"))
    )
    return rerank_topk(cand, embeddings, k)


def _centroids(embeddings: DataFrame, n_centroids: int) -> np.ndarray:
    """Deterministic data-derived centroid sample: the n_centroids rows
    with smallest (xxhash64(vec_id), vec_id) — a seedless pseudo-random
    sample that is identical at any parallelism. Bounded driver
    transfer: n_centroids × dim floats (IVF coarse quantizers are
    small by construction; this is NOT an unbounded corpus collect)."""
    rows = (
        embeddings.select("vec_id", "embedding")
        .orderBy(F.xxhash64(F.col("vec_id")), F.col("vec_id"))
        .limit(n_centroids)
        .collect()
    )
    return np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])


def _ivf_assign_udf(cents: np.ndarray, n_probe: int):
    """One Arrow pass -> (own_cell, probe_cells): nearest centroid for
    the corpus role, top-n_probe centroids for the query role.
    Deterministic tie-break on centroid index.

    Assignment scores are INTEGER dot products (embeddings quantized
    x1e3, centroids x1e6, both int64): float BLAS matmuls change
    summation order with batch/partition shape and can flip near-tied
    centroid ranks between cluster sizes — integer arithmetic is exact,
    so the candidate set is identical at any parallelism (the repo's
    cross-cluster-size determinism contract). Headroom: dim * 1e3 *
    1e6 << 2^63."""
    from pyspark.sql.types import StructField, StructType

    n_c = len(cents)
    idx = np.arange(n_c)
    cents_q = q_round(cents, CENT_QSCALE)

    @F.pandas_udf(
        StructType(
            [
                StructField("own_cell", LongType()),
                StructField("probe_cells", ArrayType(LongType())),
            ]
        )
    )
    def assign(emb: pd.Series) -> pd.DataFrame:
        mat = np.stack(emb.to_numpy()).astype(np.float64)
        mat_q = q_round(mat, EMB_QSCALE)
        dots = mat_q @ cents_q.T  # exact int64, no BLAS float paths
        # lexsort: primary -dots desc, secondary centroid index asc
        order = np.lexsort((np.broadcast_to(idx, dots.shape), -dots), axis=1)
        return pd.DataFrame(
            {
                "own_cell": order[:, 0].astype(np.int64),
                "probe_cells": list(order[:, :n_probe].astype(np.int64)),
            }
        )

    return assign


def _kmeans_refine(
    embeddings: DataFrame, cents: np.ndarray, iters: int
) -> np.ndarray:
    """Spherical k-means refinement of the sampled centroids. Cluster
    sums use per-component integer quantization (`quantize` at
    CENT_QSCALE, summed as int64) so the aggregation is ORDER-INDEPENDENT — float summation
    order varies with partitioning and would break the cross-cluster-
    size determinism contract. Each new centroid is the normalized
    cluster mean; empty clusters keep their previous centroid."""
    for _ in range(iters):
        assign = _ivf_assign_udf(cents, 1)
        assigned = embeddings.select(
            assign(F.col("embedding")).alias("a"),
            quantize(F.col("embedding"), CENT_QSCALE).alias("q"),
        ).select(F.col("a.own_cell").alias("cell"), "q")
        dim = cents.shape[1]
        sums = (
            assigned.select(
                "cell", F.posexplode(F.col("q")).alias("i", "v")
            )
            .groupBy("cell", "i")
            .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        new = cents.copy()
        acc = np.zeros((len(cents), dim))
        cnt = np.zeros(len(cents), dtype=np.int64)
        for r in sums:
            acc[r["cell"], r["i"]] = r["s"] / CENT_QSCALE
            cnt[r["cell"]] = r["n"]
        for c in range(len(cents)):
            if cnt[c] > 0:
                norm = np.linalg.norm(acc[c])
                if norm > 0:
                    new[c] = acc[c] / norm
        cents = new
    return cents


def ann_ivf(
    embeddings: DataFrame,
    k: int = 3,
    n_centroids: int | None = None,
    n_probe: int | None = None,
    kmeans_iters: int = 2,
) -> DataFrame:
    """-> (src, dst, dot_q, rank): IVF-flat approximate top-k — THE
    100 TB scale path (module docstring has the division of labor vs
    `ann_topk`'s hyperplane LSH).

    Corpus rows land in ONE coarse cell (nearest centroid); queries
    probe their n_probe nearest cells; candidates join on cell and
    exact int64 re-rank picks top-k. Candidate volume ≈
    n² · n_probe / n_centroids BY CONSTRUCTION — with the default
    `ivf_params` choice (n_centroids ~ sqrt(2n)) that is
    ~n_probe · n^1.5 / sqrt(2) at any corpus size (at 10^12 rows:
    ~1.4M centroids, ~10^6-row cells, probe join shuffles ids only).
    A (src,dst) pair occurs at most once — dst lives in exactly one
    cell — so no dedup shuffle exists at all; the vectors join back
    only for surviving candidates, as in `ann_topk`."""
    if n_centroids is None or n_probe is None:
        auto_c, auto_p = ivf_params(embeddings.count())
        n_centroids = auto_c if n_centroids is None else n_centroids
        n_probe = auto_p if n_probe is None else n_probe
    cents = _centroids(embeddings, n_centroids)
    if kmeans_iters:
        cents = _kmeans_refine(embeddings, cents, kmeans_iters)
    assign = _ivf_assign_udf(cents, n_probe)

    # eager localCheckpoint: both sides of the cell self-join read
    # `assigned`, and the centroid-assignment UDF pass over the full
    # corpus is the expensive stage — without this it executes twice
    # per run. Checkpoint (not .persist()): cache entries pinned by
    # .persist() outlive the call and leak for the session's lifetime,
    # while checkpoint blocks are freed when the result DataFrame is
    # garbage-collected.
    assigned = embeddings.select(
        "vec_id", assign(F.col("embedding")).alias("a")
    ).select("vec_id", F.col("a.own_cell").alias("own_cell"),
             F.col("a.probe_cells").alias("probe_cells")
    ).localCheckpoint(eager=True)
    queries = assigned.select(
        F.col("vec_id").alias("src"), F.explode("probe_cells").alias("cell")
    )
    corpus = assigned.select(
        F.col("vec_id").alias("dst"), F.col("own_cell").alias("cell")
    )
    cand = (
        queries.join(corpus, "cell")
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
    )
    return rerank_topk(cand, embeddings, k)
