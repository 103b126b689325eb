"""Product quantization (PQ) for embedding search at memory scale
(Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
Search", TPAMI 2011 — public method description only).

Why it exists here: at 10^12 rows, float32 embeddings are the
dominant storage/shuffle cost (dim=32 -> 128 B/row -> >100 TB of
vectors alone). PQ splits each vector into m subspaces and stores one
small int per subspace (the index of the nearest per-subspace
centroid): dim=32, m=4 -> 4 codes/row, a 32x compression; similarity
scans become m integer table lookups per pair (asymmetric distance
computation, ADC) instead of dim float multiplies. Recall loss vs
exact is bounded by codebook quality and is pytest-gated
(tests/test_pq.py).

Determinism contract (same as ann.py): codebooks seed from the
data-derived xxhash64 sample, Lloyd refinement uses integer-quantized
per-(subspace, code) partial sums (order-independent across
partitions), assignment is exact-int64 argmax with first-index
tie-break, ADC scores are int64 sums — so codes, scores and top-k are
identical at any parallelism, batch shape, or cluster size.

Plan shape: codebooks are tiny (m * 256 * dsub floats) and ride
inside Arrow UDF closures; encode is one Arrow pass; search joins
only (vec_id, m codes) for the corpus — never raw vectors. The plain
ADC scan is linear-per-query by design (it replaces the exact scan's
arithmetic, not its candidate set); compose with `ann_ivf`'s cell
pruning for the joint IVF-PQ shape when queries are many.

Reference analog: the compact branded symbol-id encoding the
reference ships between registries so cross-file lookups move short
strings instead of whole definition records
(`packages/types/src/symbol.ts:65-77`) — the probe ships a small
code, the payload stays home.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType, LongType

from ariadne_spark.functions.embed import CENT_QSCALE, EMB_QSCALE, q_round
from ariadne_spark.operators.ann import _centroids
from ariadne_spark.operators.exact_sim import rerank_topk

# CENT_QSCALE (1e6) is an exact integer multiple of EMB_QSCALE (1e3);
# _l2_scores relies on the ratio being integral.
_RATIO = CENT_QSCALE // EMB_QSCALE


def _l2_scores(sub_q: np.ndarray, book_q: np.ndarray) -> np.ndarray:
    """Exact-int64 L2-argmin scores: argmin |x-c|^2 == argmax
    (2 x.c - |c|^2). x is EMB_QSCALE-quantized, c CENT_QSCALE-
    quantized; multiplying the cross term by CENT/EMB puts both terms
    on the CENT_QSCALE^2 scale. Magnitudes stay << 2^63 (dsub * 1e3 *
    1e6 * 2e3 ~ 1.6e13 for dsub=8)."""
    return 2 * _RATIO * (sub_q @ book_q.T) - (book_q.astype(np.int64) ** 2).sum(axis=1)


def pq_train(
    embeddings: DataFrame,
    m: int = 4,
    k: int = 256,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> np.ndarray:
    """-> (m, k', dsub) float64 codebooks, k' = min(k, n): seeded from
    ann's deterministic xxhash64 sample (one bounded driver pull of k
    full vectors, sliced into subspaces), refined by Lloyd iterations
    whose per-(subspace, code) sums are integer-quantized and summed
    distributively (one Arrow pass + one bounded groupBy per
    iteration; driver transfer <= m*k*dsub longs)."""
    # normalize column names up front: the shared helpers (_centroids)
    # key on (vec_id, embedding), so non-default id/vec names work
    embeddings = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    )
    sample = _centroids(embeddings, k)  # (k', dim), deterministic
    dim = sample.shape[1]
    assert dim % m == 0, f"dim {dim} not divisible by m={m}"
    dsub = dim // m
    books = np.stack([sample[:, j * dsub : (j + 1) * dsub] for j in range(m)])

    for _ in range(iters):
        books_q = q_round(books, CENT_QSCALE)

        def accumulate(pdf_iter, books_q=books_q):
            for pdf in pdf_iter:
                mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                mat_q = q_round(mat, EMB_QSCALE)
                js, cs, sums, ns = [], [], [], []
                for j in range(len(books_q)):
                    sub_q = mat_q[:, j * dsub : (j + 1) * dsub]
                    sub_f = mat[:, j * dsub : (j + 1) * dsub]
                    code = np.argmax(_l2_scores(sub_q, books_q[j]), axis=1)
                    for c in np.unique(code):
                        sel = q_round(sub_f[code == c], CENT_QSCALE)
                        js.append(j)
                        cs.append(int(c))
                        sums.append(sel.sum(axis=0).tolist())
                        ns.append(int((code == c).sum()))
                yield pd.DataFrame({"j": js, "c": cs, "s": sums, "n": ns})

        # component-wise sum via posexplode: int64 adds are order-
        # independent, so the refit is parallelism-invariant
        parts = (
            embeddings.select("embedding")
            .mapInPandas(accumulate, "j int, c int, s array<long>, n long")
            .select("j", "c", "n", F.posexplode("s").alias("pos", "v"))
            .groupBy("j", "c", "pos")
            .agg(F.sum("v").alias("v"), F.sum("n").alias("n"))
            .collect()
        )
        sums = np.zeros((books.shape[0], books.shape[1], dsub), dtype=np.float64)
        counts = np.zeros((books.shape[0], books.shape[1]), dtype=np.int64)
        for r in parts:
            sums[r["j"], r["c"], r["pos"]] = r["v"]
            # n was exploded once per pos; each row carries the full
            # cross-partition total for (j, c)
            counts[r["j"], r["c"]] = r["n"]
        refit = counts > 0
        books = books.copy()
        books[refit] = sums[refit] / CENT_QSCALE / counts[refit][:, None]
    return books


def _encode_udf(books: np.ndarray):
    m, _k, dsub = books.shape
    books_q = q_round(books, CENT_QSCALE)

    @F.pandas_udf(ArrayType(IntegerType()))
    def encode(emb: pd.Series) -> pd.Series:
        mat_q = q_round(np.stack(emb.to_numpy()), EMB_QSCALE)
        codes = np.empty((len(mat_q), m), dtype=np.int32)
        for j in range(m):
            sub_q = mat_q[:, j * dsub : (j + 1) * dsub]
            # first-index tie-break: np.argmax takes the first maximum
            codes[:, j] = np.argmax(_l2_scores(sub_q, books_q[j]), axis=1)
        return pd.Series([r.tolist() for r in codes])

    return encode


def pq_encode(
    embeddings: DataFrame,
    books: np.ndarray,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """-> (vec_id, codes: array<int> length m) — the compressed corpus:
    m small ints per row instead of dim floats (32x at dim=32, m=4).
    One Arrow pass; codebooks ride in the UDF closure."""
    enc = _encode_udf(books)
    return embeddings.select(
        F.col(id_col), enc(F.col(vec_col)).alias("codes")
    )


def _adc_table_udf(books: np.ndarray):
    """Per-query (m x k') int64 lookup table of quantized dots
    query-subvector x centroid, on the q21 dot_q scale
    (EMB_QSCALE^2 per component)."""
    m, _kk, dsub = books.shape
    books_s = q_round(books, EMB_QSCALE)

    @F.pandas_udf(ArrayType(ArrayType(LongType())))
    def dist_table(emb: pd.Series) -> pd.Series:
        mat_q = q_round(np.stack(emb.to_numpy()), EMB_QSCALE)
        return pd.Series(
            [
                [
                    (row[j * dsub : (j + 1) * dsub] @ books_s[j].T).tolist()
                    for j in range(m)
                ]
                for row in mat_q
            ]
        )

    return dist_table


def _adc_col() -> F.Column:
    """ADC score: m integer lookups (codes index the query's table) +
    int64 sum — expects columns `tbl` and `codes`."""
    return F.aggregate(
        F.zip_with(
            F.col("tbl"),
            F.col("codes"),
            lambda t, code: F.element_at(t, code + F.lit(1)),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def pq_topk(
    queries: DataFrame,
    codes: DataFrame,
    books: np.ndarray,
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """-> (src, dst, adc_q, rank): approximate top-k by asymmetric
    distance. Each query precomputes an (m x k') int64 table of
    quantized dots query-subvector x centroid; every corpus row then
    costs m integer lookups + adds — never a dim-wide float product,
    and the corpus side of the join ships only (vec_id, m ints).

    adc_q is on the q21 dot_q scale (EMB_QSCALE^2 per component), so
    scores are directly comparable across exact / LSH / IVF / PQ
    paths; the final window is the same deterministic top-k contract
    (ties break on dst id)."""
    dist_table = _adc_table_udf(books)
    q = queries.select(
        F.col(id_col).alias("src"), dist_table(F.col(vec_col)).alias("tbl")
    )
    c = codes.select(F.col(id_col).alias("dst"), "codes")
    pairs = (
        q.crossJoin(c)
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst", _adc_col().alias("adc_q"))
    )
    w = Window.partitionBy("src").orderBy(F.desc("adc_q"), F.col("dst"))
    return pairs.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def ivf_pq_topk(
    embeddings: DataFrame,
    k: int = 3,
    m: int = 4,
    k_codes: int = 256,
    n_centroids: int | None = None,
    n_probe: int | None = None,
    kmeans_iters: int = 2,
    books: np.ndarray | None = None,
    train_iters: int = 2,
    rerank: bool = False,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """-> (src, dst, adc_q, rank): the joint IVF-PQ shape (the
    production ANN layout, e.g. FAISS IVFPQ — composition of public
    methods): IVF coarse cells bound the CANDIDATE COUNT at
    n^2 * n_probe / n_centroids (ann_ivf's property) while PQ codes
    bound the BYTES PER CANDIDATE at m ints + the per-query (m x k')
    table (pq's property). The candidate join ships (id, cell) and
    (id, m codes) only — at 10^12 rows neither raw vectors nor float
    arithmetic appear anywhere in the scan.

    Same determinism contract as both parents: data-derived centroids
    and codebooks, int64 scores, dst-id tie-breaks — identical output
    at any parallelism. With rerank=True the ADC top-(4k) survivors —
    already few — join back their quantized vectors for an exact
    int64 dot re-rank (dot_q replaces adc_q): the classic IVF-PQ +
    re-rank pipeline, paying exact arithmetic only on O(k) rows/query.
    """
    from ariadne_spark.operators.ann import (
        _ivf_assign_udf,
        _kmeans_refine,
        ivf_params,
    )

    # normalize column names up front (shared helpers key on
    # (vec_id, embedding))
    embeddings = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    )
    if n_centroids is None or n_probe is None:
        auto_c, auto_p = ivf_params(embeddings.count())
        n_centroids = auto_c if n_centroids is None else n_centroids
        n_probe = auto_p if n_probe is None else n_probe
    cents = _centroids(embeddings, n_centroids)
    if kmeans_iters:
        cents = _kmeans_refine(embeddings, cents, kmeans_iters)
    if books is None:
        books = pq_train(embeddings, m=m, k=k_codes, iters=train_iters)

    assign = _ivf_assign_udf(cents, n_probe)
    enc = _encode_udf(books)

    # one Arrow pass computes cell assignment + codes; eagerly
    # checkpointed because both sides of the cell join read it
    # (checkpoint, not .persist(): cache entries pinned by .persist()
    # outlive the call and leak for the session's lifetime, while
    # checkpoint blocks are freed when the result DataFrame is GC'd)
    assigned = (
        embeddings.select(
            "vec_id",
            assign(F.col("embedding")).alias("a"),
            enc(F.col("embedding")).alias("codes"),
            "embedding",
        )
        .select(
            "vec_id",
            F.col("a.own_cell").alias("own_cell"),
            F.col("a.probe_cells").alias("probe_cells"),
            "codes",
            "embedding",
        )
        .localCheckpoint(eager=True)
    )
    # Shuffle shape (round 5 — the 24M stress run caught the old form
    # spilling 17 GB at 200k rows): the query side ships the RAW
    # dim-float embedding (~64 B), NOT the per-query (m x k') int64
    # ADC table (~8 KB) the previous plan exploded into every
    # candidate row; the corpus side collapses to ONE row per cell
    # (collect_list of (dst, codes) — cells are ~sqrt(n) rows by
    # ivf_params, so each list is small and bounded). The join output
    # is one row per (query, probed cell) instead of per candidate
    # pair, and the Arrow scorer below rebuilds the ADC table
    # per-query (m*k'*dsub int multiplies — cheaper than shipping it)
    # and emits only the per-cell top-k_pre survivors, so the final
    # window ranks O(k * n_probe) rows per query, never the full
    # candidate set. Same int64 arithmetic end to end -> results
    # bit-identical to the pair-explosion form (covered by the
    # parallelism-invariance and rerank-exactness tests).
    queries = assigned.select(
        F.col("vec_id").alias("src"),
        F.explode("probe_cells").alias("cell"),
        "embedding",
    )
    corpus_cells = (
        assigned.select(
            F.col("vec_id").alias("dst"), F.col("own_cell").alias("cell"), "codes"
        )
        .groupBy("cell")
        .agg(F.collect_list(F.struct("dst", "codes")).alias("cands"))
    )
    k_pre = 4 * k if rerank else k
    books_s = q_round(books, EMB_QSCALE)
    m_, _kk, dsub = books.shape
    id_t = embeddings.schema["vec_id"].dataType.simpleString()

    def score(batches):
        empty = pd.DataFrame({"src": [], "dst": [], "adc_q": []})
        for pdf in batches:
            if pdf.empty:
                yield empty
                continue
            srcs_o, dsts_o, adcs_o = [], [], []
            for _cell, grp in pdf.groupby("cell", sort=False):
                cands = grp["cands"].iloc[0]
                dsts = np.array([c["dst"] for c in cands])
                codes_mat = np.stack(
                    [np.asarray(c["codes"], np.int64) for c in cands]
                )
                embs = q_round(np.stack(grp["embedding"].to_numpy()), EMB_QSCALE)
                srcs = grp["src"].to_numpy()
                scores = np.zeros((len(srcs), len(dsts)), np.int64)
                for j in range(m_):
                    tbl_j = embs[:, j * dsub : (j + 1) * dsub] @ books_s[j].T
                    scores += tbl_j[:, codes_mat[:, j]]
                selfp = srcs[:, None] == dsts[None, :]
                for qi in range(len(srcs)):
                    idx = np.flatnonzero(~selfp[qi])
                    if idx.size == 0:
                        continue
                    order = np.lexsort((dsts[idx], -scores[qi][idx]))[:k_pre]
                    sel = idx[order]
                    srcs_o.append(np.repeat(srcs[qi], len(sel)))
                    dsts_o.append(dsts[sel])
                    adcs_o.append(scores[qi][sel])
            if not srcs_o:
                yield empty
                continue
            yield pd.DataFrame(
                {
                    "src": np.concatenate(srcs_o),
                    "dst": np.concatenate(dsts_o),
                    "adc_q": np.concatenate(adcs_o),
                }
            )

    pairs = queries.join(corpus_cells, "cell").mapInPandas(
        score, f"src {id_t}, dst {id_t}, adc_q long"
    )
    w = Window.partitionBy("src").orderBy(F.desc("adc_q"), F.col("dst"))
    if not rerank:
        return (
            pairs.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
        )

    # exact re-rank: keep the ADC top-(4k) per query and re-rank those
    # survivors by the exact q21-scale dot — exact arithmetic on O(k)
    # rows/query
    survivors = (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 4 * k)
        .drop("rank", "adc_q")
    )
    return rerank_topk(survivors, embeddings, k)
