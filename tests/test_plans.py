"""Physical-plan assertions — the engine's scale contract, pinned.

These don't execute jobs; they check the OPTIMIZED/physical plan shape
so regressions that would only hurt at 100TB (lost filter pushdown, a
broadcast that became a shuffle, an extra Exchange in the pyramid) fail
fast at test time. SURVEY.md §4.2 lists the intended strategy per
operator; these tests are that table, executable.
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

import sys

sys.path.insert(0, "/root/repo")
import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"


def plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def Q():
    return entrymod.queries()


def test_scan_prunes_columns_and_pushes_filters(spark, Q):
    p = plan(Q["q01_scan_prune"](spark, SF_DIR))
    assert "PushedFilters:" in p
    assert "l_shipdate" in p.split("PushedFilters:")[1].split("\n")[0] or (
        "IsNotNull(l_shipdate)" in p
    )
    # projection pruning: untouched wide columns never reach the scan
    read_schema = p.split("ReadSchema:")[1].split("\n")[0]
    assert "l_comment" not in read_schema
    assert "l_extendedprice" in read_schema


def test_dim_join_broadcasts(spark, Q):
    p = plan(Q["q03_broadcast_dim_join"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p


def test_orphans_plan_is_anti_join(spark, Q):
    p = plan(Q["q05_set_ops"](spark, SF_DIR))
    assert "LeftAnti" in p


def test_pip_join_has_zero_shuffles(spark, images_df, regions):
    from ariadne_spark.operators.pip import pip_join

    p = plan(pip_join(images_df.drop("bytes"), regions, deepest_only=True))
    # the central join is scan -> project -> MapInPandas: narrow plan
    assert "Exchange" not in p
    assert "MapInPandas" in p


def test_quarantine_scan_is_linear(spark, images_df):
    from ariadne_spark.operators.decode import quarantine_scan

    p = plan(quarantine_scan(images_df))
    # one narrow mapInPandas pass over the scan — no shuffle at any
    # corpus size (the verdict is per-row)
    assert "Exchange" not in p
    assert "MapInPandas" in p


def test_meta_scan_skips_bytes(spark, images_df):
    p = plan(images_df.drop("bytes").select(F.col("image_id"), F.col("phash")))
    read_schema = p.split("ReadSchema:")[1].split("\n")[0]
    assert "bytes" not in read_schema


def test_pyramid_is_two_shuffles(spark, images_df):
    from ariadne_spark.operators.tiles import build_pyramid

    p = plan(build_pyramid(images_df.drop("bytes"), max_z=8))
    # raw->counts exchange + ancestors rollup exchange; AQE may add
    # AQEShuffleRead wrappers but the Exchange operator count is 2
    n_exchanges = p.count("+- Exchange") + p.count("   Exchange")
    assert n_exchanges == 2, p


def test_knn_salted_and_plain_same_plan_family(spark, images_df):
    from ariadne_spark.operators.knn import knn_edges

    meta = images_df.drop("bytes")
    p = plan(knn_edges(meta, k=3, max_hamming=16))
    # candidate join + top-k window both present; no cartesian anywhere
    assert "Window" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # the candidate join executes as a shuffled-hash join (no sort of
    # the 9x-replicated build side; spill-capable per SPARK-32399) —
    # measured 9.8 s -> 5.1 s at 200k rows, local[32]
    assert "ShuffledHashJoin" in p


def test_exact_sim_plan_no_cartesian_no_collect(spark):
    """Block-matmul exact similarity: grouped-map over (pb, cb) block
    pairs — no CartesianProduct, no broadcast nested loop, compute in
    FlatMapGroupsInPandas (one matmul per block pair)."""
    from ariadne_spark.operators.exact_sim import exact_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    p = plan(exact_topk(emb, k=3))
    assert "FlatMapGroupsInPandas" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # final merge is the deterministic top-k window
    assert "Window" in p


def test_dedup_banded_plan_shape(spark):
    """Banded Jaccard: candidate generation joins band-exploded DISTINCT
    masks (HashAggregate before the self-join), never a per-doc
    cartesian; expansion is plain equi-joins."""
    from ariadne_spark.operators.dedup import jaccard_neardup_banded

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    masked = d.select("doc_id", "lang", entrymod._letter_mask_col().alias("mask"))
    p = plan(jaccard_neardup_banded(masked))
    assert "HashAggregate" in p  # distinct-mask representatives
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_ann_candidate_join_ships_no_vectors(spark):
    """The ANN bucket self-join must not carry the int64 query vectors;
    they join back only after pair dedup."""
    from ariadne_spark.operators.ann import ann_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    p = plan(ann_topk(emb, k=3), mode="extended")
    # in the optimized logical plan, the pair-dedup Aggregate groups on
    # (src, dst) and outputs ONLY (src, dst) — the quantized vectors
    # (transform(embedding,...)) enter the plan strictly above it
    import re

    opt = p.split("== Optimized Logical Plan ==")[1]
    assert re.search(
        r"Aggregate \[src#\d+L, dst#\d+L\], \[src#\d+L, dst#\d+L\]", opt
    ), opt
    # and the candidate (bucket) join keys no vectors: its condition
    # mentions table_id/bucket, never qa/qb
    bucket_join = [ln for ln in opt.splitlines() if "Join Inner, ((NOT" in ln]
    assert bucket_join and all("qa" not in ln and "qb" not in ln for ln in bucket_join)


def test_curate_corpus_plan_no_pairwise_join(spark, Q):
    """q41 curation: every stage is a hash groupBy (partial agg) or a
    semi/anti join on a key — no pairwise similarity join, no cartesian,
    and the documents scan prunes to the four needed columns."""
    p = plan(Q["q41_curate_corpus"](spark, SF_DIR))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "LeftSemi" in p  # canonical-per-key selection
    # scan pruned: bytes-free documents projection only
    assert "text" in p and "phash" not in p


def test_sampling_policies_plan_shape(spark, Q):
    """q42 sampling: the stratified half is scan-only column math; the
    temperature half adds only a per-lang count agg whose tiny result
    BROADCASTS back onto the scan (plus the 1-row c_min broadcast) —
    the corpus itself is never sort-merge-shuffled for a join, and no
    per-row python appears anywhere. Scans prune to (doc_id, lang,
    text)."""
    p = plan(Q["q42_sampling_policies"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p  # per-lang counts join the scan broadcast
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    read_schema = p.split("ReadSchema:")[1].split("\n")[0]
    assert "text" in read_schema and "lang" in read_schema
    assert "n_chars" not in read_schema and "phash" not in read_schema


def test_decontaminate_benchmark_side_broadcasts(spark, Q):
    """q46: the benchmark n-gram set must reach the corpus semi-join as
    a broadcast (benchmarks are tiny next to a training corpus); the
    corpus side must never appear in a cartesian/nested-loop shape."""
    p = plan(Q["q46_decontaminate"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p and "LeftSemi" in p
    assert "CartesianProduct" not in p


def test_pii_redact_plan_is_jvm_regex_scan(spark, Q):
    """q48 PII audit: regex count/redact stays JVM-side (no python
    eval), the only shuffle is the per-lang aggregate, and the scan
    prunes to (doc_id, lang, text) — no bytes/phash columns."""
    p = plan(Q["q48_pii_redact"](spark, SF_DIR))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "Join" not in p and "CartesianProduct" not in p
    n_exchanges = p.count("+- Exchange") + p.count("   Exchange")
    assert n_exchanges <= 1, p  # the per-lang aggregate only
    read_schema = p.split("ReadSchema:")[1].split("\n")[0]
    assert "text" in read_schema and "lang" in read_schema
    assert "phash" not in read_schema and "n_chars" not in read_schema


def test_pack_sequences_op_plan_single_window_shuffle(spark):
    """The pack_sequences OPERATOR alone: ONE hash-partition Exchange
    (the per-shard window) and per-partition cumulative sums — no
    join, no UDF, everything else column math."""
    from ariadne_spark.operators.curation import pack_sequences

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    words = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        + 1
    ).cast("long")
    sharded = docs.select(
        (F.col("doc_id") % 4).alias("shard"), "doc_id", words.alias("w")
    )
    p = plan(pack_sequences(sharded, F.col("w"), 512, ["shard"], "doc_id"))
    assert "Window" in p
    n_exchanges = p.count("+- Exchange") + p.count("   Exchange")
    assert n_exchanges == 1, p
    assert "Join" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_pack_entry_plan_two_windows_broadcast_join(spark, Q):
    """q49 at the fragment grain (pack_sequences JOIN pack_boundaries):
    exactly one Exchange per window branch — the per-shard windows are
    the ONLY shuffles — and the per-(window, fragment) boundary index,
    tiny next to the doc stream, joins back as a BROADCAST, never a
    sort-merge shuffle. No UDF anywhere."""
    p = plan(Q["q49_pack_sequences"](spark, SF_DIR))
    assert "Window" in p
    n_exchanges = p.count("+- Exchange") + p.count("   Exchange")
    assert n_exchanges == 2, p
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_repetition_stats_is_explode_plus_hashagg(spark, Q):
    """q47: explode + hash aggregation only — no join wider than the
    per-doc aggregates (both sides keyed by doc_id), no UDF."""
    p = plan(Q["q47_repetition_stats"](spark, SF_DIR))
    assert "Generate" in p and "explode" in p and "HashAggregate" in p
    assert "CartesianProduct" not in p and "BatchEvalPython" not in p
    assert "ArrowEvalPython" not in p


def test_chunk_docs_plan_is_shuffle_free_scan(spark):
    """RAG chunking: pure pipelined generate-over-scan — zero
    Exchanges, zero python eval, and the documents scan prunes to the
    two needed columns (doc_id, text)."""
    from ariadne_spark.operators.curation import chunk_docs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = plan(chunk_docs(docs.select("doc_id", "text"), chunk=64, stride=48))
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    read_schema = p.split("ReadSchema:")[1].split("\n")[0]
    assert "text" in read_schema and "lang" not in read_schema


def test_alignment_filter_plan_is_jvm_column_math(spark):
    """CLIP-alignment gate: the gate itself adds NO join, NO shuffle
    and NO python eval on top of the pair table — one linear pass of
    higher-order column functions."""
    from ariadne_spark.operators.curation import alignment_filter

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    pairs = emb.select(
        F.col("vec_id").alias("pair_id"),
        F.col("embedding").alias("img_vec"),
        F.col("embedding").alias("txt_vec"),
    )
    p = plan(alignment_filter(pairs))
    assert "Exchange" not in p and "Join" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_bm25_plan_broadcasts_query_side_no_cartesian(spark):
    """Sparse retrieval: the query side (term set, then (query, term)
    pairs) BROADCASTS onto the postings relation, so the only corpus
    rows that shuffle are matched postings; the single
    BroadcastNestedLoopJoin is the 1-row corpus-stats scalar. No
    CartesianProduct, no SortMergeJoin, no python eval, and the
    documents scan prunes to (doc_id, text)."""
    from ariadne_spark.operators.retrieval import bm25_topk

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    qs = docs.where(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    p = plan(bm25_topk(docs, qs, k=3, exclude_self=True))
    # formatted explain names each node twice (tree + details).
    # 4 physical BroadcastHashJoins: postings x term_set (twice — the
    # df aggregate and the candidate branch each match terms), the
    # per-term df broadcast join, and the (query, term) expansion. The
    # round-3 plan computed df with Window.partitionBy(term) instead —
    # one join fewer, but it concentrated every stopword term's whole
    # postings list on one task; the aggregate+broadcast form is the
    # skew-free plan. The single BroadcastNestedLoopJoin is the 1-row
    # corpus-stats scalar.
    assert p.count("BroadcastHashJoin") == 8
    assert p.count("BroadcastNestedLoopJoin") == 2  # 1-row stats only
    assert "CartesianProduct" not in p and "SortMergeJoin" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    read_schema = p.split("ReadSchema:")[1].split("\n")[0]
    assert "text" in read_schema and "lang" not in read_schema


def test_bucket_sums_plan_no_python_two_exchanges(spark):
    """Feature hashing's corpus accounting (q38 'hashfeat'): pure
    column math — no python eval — and exactly the token-hash-agg
    Exchange (+ the AQE final agg read); documents scan prunes to the
    text column."""
    from ariadne_spark.operators.features import bucket_sums

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = plan(bucket_sums(docs, dim=32))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    n_exchanges = p.count("+- Exchange") + p.count("   Exchange")
    assert n_exchanges <= 2, p
    read_schema = p.split("ReadSchema:")[1].split("\n")[0]
    assert "text" in read_schema and "lang" not in read_schema


def test_surprisal_plan_broadcast_total_no_python(spark):
    """Surprisal scoring: the 1-row corpus total broadcasts (never a
    shuffled join), the unigram join is an equi-join, and nothing
    drops to python."""
    from ariadne_spark.operators.curation import surprisal_score

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = plan(surprisal_score(docs))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "BroadcastNestedLoopJoin" in p  # the 1-row total
    assert "CartesianProduct" not in p


def test_export_accounting_plan_no_python(spark):
    """q22's export-byte accounting is pure column arithmetic over one
    pruned scan — the blob path (applyInPandas) is NOT in this plan."""
    from ariadne_spark.operators.export import shard_bytes_col

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    recs = docs.select(
        "lang",
        F.col("doc_id").cast("string").alias("key"),
        F.col("lang").alias("meta"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    agg = recs.groupBy("lang").agg(F.sum(shard_bytes_col()).alias("b"))
    p = plan(agg)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    n_exchanges = p.count("+- Exchange") + p.count("   Exchange")
    assert n_exchanges <= 2, p
