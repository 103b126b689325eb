"""Per-layer probes of the traced run.

Each probe calls one module's public functions from the benchmark and
times them. They run after the workload's own timed rounds, so they
never disturb its end-to-end figures; the contract queries run last
because the sf-dir table loader retunes the session's shuffle conf.
"""

from __future__ import annotations

import os
import re
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

import inputs
import oracles
from workloads import EditSession, noop

SPATIAL_QUERIES = [
    "q13_pip_bbox_deepest", "q14_knn_phash_topk", "q15_tile_pyramid",
    "q34_pip_chain", "q35_kring_counts",
]
ANALYTIC_QUERIES = [
    "q02_tpch_q1", "q04_multihop_chain", "q08_order_rank_window",
    "q18_jaccard_neardup", "q21_embedding_topk", "q31_salted_skew_join",
    "q32_sessionize",
]
QUERY_SF = "sf0.1"
BODY_SAMPLE = 48  # images per format for the per-image body timings


def _noop(df) -> float:
    t0 = time.perf_counter()
    noop(df)
    return time.perf_counter() - t0


def codec_bodies(corpus_dir: str, seed: int) -> dict[str, float]:
    """Median per-image decode time per format/path and the phash body
    time, called in the benchmark process (no Spark, no Arrow)."""
    from ariadne_spark.functions.codecs import decode_image
    from ariadne_spark.functions.phash import np_phash_from_pixels

    truth = inputs.load_truth(corpus_dir)
    raw = pq.read_table(f"{corpus_dir}/raw.parquet", columns=["bytes", "fmt"])
    rng = np.random.default_rng(seed)
    names = {
        "png": "codecs.decode_us.png", "fjpg": "codecs.decode_us.fjpg",
        "jpeg_rst": "jpeg.decode_us.restart", "jpeg": "jpeg.decode_us.norestart",
    }
    out, hash_us = {}, []
    for variant, name in names.items():
        rows = np.nonzero(truth["variant"] == inputs.VARIANTS.index(variant))[0]
        rows = rng.choice(rows, size=min(BODY_SAMPLE, len(rows)), replace=False)
        times = []
        for k in rows:
            blob, fmt = raw["bytes"][int(k)].as_py(), raw["fmt"][int(k)].as_py()
            t0 = time.perf_counter()
            px = decode_image(blob, fmt)
            t1 = time.perf_counter()
            np_phash_from_pixels(px)
            times.append((t1 - t0) * 1e6)
            hash_us.append((time.perf_counter() - t1) * 1e6)
        out[name] = statistics.median(times)
    out["phash.hash_us"] = statistics.median(hash_us)
    return out


def udf_pass(spark, raw_path: str) -> float:
    """decode+phash only, to the noop sink (the workers are warm: a
    cold_build round has run in this process before)."""
    from pyspark.sql import functions as F

    from ariadne_spark.functions.phash import phash_udf

    return _noop(spark.read.parquet(raw_path).select(phash_udf(F.col("bytes"), F.col("fmt"))))


def operator_passes(store) -> dict[str, float]:
    """Each spatial operator standalone over the built images_indexed."""
    from ariadne_spark.operators.knn import knn_edges
    from ariadne_spark.operators.pip import pip_join
    from ariadne_spark.operators.tiles import build_pyramid
    from ariadne_spark.synth.regions import generate_regions

    meta = store.read("images_indexed")
    return {
        "pip.pip_join_s": _noop(pip_join(meta, generate_regions(), deepest_only=True)),
        "knn.knn_edges_s": _noop(knn_edges(meta, k=5, max_hamming=16)),
        "tiles.build_pyramid_s": _noop(build_pyramid(meta, max_z=8)),
    }


EDIT_MASK = 0x0F0F  # flips 8 low phash bits; geometry is kept


def edit_probe(ctx, pipeline) -> EditSession:
    """On a store the run built: one untimed call of each read, one
    update of 100 images of the most populated partition, then one
    timed call of each read."""
    store = pipeline.store
    m = store.manifest("images_indexed")
    pk = max(sorted(m.partitions), key=lambda k: m.partitions[k]["n_rows"])
    cols = [c.split()[0] for c in inputs.META_SCHEMA.split(", ")]
    rows = [
        tuple(r) for r in store.read("images_indexed", keys=[pk])
        .select(*cols).orderBy("image_id").limit(100).collect()
    ]
    lon, lat = [r[2] for r in rows], [r[3] for r in rows]
    session = EditSession(ctx, pipeline, rows[0][0], [min(lon), max(lon), min(lat), max(lat)])
    for _, fn in session.read_ops():
        fn()
    session.update([(r[0], r[1] ^ EDIT_MASK) + r[2:] for r in rows], None, len(rows))
    session.reads()
    return session


def query_tables_dir(root: str) -> str:
    """The sf0.1 rung of the read-only testdata ladder (TESTDATA.md), as
    bench.py reads it: next to the sf0.01 tables on which
    tests/test_entry_contract.py checks the same queries."""
    with open(os.path.join(root, "tests", "test_entry_contract.py")) as fh:
        contract_dir = re.search(r'^SF_DIR = "(.+)"$', fh.read(), re.M).group(1)
    return os.path.join(os.path.dirname(contract_dir), QUERY_SF)


def contract_queries(spark, tables_dir: str) -> tuple[dict[str, float], list[str]]:
    """One timed pass of each query (plan + execution + transfer to
    pandas; the first in this session, so it includes plan compilation),
    then every answer against its DuckDB twin. q21 builds its two eager
    checkpoints while the plan is made; that share is reported apart.
    Returns the timings and one message per query whose answer differs."""
    import __spark_entry__ as entry

    Q, sql = entry.queries(), entry.oracle_sql()
    names = SPATIAL_QUERIES + ANALYTIC_QUERIES
    out, answers = {}, {}
    for name in names:
        t0 = time.perf_counter()
        df = Q[name](spark, tables_dir)
        t1 = time.perf_counter()
        answers[name] = df.toPandas()
        out[f"query.{name}_s"] = time.perf_counter() - t0
        if name == "q21_embedding_topk":
            out["query.q21_build_s"] = t1 - t0
    out["query.spatial_s"] = sum(out[f"query.{n}_s"] for n in SPATIAL_QUERIES)
    out["query.analytic_s"] = sum(out[f"query.{n}_s"] for n in ANALYTIC_QUERIES)
    want = oracles.duckdb_answers(tables_dir, names, sql)
    errors = []
    for name in names:
        errors += oracles.compare_frames(name, answers[name], want[name])
    return out, errors
