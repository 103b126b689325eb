"""Query-surface tests (list_orphans / neighborhood / stats) against a
pure-python BFS oracle over the same edge list — exact assertions only,
mirroring the reference's MCP tool tests."""

from __future__ import annotations

import random
from collections import deque

import pytest
from pyspark.sql import functions as F

from ariadne_spark.api import (
    MAX_NEIGHBORHOOD_DEPTH,
    list_orphans,
    neighborhood,
    reach_counts,
    stats,
)
from ariadne_spark.operators.knn import knn_edges


@pytest.fixture(scope="module")
def edges(spark, images_df):
    return knn_edges(images_df.drop("bytes"), k=3, max_hamming=20).persist()


@pytest.fixture(scope="module")
def edge_list(edges):
    return [(r["src_image_id"], r["dst_image_id"]) for r in edges.collect()]


def _bfs(adj, start, depth):
    seen = {start: 0}
    q = deque([(start, 0)])
    while q:
        node, d = q.popleft()
        if d == depth:
            continue
        for nxt in adj.get(node, ()):
            if nxt not in seen:
                seen[nxt] = d + 1
                q.append((nxt, d + 1))
    seen.pop(start)
    return seen


def test_orphans_exact(images_df, edges, edge_list):
    dsts = {d for _, d in edge_list}
    all_ids = {r["image_id"] for r in images_df.select("image_id").collect()}
    expected = all_ids - dsts
    got = {r["image_id"] for r in list_orphans(images_df, edges, with_reach=False).collect()}
    assert got == expected


def test_reach_counts_match_bfs_oracle(images_df, edges, edge_list):
    adj: dict[str, list[str]] = {}
    for s, d in edge_list:
        adj.setdefault(s, []).append(d)
    roots_df = list_orphans(images_df, edges, with_reach=False).limit(50)
    roots = [r["image_id"] for r in roots_df.collect()]
    got = {
        r["root"]: r["n_reachable"]
        for r in reach_counts(edges, roots_df, max_depth=10).collect()
    }
    for root in roots:
        assert got[root] == len(_bfs(adj, root, 10)), root


def test_neighborhood_matches_bfs_oracle(spark, edges, edge_list):
    """The kNN fixture graph is shallow (no path longer than 2 hops), so
    every depth and direction also runs on a seeded random digraph of
    out-degree 2, where paths of several lengths and cycles reach past
    depth 8 from the focus."""
    rng = random.Random(7)
    ids = [f"n{i:03d}" for i in range(300)]
    deep = sorted({(a, rng.choice(ids)) for a in ids for _ in range(2)} - {(a, a) for a in ids})
    deep_df = spark.createDataFrame(deep, "src_image_id string, dst_image_id string")
    cases = [(edges, edge_list, edge_list[0][0], 3, "both")] + [
        (deep_df, deep, ids[0], depth, direction)
        for depth in (1, 2, 3, MAX_NEIGHBORHOOD_DEPTH)
        for direction in ("out", "in", "both")
    ]
    for df, pairs, focus, depth, direction in cases:
        adj = {"out": {}, "in": {}}
        for s, d in pairs:
            adj["out"].setdefault(s, []).append(d)
            adj["in"].setdefault(d, []).append(s)
        got = neighborhood(df, focus, depth=depth, direction=direction).collect()
        for dname in ("out", "in"):
            want = _bfs(adj[dname], focus, depth) if direction in (dname, "both") else {}
            assert {
                r["image_id"]: r["min_depth"] for r in got if r["direction"] == dname
            } == want, (focus, depth, direction, dname)


def test_neighborhood_builds_without_spark_jobs(spark, edges, edge_list):
    """The traversal is one lazy plan: building it runs no job (no
    per-hop checkpoint or emptiness probe); only the collect does."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    neighborhood(edges, edge_list[0][0], depth=MAX_NEIGHBORHOOD_DEPTH)
    assert set(tracker.getJobIdsForGroup(None)) == before


def test_neighborhood_rejects_depth_and_direction_out_of_range(edges):
    for depth in (0, MAX_NEIGHBORHOOD_DEPTH + 1):
        with pytest.raises(ValueError, match="depth"):
            neighborhood(edges, "img_a", depth=depth)
    with pytest.raises(ValueError, match="direction"):
        neighborhood(edges, "img_a", direction="sideways")


def test_stats_counts(images_df, edges):
    row = stats(images_df, edges=edges).collect()[0]
    assert row["n_images"] == images_df.count()
    assert row["n_knn_edges"] == edges.count()
    assert (
        row["n_linked_images"]
        == edges.select("src_image_id").distinct().count()
    )


def test_orphan_ranking_deterministic(images_df, edges):
    top = list_orphans(images_df, edges, max_depth=5).limit(10).collect()
    reaches = [r["n_reachable"] for r in top]
    assert reaches == sorted(reaches, reverse=True)
    # ties broken by id ascending
    for a, b in zip(top, top[1:]):
        if a["n_reachable"] == b["n_reachable"]:
            assert a["image_id"] < b["image_id"]


def test_list_orphans_excludes_framework_and_holdout(spark, images_df, edges, edge_list):
    """P4/P5 exclusion filters against the python oracle: same orphan
    set minus rows matching the holdout-caption / round-id predicates."""
    from ariadne_spark.functions import filters

    rows = images_df.select("image_id", "caption", "fmt").collect()
    dsts = {d for _, d in edge_list}
    base_orphans = {r["image_id"] for r in rows} - dsts
    markers = filters.HOLDOUT_CAPTION_MARKERS

    def holdout(r):
        m = markers.get(r["fmt"])
        return m is not None and m in r["caption"]

    def framework(r):
        return int(r["image_id"].split("_")[-1]) % filters.FRAMEWORK_ID_MOD == 0

    by_id = {r["image_id"]: r for r in rows}
    want = {
        i for i in base_orphans
        if not holdout(by_id[i]) and not framework(by_id[i])
    }
    got = {
        r["image_id"]
        for r in list_orphans(
            images_df, edges, with_reach=False,
            exclude_holdout=True, exclude_framework=True,
        ).collect()
    }
    assert got == want
    # both filters must actually bite on the fixture
    assert any(holdout(by_id[i]) or framework(by_id[i]) for i in base_orphans)


def test_query_stats_counts_recorded_calls(spark, tmp_path):
    from ariadne_spark.api import query_stats, record_query
    from ariadne_spark.store import SnapshotStore

    store = SnapshotStore(spark, str(tmp_path / "qs"))
    assert query_stats(store).collect() == []
    for tool in ["list_orphans", "stats", "list_orphans", "neighborhood"]:
        record_query(store, tool)
    rows = [(r["tool"], r["n_calls"]) for r in query_stats(store).collect()]
    assert rows == [("list_orphans", 2), ("neighborhood", 1), ("stats", 1)]


def test_filter_entry_points_documents(spark):
    """The documents-table composite (q39's engine side) against a
    pure-python re-implementation."""
    from ariadne_spark.functions import filters

    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    got = {
        r["doc_id"]
        for r in filters.filter_entry_points(
            d.select("doc_id", "text", "lang")
        ).collect()
    }
    want = set()
    for r in d.select("doc_id", "text", "lang").collect():
        m = filters.HOLDOUT_TEXT_MARKERS.get(r["lang"])
        hold = m is not None and m in r["text"]
        fw = r["doc_id"] % filters.FRAMEWORK_ID_MOD == 0
        if not hold and not fw:
            want.add(r["doc_id"])
    assert got == want and 0 < len(want) < d.count()


# ---------------------------------------------------------------------------
# report edge: tree-text formatting + fuzzy ref matching
# ---------------------------------------------------------------------------


def test_ids_match_suffix_boundary():
    """paths_match analog (`show_call_graph_neighborhood.ts:117-134`):
    suffix matches only at id boundaries."""
    from ariadne_spark.api import ids_match

    assert ids_match("img_00000123", "img_00000123")       # exact
    assert ids_match("123", "img_00000123")                # zero-pad boundary
    assert ids_match("00000123", "img_00000123")           # separator boundary
    assert not ids_match("123", "img_00001123")            # mid-number
    assert not ids_match("23", "img_00000123")             # mid-number
    assert not ids_match("0123", "img_00000123")           # ambiguous pad
    assert not ids_match("", "img_00000123")
    assert not ids_match("999", "img_00000123")


def test_find_image_fuzzy(spark, images_df):
    from ariadne_spark.api import find_image

    meta = images_df.select("image_id")
    some = meta.orderBy("image_id").first()["image_id"]  # img_00000000
    assert find_image(meta, some) == some
    assert find_image(meta, "17") == "img_00000017"
    with pytest.raises(KeyError, match="no image"):
        find_image(meta, "img_zzz")


def test_format_orphans_snapshot(spark):
    """Exact tree-text snapshot (≅ list_entrypoints.ts:203-235 render)."""
    from ariadne_spark.api import format_orphans

    df = spark.createDataFrame(
        [("img_b", 5), ("img_a", 5), ("img_c", 2)],
        "image_id string, n_reachable long",
    )
    assert format_orphans(df, limit=2) == (
        "Orphan images (2 of 3, by transitive reach)\n"
        "├─ img_a  (reach: 5)\n"
        "└─ img_b  (reach: 5)"
    )


def test_format_neighborhood_snapshot(spark):
    """Exact two-directional tree snapshot
    (≅ show_call_graph_neighborhood.ts render)."""
    from ariadne_spark.api import format_neighborhood

    df = spark.createDataFrame(
        [("img_x", 1, "out"), ("img_y", 2, "out"), ("img_z", 1, "in")],
        "image_id string, min_depth long, direction string",
    )
    assert format_neighborhood(df, "img_f") == (
        "img_f\n"
        "├─ linked-from (callers)\n"
        "│  └─ img_z  (depth 1)\n"
        "└─ links-to (callees)\n"
        "   ├─ img_x  (depth 1)\n"
        "   └─ · img_y  (depth 2)"
    )
    # the tool server passes the requested depth through; it titles
    # the focus line (previously accepted and silently ignored)
    assert format_neighborhood(df, "img_f", depth=2).splitlines()[0] == (
        "img_f  (depth <= 2)"
    )


def test_format_neighborhood_end_to_end(spark, images_df, edges):
    """The composed tool path: fuzzy ref -> neighborhood -> formatted
    text, all nodes present exactly once."""
    from ariadne_spark.api import find_image, format_neighborhood

    # '0' would need a pad boundary but itself starts with a pad zero
    # (rejected as ambiguous); the full digit run matches via the '_'
    focus = find_image(images_df, "00000000")  # img_00000000
    nb = neighborhood(edges, focus, depth=2)
    text = format_neighborhood(nb, focus)
    assert text.splitlines()[0] == focus
    for r in nb.collect():
        assert r["image_id"] in text


# --------------------------------------------------------------- pagerank

def _pr_py(edge_list, n_iters=10, damping_micro=850_000):
    UNIT = 10**12
    nodes = sorted({a for a, _ in edge_list} | {b for _, b in edge_list})
    n = len(nodes)
    outdeg = {}
    for a, _ in edge_list:
        outdeg[a] = outdeg.get(a, 0) + 1
    base = (UNIT * (10**6 - damping_micro)) // 10**6 // n
    p = {v: UNIT // n for v in nodes}
    for _ in range(n_iters):
        out = {v: (p[v] * damping_micro) // 10**6 for v in nodes}
        dangling = sum(out[v] for v in nodes if outdeg.get(v, 0) == 0)
        dshare = dangling // n
        inflow = {v: 0 for v in nodes}
        for a, b in edge_list:
            inflow[b] += out[a] // outdeg[a]
        p = {v: base + dshare + inflow[v] for v in nodes}
    return p


def test_pagerank_matches_python_oracle(spark):
    from ariadne_spark.api import pagerank

    # cycle + hub + dangling sink
    edge_list = [
        ("a", "b"), ("b", "c"), ("c", "a"),          # 3-cycle
        ("a", "hub"), ("b", "hub"), ("c", "hub"),    # everyone cites hub
        ("hub", "sink"),                             # sink dangles
    ]
    edges = spark.createDataFrame(
        edge_list, "src_image_id string, dst_image_id string"
    )
    exp = _pr_py(edge_list)
    got = {r["node"]: r["rank_pp"] for r in pagerank(edges, n_iters=10).collect()}
    assert got == exp
    # centrality sanity: the hub outranks the cycle members
    assert got["hub"] > got["a"]
    # mass conservation up to floor dust
    assert 0 < sum(got.values()) <= 10**12


def test_pagerank_parallelism_invariant(spark):
    from ariadne_spark.api import pagerank

    edge_list = [(f"n{i}", f"n{(i * 3 + 1) % 40}") for i in range(40)]
    edge_list += [(f"n{i}", "star") for i in range(0, 40, 4)]
    edges = spark.createDataFrame(
        edge_list, "src_image_id string, dst_image_id string"
    )
    a = {r["node"]: r["rank_pp"] for r in pagerank(edges, n_iters=6).collect()}
    b = {
        r["node"]: r["rank_pp"]
        for r in pagerank(edges.repartition(9), n_iters=6).collect()
    }
    assert a == b
    assert a == _pr_py(edge_list, n_iters=6)


def test_pagerank_exact_at_high_mass(spark):
    """2-node graph: each node holds half the mass, so p*damping far
    exceeds 2^53 — the regime where float-trick division goes off by
    one. Integer `div` must match the python oracle exactly."""
    from ariadne_spark.api import pagerank

    edge_list = [("a", "b"), ("b", "a")]
    edges = spark.createDataFrame(
        edge_list, "src_image_id string, dst_image_id string"
    )
    got = {r["node"]: r["rank_pp"] for r in pagerank(edges, n_iters=12).collect()}
    assert got == _pr_py(edge_list, n_iters=12)


def test_corpus_card_snapshot(spark):
    """Deterministic dataset card: exact string across runs, with
    every composition/dup/gate/PII number integer-derived."""
    from ariadne_spark.api import corpus_card

    texts = [
        (0, "en", "a plain document with several ordinary words inside"),
        (1, "en", "another plain document with different ordinary words"),
        (2, "de", "ein anderes dokument mit ganz anderen worten hier"),
        (3, "en", "a plain document with several ordinary words inside"),  # dup
        (4, "fr", "please contact alice@example.com about the seven distinct matters listed here"),  # pii
        (5, "de", "spam spam spam spam spam spam spam spam"),              # rep
    ]
    docs = spark.createDataFrame(texts, "doc_id long, lang string, text string")
    card = corpus_card(docs)
    assert card == corpus_card(docs.repartition(5))  # deterministic
    assert "Documents: 6" in card
    assert "Exact-duplicate rows (md5): 1 (166 permille)" in card
    assert "Documents with PII matches: 1 (166 permille)" in card
    assert "Repetitive (Gopher gate): 1 (166 permille)" in card
    assert "| en | 3 | 500 |" in card
    assert card.startswith("# Dataset card\n")


def test_corpus_card_custom_columns(spark):
    """text_col/lang_col/id_col propagate everywhere — incl. the
    repetition gate, which previously hard-required text/doc_id."""
    from ariadne_spark.api import corpus_card

    docs = spark.createDataFrame(
        [
            (0, "en", "several plain ordinary words in one body here"),
            (1, "de", "spam spam spam spam spam spam spam spam"),
        ],
        "k long, sprache string, body string",
    )
    card = corpus_card(docs, text_col="body", lang_col="sprache", id_col="k")
    assert "Documents: 2" in card
    assert "Repetitive (Gopher gate): 1 (500 permille)" in card
    assert "| de | 1 | 500 |" in card


def test_find_image_boundary_predicate_in_engine(spark):
    """The candidate filter runs the real boundary predicate in-engine:
    50+ ids that merely END with the ref must not crowd the unique
    zero-pad boundary match out of the capped candidate set (the old
    endswith + limit(50) raised a false 'no image matches')."""
    from ariadne_spark.api import find_image

    decoys = [f"img_aa{chr(97 + i // 26)}{chr(97 + i % 26)}123" for i in range(60)]
    ids = decoys + ["img_00000123"]
    df = spark.createDataFrame([(i,) for i in ids], "image_id string")
    assert find_image(df, "123") == "img_00000123"
    # separator boundary (no padding zeros) still resolves
    df2 = spark.createDataFrame(
        [("img_a-123",), ("unrelated",)], "image_id string"
    )
    assert find_image(df2, "123") == "img_a-123"
    # exact match still wins immediately
    assert find_image(df, "img_00000123") == "img_00000123"
