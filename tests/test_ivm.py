"""Incremental view maintenance: the refreshed view must be
fingerprint-IDENTICAL to a cold rebuild after any update sequence,
groups reaching zero must vanish, untouched view partitions must not
be rewritten, and an empty delta must be a no-op."""

from ariadne_spark.operators.ivm import create_agg_view, refresh_agg_view
from ariadne_spark.store import SnapshotStore


def _base(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, lang string, tokens long, chars long"
    )


def _fps(store, table):
    m = store.manifest(table)
    return {k: p["fingerprint"] for k, p in m.partitions.items()}


def test_refresh_equals_cold_rebuild(spark, tmp_path):
    st = SnapshotStore(spark, str(tmp_path / "s"))
    rows = [(i, ["en", "de", "fr"][i % 3], 10 + i, 50 + 2 * i) for i in range(60)]
    b0 = st.write_table(_base(spark, rows), "base", key="lang")
    create_agg_view(st, "base", "v", "lang", ["tokens", "chars"])

    # update 2 rows, insert 2 (one in a NEW group), delete 3
    ups = _base(
        spark,
        [
            (3, "en", 999, 1),       # en: tokens 13 -> 999, chars 56 -> 1
            (4, "de", 0, 0),         # de: zeroed
            (100, "zh", 7, 8),       # brand-new group
            (101, "fr", 1, 1),
        ],
    )
    dels = spark.createDataFrame([(6,), (9,), (12,)], "doc_id long")
    b1 = st.merge_rows(ups, "base", pk="doc_id", deletes=dels)
    refresh_agg_view(st, "base", "v", "lang", ["tokens", "chars"], from_sid=b0)

    st2 = SnapshotStore(spark, str(tmp_path / "cold"))
    st2.write_table(st.read("base", snapshot_id=b1), "base", key="lang")
    create_agg_view(st2, "base", "v", "lang", ["tokens", "chars"])
    assert _fps(st, "v") == _fps(st2, "v")
    got = {r["lang"]: (r["n_rows"], r["sum_tokens"]) for r in st.read("v").collect()}
    assert got["zh"] == (1, 7)


def test_refresh_deletes_emptied_group_and_skips_untouched(spark, tmp_path):
    st = SnapshotStore(spark, str(tmp_path / "s"))
    rows = [(1, "en", 5, 5), (2, "en", 6, 6), (3, "zh", 7, 7), (4, "fr", 8, 8)]
    b0 = st.write_table(_base(spark, rows), "base", key="lang")
    create_agg_view(st, "base", "v", "lang", ["tokens", "chars"])
    before = _fps(st, "v")

    # delete zh's only row; en/fr untouched
    dels = spark.createDataFrame([(3,)], "doc_id long")
    st.merge_rows(_base(spark, []), "base", pk="doc_id", deletes=dels)
    refresh_agg_view(st, "base", "v", "lang", ["tokens", "chars"], from_sid=b0)
    after = _fps(st, "v")
    assert "zh" not in after                       # emptied group vanished
    assert after["en"] == before["en"]             # untouched partitions
    assert after["fr"] == before["fr"]             # ... not rewritten


def test_refresh_empty_delta_is_noop(spark, tmp_path):
    st = SnapshotStore(spark, str(tmp_path / "s"))
    b0 = st.write_table(
        _base(spark, [(1, "en", 5, 5)]), "base", key="lang"
    )
    create_agg_view(st, "base", "v", "lang", ["tokens"])
    sid = st.current_snapshot_id("v")
    got = refresh_agg_view(st, "base", "v", "lang", ["tokens"], from_sid=b0)
    assert got == sid and st.current_snapshot_id("v") == sid


def test_refresh_rejects_stale_baseline_and_double_refresh_safe(spark, tmp_path):
    """The recorded baseline makes double-apply impossible: a second
    refresh is an empty-delta no-op (baseline advanced), and an
    explicit from_sid that disagrees with the record is rejected."""
    import pytest

    st = SnapshotStore(spark, str(tmp_path / "s"))
    b0 = st.write_table(
        _base(spark, [(1, "en", 5, 5), (2, "de", 6, 6)]), "base", key="lang"
    )
    create_agg_view(st, "base", "v", "lang", ["tokens"])
    ups = _base(spark, [(1, "en", 50, 5)])
    st.merge_rows(ups, "base", pk="doc_id")
    refresh_agg_view(st, "base", "v", "lang", ["tokens"])
    fps1 = _fps(st, "v")
    # second refresh: delta already applied -> no-op, sums unchanged
    refresh_agg_view(st, "base", "v", "lang", ["tokens"])
    assert _fps(st, "v") == fps1
    got = {r["lang"]: r["sum_tokens"] for r in st.read("v").collect()}
    assert got == {"en": 50, "de": 6}
    # a stale explicit from_sid is rejected, not silently applied
    with pytest.raises(AssertionError, match="double-apply"):
        refresh_agg_view(st, "base", "v", "lang", ["tokens"], from_sid=b0)


def test_refresh_crash_between_merge_and_baseline_recovers(spark, tmp_path):
    """Crash injected AFTER merge_rows commits but BEFORE the baseline
    record lands: the view reflects the new base, but lineage still
    names the old baseline. The next refresh must detect this via the
    intent row and complete the bookkeeping instead of re-applying the
    same delta (silent double-count)."""
    import pytest

    from ariadne_spark.operators import ivm as ivm_mod

    st = SnapshotStore(spark, str(tmp_path / "s"))
    st.write_table(
        _base(spark, [(1, "en", 5, 5), (2, "de", 6, 6)]), "base", key="lang"
    )
    create_agg_view(st, "base", "v", "lang", ["tokens"])
    st.merge_rows(_base(spark, [(1, "en", 50, 5)]), "base", pk="doc_id")

    real = ivm_mod._record_baseline
    calls = {"n": 0}

    def dying(store, view, sid):
        calls["n"] += 1
        raise RuntimeError("injected crash before baseline record")

    ivm_mod._record_baseline = dying
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            refresh_agg_view(st, "base", "v", "lang", ["tokens"])
    finally:
        ivm_mod._record_baseline = real
    assert calls["n"] == 1
    # the merge itself committed: the view already holds the new sums
    got = {r["lang"]: r["sum_tokens"] for r in st.read("v").collect()}
    assert got == {"en": 50, "de": 6}

    # rerun — the docstring's promised recovery action. Without the
    # intent/recover protocol this re-applies the +45 delta (en -> 95).
    refresh_agg_view(st, "base", "v", "lang", ["tokens"])
    got = {r["lang"]: r["sum_tokens"] for r in st.read("v").collect()}
    assert got == {"en": 50, "de": 6}

    # and the view equals a cold rebuild, fingerprint-identically
    st2 = SnapshotStore(spark, str(tmp_path / "cold"))
    st2.write_table(st.read("base"), "base", key="lang")
    create_agg_view(st2, "base", "v", "lang", ["tokens"])
    assert _fps(st, "v") == _fps(st2, "v")


def test_refresh_crash_before_merge_leaves_stale_intent_harmless(spark, tmp_path):
    """Crash injected INSIDE merge_rows (intent logged, nothing
    committed): the stale intent must not trick recovery into skipping
    the delta — the rerun applies it exactly once."""
    import pytest

    st = SnapshotStore(spark, str(tmp_path / "s"))
    st.write_table(
        _base(spark, [(1, "en", 5, 5), (2, "de", 6, 6)]), "base", key="lang"
    )
    create_agg_view(st, "base", "v", "lang", ["tokens"])
    st.merge_rows(_base(spark, [(1, "en", 50, 5)]), "base", pk="doc_id")

    real_merge = st.merge_rows

    def dying_merge(*a, **k):
        st.merge_rows = real_merge
        raise RuntimeError("injected crash before merge commit")

    st.merge_rows = dying_merge
    with pytest.raises(RuntimeError, match="injected crash"):
        refresh_agg_view(st, "base", "v", "lang", ["tokens"])
    # nothing committed; sums still old
    got = {r["lang"]: r["sum_tokens"] for r in st.read("v").collect()}
    assert got == {"en": 5, "de": 6}

    refresh_agg_view(st, "base", "v", "lang", ["tokens"])
    got = {r["lang"]: r["sum_tokens"] for r in st.read("v").collect()}
    assert got == {"en": 50, "de": 6}


def test_refresh_null_values_match_cold_rebuild(spark, tmp_path):
    """NULL sum-column values: a delta whose values for c are all NULL
    must not null the view's running sum (5 + NULL), and an all-NULL
    new group must land identically to a cold rebuild — one NULL-is-0
    convention on both paths, fingerprint-pinned."""
    st = SnapshotStore(spark, str(tmp_path / "s"))
    st.write_table(
        spark.createDataFrame(
            [(1, "en", 5, 5), (2, "de", 6, 6)],
            "doc_id long, lang string, tokens long, chars long",
        ),
        "base",
        key="lang",
    )
    create_agg_view(st, "base", "v", "lang", ["tokens"])
    # insert a NULL-valued row into en (delta for en sums to NULL
    # without the coalesce) and a brand-new all-NULL group zh
    ups = spark.createDataFrame(
        [(10, "en", None, 1), (11, "zh", None, 1)],
        "doc_id long, lang string, tokens long, chars long",
    )
    st.merge_rows(ups, "base", pk="doc_id")
    refresh_agg_view(st, "base", "v", "lang", ["tokens"])
    got = {r["lang"]: (r["n_rows"], r["sum_tokens"]) for r in st.read("v").collect()}
    assert got["en"] == (2, 5) and got["zh"] == (1, 0)

    st2 = SnapshotStore(spark, str(tmp_path / "cold"))
    st2.write_table(st.read("base"), "base", key="lang")
    create_agg_view(st2, "base", "v", "lang", ["tokens"])
    assert _fps(st, "v") == _fps(st2, "v")

    # deleting the NULL row refreshes back without disturbing en's sum
    st.merge_rows(
        spark.createDataFrame([], "doc_id long, lang string, tokens long, chars long"),
        "base", pk="doc_id",
        deletes=spark.createDataFrame([(10,)], "doc_id long"),
    )
    refresh_agg_view(st, "base", "v", "lang", ["tokens"])
    got = {r["lang"]: r["sum_tokens"] for r in st.read("v").collect()}
    assert got["en"] == 5


def test_recover_refuses_foreign_view_movement(spark, tmp_path):
    """A pending intent whose view moved to NEITHER pre_sid NOR
    pre_sid+1 (rollback/compaction/manual write after a pre-baseline
    crash) must NOT be adopted as 'merge committed' — the old inference
    (any movement == committed) would record a baseline for a delta
    that was never applied. The recovery raises instead, so a refresh
    refuses to run on that view."""
    import pytest

    from ariadne_spark.operators import ivm as ivm_mod

    st = SnapshotStore(spark, str(tmp_path / "s"))
    st.write_table(
        _base(spark, [(1, "en", 5, 5), (2, "de", 6, 6)]), "base", key="lang"
    )
    create_agg_view(st, "base", "v", "lang", ["tokens"])
    st.merge_rows(_base(spark, [(1, "en", 50, 5)]), "base", pk="doc_id")

    # crash BEFORE the merge commits (stale intent, view unmoved)...
    real_merge = st.merge_rows

    def dying_merge(*a, **k):
        st.merge_rows = real_merge
        raise RuntimeError("injected crash before merge commit")

    st.merge_rows = dying_merge
    with pytest.raises(RuntimeError, match="injected crash"):
        refresh_agg_view(st, "base", "v", "lang", ["tokens"])

    # ...then the view moves TWICE through a foreign writer (two manual
    # re-snapshots), so cur == pre+2: recovery and refresh must refuse
    v = st.read("v")
    st.write_table(v, "v", key="lang")
    st.write_table(v, "v", key="lang")
    with pytest.raises(RuntimeError, match="outside this maintainer"):
        ivm_mod._recover_pending(st, "v")
    with pytest.raises(RuntimeError, match="outside this maintainer"):
        refresh_agg_view(st, "base", "v", "lang", ["tokens"])
    # and no baseline was recorded for the never-applied delta
    from ariadne_spark.operators.ivm import recorded_baseline

    assert recorded_baseline(st, "v") == 0  # still the create-time baseline
