"""Incremental view maintenance (IVM) for SUM/COUNT aggregate views —
the classic self-maintainable-aggregate result (Gupta & Mumick,
"Maintenance of Materialized Views", IEEE DE Bulletin 1995) composed
from this store's own primitives:

    read_changes (row-level CDC)  ->  signed delta aggregation
        ->  merge_rows (copy-on-write upsert/delete on the view)

A SUM/COUNT view is self-maintainable: an insert contributes +value,
a delete -value, so the view updates from the DELTA alone — the base
table is never rescanned. `refresh_agg_view` therefore costs
O(changed partitions of base) + O(affected groups of view), whatever
the base table's total size: the steady-state maintenance cost tracks
the CHANGE RATE. Groups whose count reaches zero are deleted from the
view (merge_rows drops emptied partitions), and view partitions whose
groups are untouched are not rewritten (pinned by fingerprint in
tests).

Exactness: integer sums only — the delta arithmetic is the same
order-independent integer addition as the full recompute, so the
refreshed view is fingerprint-IDENTICAL to a cold rebuild (the test
gate), not merely approximately equal.

Double-apply safety: the base snapshot a view reflects is RECORDED in
the store's lineage log at create/refresh time; `refresh_agg_view`
defaults to that recorded baseline and REJECTS an explicit `from_sid`
that disagrees with it — re-running a refresh (or skipping one) can
therefore never silently drift the sums. The record is two-phase
(intent before the merge commit, baseline after), so even a crash
BETWEEN the merge commit and the baseline record is recovered on the
next refresh instead of double-applying the delta.

The view partitions by its group column. For high-cardinality groups,
aggregate to a bucketed group upstream (e.g. group on a derived
`bucket = mix(key) % n` column) — a partition per distinct group value
is the same contract as every `write_table(key=...)` call here.

Reference analog: ariadne's incremental re-index updates the derived
symbol tables for changed files only, keyed by the same
changed-file diff (`packages/core/src/project/incremental_update.ts`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

VIEW_COUNT_COL = "n_rows"


def _agg_exprs(sum_cols: list[str]):
    # NULL values contribute 0 on BOTH the cold-build and the delta
    # path (the delta coalesces its per-group sum the same way): plain
    # F.sum would give an all-NULL group a NULL total cold but 0
    # incrementally — the one case where "ignore NULLs" and "NULL is
    # 0" differ — and the fingerprint-identity law demands one
    # convention everywhere
    return [F.count("*").cast("long").alias(VIEW_COUNT_COL)] + [
        F.sum(F.coalesce(F.col(c), F.lit(0))).cast("long").alias(f"sum_{c}")
        for c in sum_cols
    ]


def _record_baseline(store, view: str, base_sid: int) -> None:
    store.log_lineage(f"ivm:{view}", "baseline", int(base_sid), 0, 0.0)


def _record_intent(store, view: str, base_sid: int, view_pre_sid: int) -> None:
    # two-phase refresh bookkeeping: the intent row (new base sid +
    # the view snapshot the merge starts from) lands BEFORE merge_rows
    # commits, so a crash between the merge commit and the baseline
    # record is detectable — see _recover_pending
    store.log_lineage(
        f"ivm:{view}", "intent", int(base_sid), int(view_pre_sid), 0.0
    )


def _pending_intent(store, view: str) -> dict | None:
    """The last intent row not yet followed by a baseline row."""
    last = None
    for r in store.lineage():
        if r["stage"] != f"ivm:{view}":
            continue
        if r["partition"] == "intent":
            last = r
        elif r["partition"] == "baseline":
            last = None
    return last


def _recover_pending(store, view: str) -> None:
    """Finish a refresh that crashed between its merge commit and its
    baseline record. The intent row carries (new base sid, the view
    snapshot the merge started from): snapshot ids are dense (store
    `_commit` allocates pre+1), so the ONLY view snapshot our merge
    commit can have produced is pre_sid + 1 — if the view sits exactly
    there the merge COMMITTED and only the bookkeeping was lost, and
    the baseline is recorded now so the rerun cannot double-apply the
    same delta. If the view still sits at the pre-merge snapshot the
    merge never committed and the stale intent is simply superseded.
    Any OTHER position means the view moved through something besides
    this module's merge (rollback, compaction, manual write) — the
    single-maintainer contract is broken, so the baseline is NOT
    adopted (adopting would silently skip a delta that was never
    applied) and a RuntimeError names the three snapshots involved, so
    `refresh_agg_view` refuses to run on that view."""
    pending = _pending_intent(store, view)
    if pending is None:
        return
    cur = store.current_snapshot_id(view)
    cur_i = -1 if cur is None else int(cur)
    pre = int(pending["n_rows"])
    if cur_i == pre:
        return  # merge never committed; the new refresh supersedes the intent
    if cur_i == pre + 1:
        _record_baseline(store, view, int(pending["snapshot_id"]))
        return
    raise RuntimeError(
        f"IVM view {view!r}: pending intent expected snapshot "
        f"{pre} (pre-merge) or {pre + 1} (post-merge) but the view is at "
        f"{cur_i} — the view moved outside this maintainer; refusing to "
        "adopt the crashed refresh's baseline (its delta may never have "
        "been applied). Rebuild the view with create_agg_view."
    )


def recorded_baseline(store, view: str) -> int | None:
    """The base snapshot id the view currently reflects (last recorded
    create/refresh), or None if the view was never IVM-managed."""
    sids = [
        r["snapshot_id"]
        for r in store.lineage()
        if r["stage"] == f"ivm:{view}" and r["partition"] == "baseline"
    ]
    return int(sids[-1]) if sids else None


def create_agg_view(
    store,
    base_table: str,
    view: str,
    group_col: str,
    sum_cols: list[str],
) -> int:
    """Materialize the view (group_col, n_rows, sum_<c>...) from the
    CURRENT base snapshot, partitioned by group_col, and record which
    base snapshot it reflects (the refresh baseline)."""
    base_sid = store.current_snapshot_id(base_table)
    assert base_sid is not None, f"{base_table} has no snapshot"
    base = store.read(base_table, snapshot_id=base_sid)
    agg = base.groupBy(group_col).agg(*_agg_exprs(sum_cols))
    sid = store.write_table(agg, view, key=group_col)
    _record_baseline(store, view, base_sid)
    return sid


def refresh_agg_view(
    store,
    base_table: str,
    view: str,
    group_col: str,
    sum_cols: list[str],
    from_sid: int | None = None,
    to_sid: int | None = None,
) -> int:
    """Bring the view to base snapshot `to_sid` (default current)
    using ONLY the CDC delta from the recorded baseline. An explicit
    `from_sid` must match the recorded baseline (passing anything else
    would double-apply or skip deltas and is rejected). Returns the
    view's new snapshot id (its current one when the delta is empty).

    Crash-safe: a refresh that died between its merge commit and its
    baseline record is detected and its bookkeeping completed here
    (`_recover_pending`) before the new delta is computed — re-running
    a crashed refresh never double-applies."""
    _recover_pending(store, view)
    baseline = recorded_baseline(store, view)
    assert baseline is not None, (
        f"{view} has no recorded IVM baseline (create_agg_view records it)"
    )
    if from_sid is not None:
        assert from_sid == baseline, (
            f"refresh from_sid={from_sid} but {view} reflects base "
            f"snapshot {baseline} — refreshing from anywhere else would "
            "double-apply or skip deltas"
        )
    to_res = store._resolve_sid(base_table, to_sid)
    delta = store.read_changes(base_table, baseline, to_res)
    sign = F.when(F.col("change") == "insert", F.lit(1)).otherwise(F.lit(-1))
    # localCheckpoint: the CDC exceptAll delta otherwise re-executes for
    # the emptiness probe and again inside each merge_rows job
    d = delta.groupBy(group_col).agg(
        F.sum(sign).cast("long").alias("__dn"),
        *[
            # coalesce: a delta whose values for c are ALL NULL sums to
            # NULL, and 5 + NULL would null the view's running sum —
            # a NULL value contributes 0, exactly as in a cold rebuild
            F.coalesce(F.sum(sign * F.col(c)), F.lit(0))
            .cast("long")
            .alias(f"__d_{c}")
            for c in sum_cols
        ],
    ).localCheckpoint(eager=True)
    if d.isEmpty():
        _record_baseline(store, view, to_res)
        return store.current_snapshot_id(view)
    old = store.read(view).join(
        d.select(group_col), group_col, "left_semi"
    )
    merged = (
        d.join(old, group_col, "left")
        .select(
            group_col,
            (
                F.coalesce(F.col(VIEW_COUNT_COL), F.lit(0)) + F.col("__dn")
            ).cast("long").alias(VIEW_COUNT_COL),
            *[
                (
                    F.coalesce(F.col(f"sum_{c}"), F.lit(0)) + F.col(f"__d_{c}")
                ).cast("long").alias(f"sum_{c}")
                for c in sum_cols
            ],
        )
        .localCheckpoint(eager=True)
    )
    updates = merged.where(F.col(VIEW_COUNT_COL) > 0)
    deletes = merged.where(F.col(VIEW_COUNT_COL) <= 0).select(group_col)
    pre_sid = store.current_snapshot_id(view)
    _record_intent(store, view, to_res, pre_sid if pre_sid is not None else -1)
    sid = store.merge_rows(
        updates, view, pk=group_col,
        deletes=deletes if not deletes.isEmpty() else None,
    )
    _record_baseline(store, view, to_res)
    return sid
