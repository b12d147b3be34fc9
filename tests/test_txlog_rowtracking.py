"""Row-tracking gates: stable row ids across every physical rewrite
the tx log performs, id-range disjointness under CAS races, and the
loud-error contract for untracked files.

The invariant under test (Delta row tracking's rule): an id assigned at
append time is POSITIONAL (manifest base + ``_metadata.row_index``,
zero stored bytes) until the first rewrite of its file, at which point
it is MATERIALIZED as a physical ``_rid`` column — so deletion-vector
masks applied during compaction (which shift physical positions) can
never change what a reader sees.
"""

from __future__ import annotations

import tempfile

import pytest

from pulsar_project_spark.sources.txlog import (
    tx_append,
    tx_compact,
    tx_delete_range_dv,
    tx_init,
    tx_read_tracked,
    tx_snapshot,
)


@pytest.fixture()
def table(spark):
    path = tempfile.mkdtemp(prefix="txrid_")
    tx_init(path, row_tracking=True)
    return path


def _mk(spark, lo, hi):
    # one sorted partition: file position == rank by id
    return (spark.range(lo, hi).selectExpr("id AS k", "id * 3 AS v")
            .repartition(1).sortWithinPartitions("k"))


def _ids(spark, table, version=None):
    rows = tx_read_tracked(spark, table, version).select("_rid", "k").collect()
    return {r["k"]: r["_rid"] for r in rows}


def test_append_assigns_contiguous_positional_ids(spark, table):
    tx_append(_mk(spark, 0, 5), table)
    tx_append(_mk(spark, 10, 15), table)
    ids = _ids(spark, table)
    assert [ids[k] for k in range(0, 5)] == [0, 1, 2, 3, 4]
    assert [ids[k] for k in range(10, 15)] == [5, 6, 7, 8, 9]
    snap = tx_snapshot(table)
    assert snap["row_hwm"] == 10
    assert sorted(snap["rids"].values()) == [0, 5]


def test_dv_delete_keeps_survivor_ids(spark, table):
    tx_append(_mk(spark, 0, 10), table)
    before = _ids(spark, table)
    tx_delete_range_dv(spark, table, "k", 3, 6)
    after = _ids(spark, table)
    assert set(after) == {0, 1, 2, 7, 8, 9}
    assert all(after[k] == before[k] for k in after)


def test_compaction_materializes_ids_with_gaps(spark, table):
    tx_append(_mk(spark, 0, 6), table)
    tx_append(_mk(spark, 6, 12), table)
    tx_delete_range_dv(spark, table, "k", 4, 8)  # middle of both files
    before = _ids(spark, table)
    v = tx_compact(spark, table, target_bytes=1 << 30)
    snap = tx_snapshot(table, v)
    assert len(snap["files"]) == 1
    # the produced file's ids are materialized, not positional
    assert snap["rids"] == {snap["files"][0]: None}
    assert snap["row_hwm"] == 12  # hwm survives the rewrite
    after = _ids(spark, table)
    assert after == before  # gaps where 4..8 were — NOT re-closed
    assert sorted(after.values()) == [0, 1, 2, 3, 9, 10, 11]


def test_ids_never_reused_after_delete_and_compact(spark, table):
    tx_append(_mk(spark, 0, 5), table)
    tx_delete_range_dv(spark, table, "k", 0, 4)  # delete everything
    tx_compact(spark, table, target_bytes=1 << 30)
    tx_append(_mk(spark, 100, 103), table)
    ids = _ids(spark, table)
    # fresh rows continue from the hwm — deleted ids 0..4 stay retired
    assert sorted(ids.values()) == [5, 6, 7]


def test_time_travel_reads_old_positional_generation(spark, table):
    tx_append(_mk(spark, 0, 6), table)
    v1 = tx_snapshot(table)["version"]
    tx_delete_range_dv(spark, table, "k", 1, 2)
    tx_compact(spark, table, target_bytes=1 << 30)
    # the pinned old snapshot still computes ids positionally
    old = _ids(spark, table, version=v1)
    assert old == {k: k for k in range(6)}
    new = _ids(spark, table)
    assert new == {0: 0, 3: 3, 4: 4, 5: 5}


def test_untracked_file_raises_loudly(spark, table):
    """Tracking is table state: a plain append on a tracked table mints
    ids. A file that still lacks them (only a commit that bypasses the
    append path can produce one) makes the tracked read fail loudly."""
    from pulsar_project_spark.sources import txlog as t

    tx_append(_mk(spark, 0, 3), table)
    tx_append(spark.range(3, 5).selectExpr("id AS k", "id AS v"), table)
    assert sorted(_ids(spark, table).values()) == list(range(5))
    assert tx_snapshot(table)["row_hwm"] == 5

    stray = t._stage_dataframe(_mk(spark, 10, 12), table, n_files=1)
    snap = tx_snapshot(table)
    t._commit(table, snap, snap["files"] + stray, op="append")
    with pytest.raises(ValueError, match="row-tracking metadata"):
        tx_read_tracked(spark, table).collect()


def test_racing_tracked_appends_get_disjoint_ranges(spark, table):
    """Simulate the CAS race: both writers stage against the same
    snapshot; the loser's retry must re-read the winner's hwm."""
    from pulsar_project_spark.sources import txlog as t

    # writer A commits first; writer B's first CAS attempt loses and
    # retries against A's snapshot (the append loop re-reads the hwm
    # inside the loop, so this is exercised by just running them
    # back-to-back plus forcing a conflict via a pre-claimed version)
    tx_append(_mk(spark, 0, 4), table)
    snap = tx_snapshot(table)
    # claim the next version out from under a tracked append
    t._commit(table, snap, snap["files"], op="noop")
    tx_append(_mk(spark, 10, 14), table)
    ids = _ids(spark, table)
    assert sorted(ids.values()) == list(range(8))
    assert tx_snapshot(table)["row_hwm"] == 8


def test_mixed_positional_and_materialized_generations(spark, table):
    tx_append(_mk(spark, 0, 4), table)
    tx_compact(spark, table, target_bytes=1)  # no-op: single file
    tx_append(_mk(spark, 10, 14), table)
    tx_append(_mk(spark, 20, 24), table)
    tx_delete_range_dv(spark, table, "k", 10, 11)
    tx_compact(spark, table, target_bytes=1 << 30)
    tx_append(_mk(spark, 30, 34), table)  # positional atop materialized
    ids = _ids(spark, table)
    assert {k: ids[k] for k in range(0, 4)} == {0: 0, 1: 1, 2: 2, 3: 3}
    assert {k: ids[k] for k in (12, 13)} == {12: 6, 13: 7}
    assert {k: ids[k] for k in range(30, 34)} == {30: 12, 31: 13, 32: 14, 33: 15}


def test_cow_delete_preserves_survivor_ids(spark, table):
    from pulsar_project_spark.sources.txlog import tx_delete_range

    tx_append(_mk(spark, 0, 10), table)
    before = _ids(spark, table)
    tx_delete_range(spark, table, "k", 3, 6)  # COW rewrite, not DV
    after = _ids(spark, table)
    assert set(after) == {0, 1, 2, 7, 8, 9}
    assert all(after[k] == before[k] for k in after)
    snap = tx_snapshot(table)
    # the rewrite materialized the survivors' ids
    assert set(snap["rids"]) == set(snap["files"])
    assert list(snap["rids"].values()) == [None] * len(snap["files"])


def test_cow_update_keeps_row_identity(spark, table):
    from pulsar_project_spark.sources.txlog import tx_read_tracked, tx_update

    tx_append(_mk(spark, 0, 8), table)
    before = _ids(spark, table)
    tx_update(spark, table, "k", 2, 5, {"v": "v * 100"})
    rows = tx_read_tracked(spark, table).select("_rid", "k", "v").collect()
    after = {r["k"]: r["_rid"] for r in rows}
    vals = {r["k"]: r["v"] for r in rows}
    assert after == before  # same rows, same ids — updated in place
    assert vals == {k: (k * 300 if 2 <= k <= 5 else k * 3) for k in range(8)}


def test_update_cannot_set_the_id_column(spark, table):
    from pulsar_project_spark.sources.txlog import tx_update

    tx_append(_mk(spark, 0, 4), table)
    with pytest.raises(ValueError, match="managed by row tracking"):
        tx_update(spark, table, "k", 0, 3, {"_rid": "_rid + 1000"})


def test_tracked_append_records_prunable_stats(spark, table):
    from pulsar_project_spark.sources.txlog import tx_read_pruned

    tx_append(_mk(spark, 0, 10), table, stat_cols=["k"])
    tx_append(_mk(spark, 100, 110), table, stat_cols=["k"])
    snap = tx_snapshot(table)
    assert all("k" in s for s in snap["stats"].values())
    pruned, n_read, n_total = tx_read_pruned(spark, table, "k", 0, 9)
    assert (n_read, n_total) == (1, 2)  # bounds skipped the high file
    assert pruned.count() == 10


# --- keyless CDC (tx_changes_by_rid) ------------------------------------------


def _changes(spark, table, v_from, v_to=None):
    from pulsar_project_spark.sources.txlog import tx_changes_by_rid

    rows = tx_changes_by_rid(spark, table, v_from, v_to).collect()
    return sorted((r["_change_type"], r["_rid"], r["k"], r["v"]) for r in rows)


def test_keyless_cdc_compaction_is_silent(spark, table):
    tx_append(_mk(spark, 0, 5), table)
    tx_append(_mk(spark, 5, 10), table)
    v_from = tx_snapshot(table)["version"]
    tx_compact(spark, table, target_bytes=1 << 30)
    assert _changes(spark, table, v_from) == []


def test_keyless_cdc_update_reports_same_row(spark, table):
    from pulsar_project_spark.sources.txlog import tx_update

    tx_append(_mk(spark, 0, 4), table)
    v_from = tx_snapshot(table)["version"]
    tx_update(spark, table, "k", 1, 2, {"v": "v + 1000"})
    got = _changes(spark, table, v_from)
    assert got == sorted([
        ("update_pre", 1, 1, 3), ("update_post", 1, 1, 1003),
        ("update_pre", 2, 2, 6), ("update_post", 2, 2, 1006),
    ])


def test_keyless_cdc_endpoint_semantics(spark, table):
    """Inserted-then-deleted is silent; updated-then-deleted is a
    delete carrying the v_from image."""
    from pulsar_project_spark.sources.txlog import tx_update

    tx_append(_mk(spark, 0, 4), table)
    v_from = tx_snapshot(table)["version"]
    tx_append(_mk(spark, 10, 12), table)   # insert...
    tx_delete_range_dv(spark, table, "k", 10, 11)  # ...then delete: silent
    tx_update(spark, table, "k", 2, 3, {"v": "v + 1000"})
    tx_delete_range_dv(spark, table, "k", 3, 3)    # updated then deleted
    got = _changes(spark, table, v_from)
    assert got == sorted([
        ("update_pre", 2, 2, 6), ("update_post", 2, 2, 1006),
        ("delete", 3, 3, 9),  # pre-image is the v_from value, not 1009
    ])


def test_keyless_cdc_from_empty_table_is_all_inserts(spark, table):
    tx_append(_mk(spark, 0, 3), table)
    got = _changes(spark, table, 0)
    assert got == sorted([
        ("insert", 0, 0, 0), ("insert", 1, 1, 3), ("insert", 2, 2, 6)])


def test_keyless_cdc_sees_added_column_as_null_pre(spark, table):
    from pyspark.sql import functions as F

    tx_append(_mk(spark, 0, 2), table)
    v_from = tx_snapshot(table)["version"]
    wide = (_mk(spark, 10, 12).withColumn("extra", F.col("k") * 7)
            .repartition(1).sortWithinPartitions("k"))
    tx_append(wide, table)
    from pulsar_project_spark.sources.txlog import tx_changes_by_rid

    rows = tx_changes_by_rid(spark, table, v_from).collect()
    got = sorted((r["_change_type"], r["k"], r["extra"]) for r in rows)
    assert got == [("insert", 10, 70), ("insert", 11, 77)]


# --- generated columns ---------------------------------------------------------


def test_generated_column_computed_and_derivation_prunes(spark, table):
    from pyspark.sql import functions as F

    from pulsar_project_spark.sources.txlog import (
        tx_append,
        tx_read_pruned,
        tx_set_generated,
    )

    tx_set_generated(table, "day", "ts", 100)
    ev = spark.range(0, 1000).selectExpr("id AS ts", "id * 2 AS v")
    tx_append(ev, table, 5, cluster_by=["day"])
    snap = tx_snapshot(table)
    # stats exist for day (the cluster col) but NOT for ts
    assert all("day" in s and "ts" not in s for s in snap["stats"].values())
    # filter on the BASE column: derived day bounds must skip files
    # (5 range partitions over days 0..9 → ~2 days per file, so a
    # single-day window touches exactly one file)
    pruned, n_read, n_total = tx_read_pruned(spark, table, "ts", 100, 199)
    assert n_total == 5 and n_read == 1
    rows = pruned.select("ts", "day").collect()
    assert len(rows) == 100
    assert all(r["day"] == r["ts"] // 100 for r in rows)


def test_generated_column_mid_day_window_floors(spark, table):
    from pulsar_project_spark.sources.txlog import (
        tx_append,
        tx_read_pruned,
        tx_set_generated,
    )

    tx_set_generated(table, "day", "ts", 100)
    ev = spark.range(0, 1000).selectExpr("id AS ts", "id AS v")
    tx_append(ev, table, 10, cluster_by=["day"])
    # [250, 349] spans day buckets 2 and 3 — a ceil/round bug in the
    # derivation would read one bucket too few or too many
    pruned, n_read, n_total = tx_read_pruned(spark, table, "ts", 250, 349)
    assert (n_read, n_total) == (2, 10)
    assert pruned.count() == 100


def test_generated_column_wrong_supplied_value_rejected(spark, table):
    from pulsar_project_spark.sources.txlog import (
        TxConstraintViolation,
        tx_set_generated,
    )

    tx_set_generated(table, "day", "ts", 100)
    bad = spark.range(0, 5).selectExpr("id AS ts", "id AS day")  # day != ts div 100
    with pytest.raises(TxConstraintViolation, match="generated column"):
        tx_append(bad, table)
    ok = spark.range(0, 5).selectExpr("id AS ts", "id div 100 AS day")
    tx_append(ok, table)  # correct supplied values pass


def test_generated_column_declared_mid_race_conflicts(spark, table):
    from pulsar_project_spark.sources import txlog as t
    from pulsar_project_spark.sources.txlog import TxConflict, tx_set_generated

    tx_append(spark.range(3).selectExpr("id AS ts", "id AS v"), table)

    orig = t.tx_snapshot

    calls = {"n": 0}

    def racing_snapshot(tbl, version=None):
        # tx_append reads the snapshot twice: once for its generator
        # map and constraints, then the CAS-loop read. Land the
        # generator just before the LOOP read — i.e. after the append
        # captured its (empty) generator map and staged its files.
        if tbl == table and version is None:
            calls["n"] += 1
            if calls["n"] == 2:
                t.tx_snapshot = orig
                tx_set_generated(table, "day", "ts", 100)
        return orig(tbl, version)

    t.tx_snapshot = racing_snapshot
    try:
        with pytest.raises(TxConflict, match="generated-column set changed"):
            tx_append(spark.range(3, 6).selectExpr("id AS ts", "id AS v"),
                      table)
    finally:
        t.tx_snapshot = orig


def test_generator_chain_rejected(spark, table):
    from pulsar_project_spark.sources.txlog import tx_set_generated

    tx_set_generated(table, "day", "ts", 100)
    with pytest.raises(ValueError, match="itself generated"):
        tx_set_generated(table, "week", "day", 7)


# --- exactly-once tracked append ----------------------------------------------


def test_tracked_txn_replay_is_noop_and_burns_no_ids(spark, table):
    from pulsar_project_spark.sources.txlog import tx_append

    v1 = tx_append(_mk(spark, 0, 5), table, txn=("a", 0))
    v2 = tx_append(_mk(spark, 5, 9), table, txn=("a", 1))
    hwm = tx_snapshot(table)["row_hwm"]
    assert hwm == 9
    # replay batch 0 with a DIFFERENT payload: must return the original
    # commit and leave version + hwm + ids untouched
    before = _ids(spark, table)
    got = tx_append(_mk(spark, 100, 200), table, txn=("a", 0))
    assert got == v1
    snap = tx_snapshot(table)
    assert snap["version"] == v2
    assert snap["row_hwm"] == hwm
    assert _ids(spark, table) == before


def test_tracked_txn_different_apps_are_independent(spark, table):
    from pulsar_project_spark.sources.txlog import tx_append

    tx_append(_mk(spark, 0, 3), table, txn=("a", 0))
    tx_append(_mk(spark, 10, 13), table, txn=("b", 0))
    ids = _ids(spark, table)
    assert sorted(ids.values()) == list(range(6))


# --- composition: every remaining rewrite path preserves identity --------------


def test_zorder_on_tracked_table_preserves_ids(spark, table):
    from pulsar_project_spark.sources.txlog import tx_optimize_zorder

    tx_append(_mk(spark, 0, 20), table)
    tx_delete_range_dv(spark, table, "k", 5, 8)
    before = _ids(spark, table)
    tx_optimize_zorder(spark, table, "k", "v", n_files=3)
    assert _ids(spark, table) == before
    snap = tx_snapshot(table)
    assert list(snap["rids"].values()) == [None] * len(snap["files"])
    assert snap["row_hwm"] == 20


def test_restore_brings_ids_back_and_hwm_stays_monotone(spark, table):
    from pulsar_project_spark.sources.txlog import tx_restore

    tx_append(_mk(spark, 0, 5), table)
    v_good = tx_snapshot(table)["version"]
    good = _ids(spark, table)
    tx_append(_mk(spark, 100, 105), table)  # ids 5..9 (burned)
    tx_restore(table, v_good)
    assert _ids(spark, table) == good
    # hwm did NOT roll back: the next append continues past the
    # undone commit's range — no id is ever reissued
    assert tx_snapshot(table)["row_hwm"] == 10
    tx_append(_mk(spark, 200, 202), table)
    ids = _ids(spark, table)
    assert sorted(ids[k] for k in (200, 201)) == [10, 11]


def test_clone_carries_ids_and_hwm(spark, table):
    import tempfile as _tf

    from pulsar_project_spark.sources.txlog import tx_clone

    tx_append(_mk(spark, 0, 6), table)
    tx_delete_range_dv(spark, table, "k", 1, 2)
    dst = _tf.mkdtemp(prefix="txrid_clone_")
    tx_clone(table, dst)
    assert _ids(spark, dst) == _ids(spark, table)
    tx_append(_mk(spark, 50, 53), dst)
    ids = _ids(spark, dst)
    # the clone's fresh ids continue from the SOURCE hwm, not zero
    assert sorted(ids[k] for k in (50, 51, 52)) == [6, 7, 8]


def test_reorg_purge_on_tracked_renamed_table(spark, table):
    from pulsar_project_spark.sources.txlog import (
        tx_read_tracked,
        tx_rename_column,
        tx_reorg_purge,
    )

    tx_append(_mk(spark, 0, 6), table)
    before = _ids(spark, table)
    tx_rename_column(table, "v", "val")
    tx_reorg_purge(spark, table)
    snap = tx_snapshot(table)
    assert not snap.get("renames")  # debt retired
    rows = tx_read_tracked(spark, table).select("_rid", "k", "val").collect()
    assert {r["k"]: r["_rid"] for r in rows} == before
    assert all(r["val"] == r["k"] * 3 for r in rows)


def test_merge_upsert_tracked_keeps_ids_for_replacements(spark, table):
    from pulsar_project_spark.sources.txlog import (
        tx_merge_upsert,
        tx_read_tracked,
    )

    tx_append(_mk(spark, 0, 6), table, stat_cols=["k"])
    before = _ids(spark, table)
    updates = (spark.range(4, 9)
               .selectExpr("id AS k", "id * 1000 AS v"))  # 4,5 replace; 6-8 insert
    tx_merge_upsert(spark, table, updates, "k")
    rows = tx_read_tracked(spark, table).select("_rid", "k", "v").collect()
    ids = {r["k"]: r["_rid"] for r in rows}
    vals = {r["k"]: r["v"] for r in rows}
    # replaced rows keep identity, untouched rows keep identity
    assert {k: ids[k] for k in range(6)} == before
    assert vals[4] == 4000 and vals[5] == 5000 and vals[3] == 9
    # inserts get fresh ids from the hwm
    assert sorted(ids[k] for k in (6, 7, 8)) == [6, 7, 8]
    assert tx_snapshot(table)["row_hwm"] == 9


def test_conditional_merge_tracked_identity(spark, table):
    from pulsar_project_spark.sources.txlog import (
        tx_merge,
        tx_read_tracked,
    )

    tx_append(_mk(spark, 0, 6), table, stat_cols=["k"])
    before = _ids(spark, table)
    src = spark.range(3, 8).selectExpr("id AS k", "id * 10 AS v")
    # WHEN MATCHED AND v < 15 THEN UPDATE SET v = v + __s_v
    tx_merge(spark, table, src, "k",
             when_matched_set={"v": "v + __s_v"},
             matched_condition="v < 15")
    rows = tx_read_tracked(spark, table).select("_rid", "k", "v").collect()
    ids = {r["k"]: r["_rid"] for r in rows}
    vals = {r["k"]: r["v"] for r in rows}
    # matched rows (updated AND unchanged) keep identity
    assert {k: ids[k] for k in range(6)} == before
    # k=3 (v=9<15): updated to 9+30; k=4 (v=12<15): 12+40; k=5 (v=15): carried
    assert vals[3] == 39 and vals[4] == 52 and vals[5] == 15
    # inserts (k=6,7) got fresh ids
    assert sorted(ids[k] for k in (6, 7)) == [6, 7]


def test_value_cdf_on_tracked_table_across_materialization(spark, table):
    """tx_table_changes (the identity-AGNOSTIC value feed) on a
    tracked table whose window spans a materialization boundary: the
    physical _rid column added by the compaction rewrite must neither
    break the union (mixed generations in one side) nor surface in the
    feed, and the compaction itself stays silent."""
    from pulsar_project_spark.sources.txlog import tx_table_changes

    tx_append(_mk(spark, 0, 4), table)
    v_from = tx_snapshot(table)["version"]
    tx_append(_mk(spark, 4, 8), table)
    tx_compact(spark, table, target_bytes=1 << 30)  # materializes _rid
    from pulsar_project_spark.sources.txlog import tx_delete_range

    tx_delete_range(spark, table, "k", 5, 6)  # COW on a materialized file
    ch = tx_table_changes(spark, table, v_from)
    assert "_rid" not in ch.columns
    got = sorted((r["_change_type"], r["k"]) for r in ch.collect())
    assert got == sorted([
        ("insert", 4), ("insert", 5), ("insert", 6), ("insert", 7),
        ("delete", 5), ("delete", 6)])


def test_plain_tx_read_presents_values_view_on_tracked_tables(spark, table):
    from pulsar_project_spark.sources.txlog import tx_read

    tx_append(_mk(spark, 0, 4), table)
    tx_compact(spark, table, target_bytes=1)      # no-op (single file)
    tx_append(_mk(spark, 4, 8), table)
    tx_delete_range_dv(spark, table, "k", 1, 1)
    tx_compact(spark, table, target_bytes=1 << 30)  # materializes _rid
    tx_append(_mk(spark, 8, 10), table)     # positional again
    df = tx_read(spark, table)  # mixed generations: values view
    assert sorted(df.columns) == ["k", "v"]
    assert sorted(r["k"] for r in df.collect()) == [0, 2, 3, 4, 5, 6, 7, 8, 9]


def test_clustered_and_bloomed_appends_track_on_tracked_tables(spark, table):
    from pulsar_project_spark.sources.txlog import (
        tx_append,
    )

    tx_append(_mk(spark, 0, 4), table)
    tx_append(spark.range(10, 16).selectExpr("id AS k", "id AS v"), table, 2,
              cluster_by=["k"])
    tx_append(spark.range(20, 23).selectExpr("id AS k", "id AS v"), table,
              bloom_col="k")
    ids = _ids(spark, table)
    assert sorted(ids.values()) == list(range(13))
    assert tx_snapshot(table)["row_hwm"] == 13
    # and on an UNTRACKED table the same appends stay plain
    import tempfile as _tf

    plain = _tf.mkdtemp(prefix="txplain_")
    tx_init(plain)
    tx_append(spark.range(3).selectExpr("id AS k", "id AS v"), plain, 1,
              cluster_by=["k"])
    assert "rids" not in tx_snapshot(plain)


def test_rid_is_a_reserved_name(spark, table):
    from pulsar_project_spark.sources.txlog import (
        tx_rename_column,
        tx_set_generated,
    )

    tx_append(_mk(spark, 0, 3), table)
    with pytest.raises(ValueError, match="reserved"):
        tx_rename_column(table, "v", "_rid")
    with pytest.raises(ValueError, match="reserved"):
        tx_rename_column(table, "_rid", "rowid")
    with pytest.raises(ValueError, match="reserved"):
        tx_set_generated(table, "_rid", "k", 10)
    with pytest.raises(ValueError, match="reserved"):
        tx_set_generated(table, "bucket", "_rid", 10)


def test_tx_detail_reports_row_id_state(spark, table):
    from pulsar_project_spark.sources.txlog import tx_detail

    tx_append(_mk(spark, 0, 4), table)
    tx_append(_mk(spark, 4, 8), table)
    tx_compact(spark, table, target_bytes=1 << 30)
    tx_append(_mk(spark, 8, 12), table)
    states = sorted(r["row_ids"] for r in tx_detail(spark, table).collect())
    assert states == ["materialized", "positional"]
