"""Cross-table catalog transaction semantics (sources/txcatalog.py).

The declared query proves result parity; these tests pin the
properties a hash can't see: reader-side atomicity (no intermediate
state), torn-commit invisibility (per-table commits without the
catalog CAS change nothing for catalog readers), snapshot pinning
(old catalog versions stay exactly readable), catalog-CAS conflict
retry (two movers serialize, rows conserved), and allocation-vs-
lineage (a stranger committing directly to a table log cannot corrupt
a catalog transaction — content derives from the catalog pin, and the
stranger's version is simply orphaned).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pulsar_project_spark.sources.txcatalog import (
    _commit_branch,
    catalog_init,
    catalog_latest_version,
    catalog_move,
    catalog_read,
    catalog_snapshot,
)
from pulsar_project_spark.sources.txlog import (
    tx_append,
    tx_init,
    tx_latest_version,
    tx_snapshot,
)


def _mk_pair(spark, tmp_path, n=100):
    hot = str(tmp_path / "hot")
    cold = str(tmp_path / "cold")
    cat = str(tmp_path / "_catalog")
    tx_init(hot)
    df = spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
    tx_append(df, hot, n_files=3)
    tx_init(cold)
    catalog_init(cat, {"hot": hot, "cold": cold})
    return hot, cold, cat


def _counts(spark, cat, version=None):
    out = {}
    for t in ("hot", "cold"):
        df, _ = catalog_read(spark, cat, t, version=version)
        out[t] = 0 if df is None else df.count()
    return out


def test_move_conserves_and_pins_old_snapshots(spark, tmp_path):
    hot, cold, cat = _mk_pair(spark, tmp_path)
    v0 = catalog_latest_version(cat)
    catalog_move(spark, cat, "hot", "cold", F.col("k") < 40)
    assert _counts(spark, cat) == {"hot": 60, "cold": 40}
    # the pre-move catalog snapshot still reads the original placement
    assert _counts(spark, cat, version=v0) == {"hot": 100, "cold": 0}
    # and values moved intact, not just counts
    cold_df, _ = catalog_read(spark, cat, "cold")
    assert cold_df.agg(F.sum("v")).first()[0] == sum(i * 10 for i in range(40))


def test_torn_commit_is_invisible_to_catalog_readers(spark, tmp_path):
    """A writer that commits new PER-TABLE versions and dies before the
    catalog CAS (the crash window of the protocol) must change nothing
    for catalog readers."""
    hot, cold, cat = _mk_pair(spark, tmp_path)
    before = _counts(spark, cat)
    csnap = catalog_snapshot(cat)
    src_v = csnap["tables"]["hot"][1]
    # simulate the torn transaction: a table-level commit that empties
    # hot, never referenced by any catalog manifest
    _commit_branch(hot, src_v, [], op="torn-move-out")
    assert tx_latest_version(hot) > src_v          # the orphan exists
    assert _counts(spark, cat) == before            # nobody sees it
    # the next real transaction derives from the CATALOG pin, not from
    # the orphaned table-latest, so it still sees all 100 rows
    catalog_move(spark, cat, "hot", "cold", F.col("k") >= 0)
    assert _counts(spark, cat) == {"hot": 0, "cold": 100}


def test_sequential_movers_serialize_and_conserve(spark, tmp_path):
    hot, cold, cat = _mk_pair(spark, tmp_path)
    catalog_move(spark, cat, "hot", "cold", F.col("k") < 30)
    catalog_move(spark, cat, "hot", "cold",
                 (F.col("k") >= 60) & (F.col("k") < 80))
    c = _counts(spark, cat)
    assert c == {"hot": 50, "cold": 50}
    assert catalog_snapshot(cat)["version"] == 2


def test_stranger_table_commit_is_orphaned_not_corrupting(spark, tmp_path):
    """A writer bypassing the catalog (direct table-log append) takes a
    version NUMBER but never enters the catalog lineage: the next
    catalog transaction allocates past it and the catalog keeps reading
    a consistent world that never includes the stranger's rows."""
    hot, cold, cat = _mk_pair(spark, tmp_path)
    stranger = spark.range(5).select(
        (F.col("id") + 1000).alias("k"), F.lit(0).alias("v"))
    tx_append(stranger, hot, n_files=1)   # direct, catalog-bypassing
    catalog_move(spark, cat, "hot", "cold", F.col("k") < 10)
    c = _counts(spark, cat)
    assert c == {"hot": 90, "cold": 10}   # the 5 stranger rows: absent
    hot_df, _ = catalog_read(spark, cat, "hot")
    assert hot_df.filter(F.col("k") >= 1000).count() == 0


def test_null_predicate_rows_stay_in_source(spark, tmp_path):
    hot = str(tmp_path / "hot")
    cold = str(tmp_path / "cold")
    cat = str(tmp_path / "_catalog")
    tx_init(hot)
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30)], "k int, v int")
    tx_append(df, hot, n_files=1)
    tx_init(cold)
    catalog_init(cat, {"hot": hot, "cold": cold})
    catalog_move(spark, cat, "hot", "cold", F.col("v") > 15)
    assert _counts(spark, cat) == {"hot": 2, "cold": 1}
    hot_df, _ = catalog_read(spark, cat, "hot")
    assert sorted(r.k for r in hot_df.collect()) == [1, 2]


def test_catalog_cas_conflict_redoes_from_new_state(spark, tmp_path,
                                                    monkeypatch):
    """Force the first catalog CAS attempt to lose (a racer commits
    between snapshot and CAS): the mover must REDO from the racer's
    state — the final placement equals serial application of both."""
    import pulsar_project_spark.sources.txcatalog as tc

    hot, cold, cat = _mk_pair(spark, tmp_path)
    real_commit = tc._catalog_commit
    fired = {"n": 0}

    def racing_commit(catalog, expected_parent, tables, op):
        if fired["n"] == 0:
            fired["n"] += 1
            # the racer slips in a whole transaction first
            real_snap = catalog_snapshot(cat)
            src_dir, src_v = real_snap["tables"]["hot"]
            dst_dir, dst_v = real_snap["tables"]["cold"]
            import pyspark.sql.functions as FF

            from pulsar_project_spark.sources.txlog import (
                _stage_dataframe as stage,
            )
            ssnap = tx_snapshot(src_dir, src_v)
            src_df = spark.read.parquet(
                *(os.path.join(src_dir, f) for f in ssnap["files"]))
            movers = src_df.filter(FF.col("k") < 10)
            keep = src_df.filter(~(FF.col("k") < 10))
            sv = tc._commit_branch(src_dir, src_v,
                                   stage(keep, src_dir, 1), op="race-out")
            dv = tc._commit_branch(
                dst_dir, dst_v,
                tx_snapshot(dst_dir, dst_v)["files"]
                + stage(movers, dst_dir, 1), op="race-in")
            real_commit(cat, real_snap["version"],
                        {"hot": [src_dir, sv], "cold": [dst_dir, dv]},
                        op="race")
            # now the original attempt must hit TxConflict
        return real_commit(catalog, expected_parent, tables, op)

    monkeypatch.setattr(tc, "_catalog_commit", racing_commit)
    catalog_move(spark, cat, "hot", "cold",
                 (F.col("k") >= 50) & (F.col("k") < 70))
    monkeypatch.setattr(tc, "_catalog_commit", real_commit)
    # serial application of racer (k<10) then mover (50<=k<70)
    assert _counts(spark, cat) == {"hot": 70, "cold": 30}
    assert fired["n"] == 1


def test_catalog_read_requires_catalog(spark, tmp_path):
    with pytest.raises(ValueError, match="not a tx catalog"):
        catalog_snapshot(str(tmp_path / "nope"))


def test_concurrent_movers_serialize_via_catalog_cas(spark, tmp_path):
    """Two real threads moving DISJOINT slices concurrently: the
    catalog CAS forces one to redo from the other's snapshot; both
    must land, rows conserved, no double-move, catalog version
    strictly sequential (the tx_append rebase stress test, lifted to
    cross-table transactions)."""
    import threading

    hot, cold, cat = _mk_pair(spark, tmp_path, n=200)
    errs = []

    def worker(lo, hi):
        try:
            catalog_move(spark, cat, "hot", "cold",
                         (F.col("k") >= lo) & (F.col("k") < hi),
                         max_retries=10)
        except Exception as exc:  # pragma: no cover - failure evidence
            errs.append(exc)

    threads = [threading.Thread(target=worker, args=(0, 50)),
               threading.Thread(target=worker, args=(100, 150))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert _counts(spark, cat) == {"hot": 100, "cold": 100}
    cold_df, _ = catalog_read(spark, cat, "cold")
    got = sorted(r.k for r in cold_df.collect())
    assert got == list(range(0, 50)) + list(range(100, 150))
    assert catalog_snapshot(cat)["version"] == 2


def test_catalog_vacuum_respects_pins_and_reclaims_abandoned(spark, tmp_path):
    """ADVICE r7: an abandoned catalog_move branch may sit as a table's
    own LATEST manifest — tx_vacuum would keep the abandoned branch and
    delete the catalog-pinned version's files. catalog_vacuum computes
    liveness from the catalog pins instead: the pinned snapshots stay
    byte-for-byte readable, the abandoned branch's manifest and its
    unreferenced files are reclaimed."""
    from pulsar_project_spark.sources.txcatalog import catalog_vacuum
    from pulsar_project_spark.sources.txlog import _stage_dataframe, _commit

    hot, cold, cat = _mk_pair(spark, tmp_path)
    catalog_move(spark, cat, "hot", "cold", F.col("k") < 40)
    pinned_counts = _counts(spark, cat)

    # simulate a LOSING mover: stage new hot files and commit them as
    # the table's latest version, but never CAS the catalog
    orphan = _stage_dataframe(
        spark.range(5).select(F.col("id").alias("k"),
                              (F.col("id") * 10).alias("v")),
        hot, n_files=1)
    ver = tx_latest_version(hot)
    _commit(hot, tx_snapshot(hot, ver), orphan, op="move-out")
    assert tx_latest_version(hot) == ver + 1  # abandoned branch IS latest

    removed = catalog_vacuum(cat, retention_seconds=0.0)
    assert removed >= 1  # the orphan file reclaimed
    # catalog readers see exactly the pinned placement, fully readable
    assert _counts(spark, cat) == pinned_counts
    for t in ("hot", "cold"):
        df, _ = catalog_read(spark, cat, t)
        if df is not None:
            df.count()  # no dangling file reference
    # the abandoned branch's manifest is gone
    assert tx_latest_version(hot) == ver


def test_catalog_vacuum_default_retention_keeps_everything(spark, tmp_path):
    from pulsar_project_spark.sources.txcatalog import catalog_vacuum

    hot, cold, cat = _mk_pair(spark, tmp_path)
    catalog_move(spark, cat, "hot", "cold", F.col("k") < 40)
    assert catalog_vacuum(cat) == 0  # everything too young at 24 h
    assert _counts(spark, cat) == {"hot": 60, "cold": 40}


def test_catalog_timestamp_travel_is_cross_table_consistent(spark, tmp_path):
    """An instant between the two moves must resolve to the catalog
    snapshot AFTER move 1 and BEFORE move 2 — both tables read at
    their move-1 placement together (per-table clocks can't give this:
    the move committed each table's manifest at different instants)."""
    from pulsar_project_spark.sources.txcatalog import (
        catalog_version_as_of_timestamp,
    )

    hot, cold, cat = _mk_pair(spark, tmp_path)
    catalog_move(spark, cat, "hot", "cold", F.col("k") < 40)
    ts1 = catalog_snapshot(cat)["ts_us"]
    catalog_move(spark, cat, "hot", "cold", F.col("k") < 70)
    ts2 = catalog_snapshot(cat)["ts_us"]
    assert ts1 < ts2
    v = catalog_version_as_of_timestamp(cat, ts1 + (ts2 - ts1) // 2)
    assert _counts(spark, cat, version=v) == {"hot": 60, "cold": 40}
    # far future -> latest; before the first commit -> error
    latest = catalog_version_as_of_timestamp(cat, ts2 + 10**12)
    assert _counts(spark, cat, version=latest) == {"hot": 30, "cold": 70}
    ts0 = catalog_snapshot(cat, 0)["ts_us"]
    with pytest.raises(ValueError):
        catalog_version_as_of_timestamp(cat, ts0 - 1)


def test_catalog_move_respects_deletion_vectors(spark, tmp_path):
    from pulsar_project_spark.sources.txlog import tx_delete_range_dv

    hot, cold, cat = _mk_pair(spark, tmp_path)
    tx_delete_range_dv(spark, hot, "k", 10, 19)
    # re-pin the catalog at the masked version (fresh catalog dir:
    # _mk_pair pinned pre-delete)
    from pulsar_project_spark.sources.txcatalog import (
        _catalog_commit,
        catalog_latest_version,
    )
    from pulsar_project_spark.sources.txlog import tx_latest_version

    snap = catalog_snapshot(cat)
    tables = dict(snap["tables"])
    tables["hot"] = [hot, tx_latest_version(hot)]
    _catalog_commit(cat, snap["version"], tables, op="repin")
    catalog_move(spark, cat, "hot", "cold", F.col("k") < 40)
    # masked rows resurrect in NEITHER table
    assert _counts(spark, cat) == {"hot": 60, "cold": 30}


def test_catalog_read_applies_dvs_and_column_mapping(spark, tmp_path):
    # round-9 fix: the raw parquet read resurrected DV-masked rows and
    # leaked physical column names on catalog-managed tables
    from pulsar_project_spark.sources.txlog import (
        tx_delete_range_dv, tx_rename_column,
    )

    hot, cold, cat = _mk_pair(spark, tmp_path)
    tx_delete_range_dv(spark, hot, "k", 0, 9)
    tx_rename_column(hot, "v", "value")
    # re-pin the catalog onto the new hot version via a no-op move
    # window (the catalog pins versions; a fresh catalog sees latest)
    cat2 = str(tmp_path / "_catalog2")
    catalog_init(cat2, {"hot": hot, "cold": cold})
    df, n_files = catalog_read(spark, cat2, "hot")
    assert df.count() == 90, "DV-masked rows must not resurrect"
    assert "value" in df.columns and "v" not in df.columns, \
        "catalog reads must resolve the rename chain"
    assert df.agg({"value": "sum"}).first()[0] == sum(
        10 * i for i in range(10, 100))


def test_move_keeps_row_ids_on_tracked_tables(spark, tmp_path):
    """On row-tracked tables a move keeps the survivors' ids in the
    source and lands the movers in the destination as inserts with
    fresh ids from its ``row_hwm``; both tables stay readable through
    the identity view."""
    from pulsar_project_spark.sources.txlog import tx_read_tracked

    hot, cold, cat = (str(tmp_path / n) for n in ("hot", "cold", "_cat"))
    tx_init(hot, row_tracking=True)
    tx_init(cold, row_tracking=True)
    tx_append(spark.range(20).select(F.col("id").alias("k")), hot, n_files=2)
    before = {r.k: r._rid for r in tx_read_tracked(spark, hot).collect()}
    catalog_init(cat, {"hot": hot, "cold": cold})
    catalog_move(spark, cat, "hot", "cold", F.col("k") < 5)
    pins = catalog_snapshot(cat)["tables"]
    src = tx_read_tracked(spark, hot, pins["hot"][1]).collect()
    dst = tx_read_tracked(spark, cold, pins["cold"][1]).collect()
    assert {r.k: r._rid for r in src} == {
        k: rid for k, rid in before.items() if k >= 5}
    assert sorted(r.k for r in dst) == list(range(5))
    assert sorted(r._rid for r in dst) == list(range(5))
    assert tx_snapshot(cold, pins["cold"][1])["row_hwm"] == 5
