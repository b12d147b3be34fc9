"""Crash-safety and isolation gates for the transactional table log.

VERDICT r6 "Next round" #6: the compaction planner was driver-green;
execution needs a commit protocol where readers NEVER see a half-swap
and concurrent writers never clobber each other. These tests drive
every dangerous interleaving the protocol claims to survive — crash
before commit, CAS race, reader pinned on an old snapshot across a
compaction and a vacuum.
"""

from __future__ import annotations

import os
import tempfile

import pytest

from pulsar_project_spark.sources.txlog import (
    TxConflict,
    _commit,
    _stage_dataframe,
    plan_compaction,
    tx_append,
    tx_compact,
    tx_init,
    tx_latest_version,
    tx_read,
    tx_snapshot,
    tx_vacuum,
)


@pytest.fixture()
def table(spark):
    path = tempfile.mkdtemp(prefix="txlog_")
    tx_init(path)
    return path


def _census(spark, table, version=None):
    from pyspark.sql import functions as F

    df = tx_read(spark, table, version)
    row = df.agg(F.count("id"), F.sum("v")).first()
    return row[0], row[1]


def _mk(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id", "id * 3 AS v")


def test_append_read_roundtrip(spark, table):
    tx_append(_mk(spark, 0, 100), table, n_files=4)
    tx_append(_mk(spark, 100, 150), table, n_files=4)
    assert tx_latest_version(table) == 2
    assert _census(spark, table) == (150, sum(3 * i for i in range(150)))


def test_crash_before_commit_is_invisible(spark, table):
    tx_append(_mk(spark, 0, 50), table, n_files=2)
    before = _census(spark, table)
    v_before = tx_latest_version(table)
    # simulate a writer that staged + moved its data files and DIED
    # before the manifest link: readers must see nothing
    _stage_dataframe(_mk(spark, 50, 90), table, n_files=2)
    assert tx_latest_version(table) == v_before
    assert _census(spark, table) == before
    # and a later healthy append is unaffected by the orphan files
    tx_append(_mk(spark, 90, 100), table)
    assert _census(spark, table) == (60, sum(3 * i for i in range(50))
                                     + sum(3 * i for i in range(90, 100)))


def test_cas_race_exactly_one_winner(spark, table):
    v = tx_append(_mk(spark, 0, 10), table)
    files_a = _stage_dataframe(_mk(spark, 10, 20), table, n_files=1)
    files_b = _stage_dataframe(_mk(spark, 20, 30), table, n_files=1)
    snap = tx_snapshot(table)
    assert snap["version"] == v
    _commit(table, snap, snap["files"] + files_a, op="append")
    with pytest.raises(TxConflict):
        _commit(table, snap, snap["files"] + files_b, op="append")
    # the loser rebases: re-read, retry at the new head
    snap2 = tx_snapshot(table)
    _commit(table, snap2, snap2["files"] + files_b, op="append")
    assert _census(spark, table) == (30, sum(3 * i for i in range(30)))


def test_compaction_preserves_data_and_merges_files(spark, table):
    for lo in range(0, 400, 100):
        tx_append(_mk(spark, lo, lo + 100), table, n_files=5)
    n_before = len(tx_snapshot(table)["files"])
    assert n_before == 20
    census_before = _census(spark, table)
    tx_compact(spark, table, target_bytes=1 << 30)  # everything: 1 bucket
    snap = tx_snapshot(table)
    assert snap["op"] == "compact"
    assert len(snap["files"]) == 1
    assert _census(spark, table) == census_before


def test_reader_snapshot_survives_compaction(spark, table):
    tx_append(_mk(spark, 0, 100), table, n_files=8)
    v1 = tx_latest_version(table)
    pinned = tx_read(spark, table, v1)  # plan pinned to v1's file list
    tx_compact(spark, table, target_bytes=1 << 30)
    tx_append(_mk(spark, 100, 200), table)
    # the pinned plan still executes against the ORIGINAL files
    assert pinned.count() == 100
    # and explicit time travel to v1 agrees
    assert _census(spark, table, version=v1) == (
        100, sum(3 * i for i in range(100)))


def test_vacuum_reclaims_only_dead_files(spark, table):
    tx_append(_mk(spark, 0, 100), table, n_files=8)
    _stage_dataframe(_mk(spark, 0, 5), table, n_files=1)  # crashed orphan
    tx_compact(spark, table, target_bytes=1 << 30)
    census = _census(spark, table)
    # default retention keeps everything this young: writer-safety
    # guard (ADVICE r7) — nothing reclaimed, table intact
    assert tx_vacuum(table) == 0
    assert _census(spark, table) == census
    removed = tx_vacuum(table, retention_seconds=0.0)
    assert removed == 9  # 8 replaced inputs + 1 orphan
    assert _census(spark, table) == census
    # time travel to pre-compaction versions is now (documented) gone
    with pytest.raises(Exception):
        tx_read(spark, table, version=1).count()


def test_plan_compaction_only_merging_buckets(spark, table):
    tx_append(_mk(spark, 0, 1000), table, n_files=4)
    sizes = [os.path.getsize(os.path.join(table, f))
             for f in tx_snapshot(table)["files"]]
    # target slightly above one file: prefix-sum packing pairs files up
    buckets = plan_compaction(table, target_bytes=int(sum(sizes) / 2) + 1)
    assert buckets and all(len(b) >= 2 for b in buckets)
    total = sum(len(b) for b in buckets)
    assert total <= 4


def test_optimize_zorder_bounds_both_dims_and_preserves_data(spark, table):
    import pyarrow.parquet as papq

    from pulsar_project_spark.sources.txlog import tx_optimize_zorder

    # 64x64 grid: after OPTIMIZE ZORDER BY (a, b), every rewritten
    # file's footer stats must bound BOTH dims (median span <= half
    # domain) — a single-column sort would leave b unbounded per file
    grid = spark.range(64 * 64).selectExpr(
        "id % 64 AS a", "id div 64 AS b", "id AS v")
    tx_append(grid, table, n_files=4)
    before = spark.createDataFrame(
        tx_read(spark, table).collect()).agg({"v": "sum"}).first()[0]
    v = tx_optimize_zorder(spark, table, "a", "b", n_files=16)
    snap = tx_snapshot(table)
    assert snap["version"] == v and snap["op"] == "optimize-zorder"
    spans = {"a": [], "b": []}
    for f in snap["files"]:
        md = papq.read_metadata(os.path.join(table, f))
        for c in ("a", "b"):
            lo = hi = None
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for i in range(g.num_columns):
                    col = g.column(i)
                    if col.path_in_schema == c and col.statistics:
                        st = col.statistics
                        lo = st.min if lo is None else min(lo, st.min)
                        hi = st.max if hi is None else max(hi, st.max)
            if lo is not None:
                spans[c].append(hi - lo)
    assert len(spans["a"]) >= 8
    for c in ("a", "b"):
        widths = sorted(spans[c])
        assert widths[len(widths) // 2] <= 32, (c, widths)
    # and the rewrite is pure layout: data fingerprint unchanged
    after = tx_read(spark, table).agg({"v": "sum"}).first()[0]
    assert after == before


def test_concurrent_appends_all_commit_via_rebase(spark, table):
    """Four writers appending simultaneously: every CAS loser must
    rebase and land, no rows lost, versions strictly sequential."""
    import threading

    errs = []

    def worker(lo):
        try:
            tx_append(_mk(spark, lo, lo + 100), table, n_files=2)
        except Exception as exc:  # pragma: no cover - failure evidence
            errs.append(exc)

    threads = [threading.Thread(target=worker, args=(i * 100,))
               for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert tx_latest_version(table) == 4
    assert _census(spark, table) == (400, sum(3 * i for i in range(400)))


def test_manifest_stats_prune_skips_files_and_loses_nothing(spark, table):
    from pulsar_project_spark.sources.txlog import (
        tx_optimize_zorder,
        tx_read_pruned,
    )

    grid = spark.range(64 * 64).selectExpr(
        "id % 64 AS a", "id div 64 AS b", "id AS v")
    tx_append(grid, table, n_files=4)
    tx_optimize_zorder(spark, table, "a", "b", n_files=16)
    snap = tx_snapshot(table)
    assert "stats" in snap and len(snap["stats"]) == len(snap["files"])
    # a narrow range on `a`: the manifest bounds must let the planner
    # skip MOST files without opening any
    df, n_read, n_total = tx_read_pruned(spark, table, "a", 3, 6)
    assert n_total >= 8 and n_read < n_total / 2, (n_read, n_total)
    got = sorted(r["v"] for r in df.collect())
    want = sorted(i for i in range(64 * 64) if 3 <= i % 64 <= 6)
    assert got == want  # residual filter keeps it exact
    # proven-empty range raises (no file can contain a = 1000)
    import pytest as _pytest
    with _pytest.raises(ValueError):
        tx_read_pruned(spark, table, "a", 1000, 2000)


def test_delete_range_rewrites_only_overlapping_files(spark, table):
    from pulsar_project_spark.sources.txlog import (
        tx_delete_range,
        tx_optimize_zorder,
    )

    grid = spark.range(64 * 64).selectExpr(
        "id % 64 AS a", "id div 64 AS b", "id AS v")
    tx_append(grid, table, n_files=4)
    tx_optimize_zorder(spark, table, "a", "b", n_files=16)
    files_before = set(tx_snapshot(table)["files"])
    v = tx_delete_range(spark, table, "a", 10, 13)
    snap = tx_snapshot(table)
    assert snap["version"] == v and snap["op"] == "delete"
    carried = files_before & set(snap["files"])
    # the bounds test must carry MOST clustered files by name untouched
    assert len(carried) > len(files_before) / 2, (
        len(carried), len(files_before))
    got = sorted(r["v"] for r in tx_read(spark, table).collect())
    want = sorted(i for i in range(64 * 64) if not (10 <= i % 64 <= 13))
    assert got == want
    # stats were refreshed for the rewritten files: a follow-up pruned
    # read still skips
    from pulsar_project_spark.sources.txlog import tx_read_pruned
    _df, n_read, n_total = tx_read_pruned(spark, table, "a", 3, 6)
    assert n_read < n_total


def test_delete_range_keeps_nulls_and_noops_outside_bounds(spark, table):
    from pulsar_project_spark.sources.txlog import (
        tx_delete_range,
        tx_optimize_zorder,
    )

    rows = spark.createDataFrame(
        [(None, 1, 100), (5, 2, 101), (50, 3, 102)],
        "a: bigint, b: bigint, v: bigint")
    tx_append(rows, table, n_files=1)
    tx_optimize_zorder(spark, table, "a", "b", n_files=1)
    v1 = tx_latest_version(table)
    # range that PROVABLY matches nothing: bounds say skip, version unchanged
    assert tx_delete_range(spark, table, "a", 1000, 2000) == v1
    # delete a=5; the NULL row must survive (SQL range semantics)
    tx_delete_range(spark, table, "a", 0, 10)
    got = sorted(((r["a"], r["v"]) for r in
                  tx_read(spark, table).collect()),
                 key=lambda t: t[1])
    assert got == [(None, 100), (50, 102)]


def test_merge_upsert_replaces_inserts_and_carries_files(spark, table):
    from pulsar_project_spark.sources.txlog import (
        tx_merge_upsert,
        tx_optimize_zorder,
    )

    base = spark.range(1000).selectExpr("id AS k", "id AS b", "id * 3 AS v")
    tx_append(base, table, n_files=4)
    tx_optimize_zorder(spark, table, "k", "b", n_files=8)
    files_before = set(tx_snapshot(table)["files"])
    # replace k in [10, 19] with v = -1 (tight key range: the bounds
    # test must carry the clustered files outside it by name)
    ups = spark.createDataFrame(
        [(k, k, -1) for k in range(10, 20)],
        "k: bigint, b: bigint, v: bigint")
    v = tx_merge_upsert(spark, table, ups, "k")
    snap = tx_snapshot(table)
    assert snap["version"] == v and snap["op"] == "merge"
    carried = files_before & set(snap["files"])
    assert carried, "bounds should carry non-overlapping files"
    # pure-insert batch: key range beyond every file's bounds -> zero
    # files rewritten, updates land as the only new file
    files_mid = set(tx_snapshot(table)["files"])
    ins = spark.createDataFrame(
        [(k, k, 7) for k in range(2000, 2005)],
        "k: bigint, b: bigint, v: bigint")
    tx_merge_upsert(spark, table, ins, "k")
    snap = tx_snapshot(table)
    assert files_mid <= set(snap["files"])
    rows = {r["k"]: r["v"] for r in tx_read(spark, table).collect()}
    assert len(rows) == 1005
    assert all(rows[k] == -1 for k in range(10, 20))
    assert all(rows[k] == 7 for k in range(2000, 2005))
    assert rows[500] == 1500


def test_merge_upsert_rejects_duplicate_update_keys(spark, table):
    import pytest as _pytest

    from pulsar_project_spark.sources.txlog import tx_merge_upsert

    tx_append(spark.range(10).selectExpr("id AS k", "id AS v"), table)
    dup = spark.createDataFrame([(1, 5), (1, 6)], "k: bigint, v: bigint")
    with _pytest.raises(ValueError, match="unique"):
        tx_merge_upsert(spark, table, dup, "k")


def test_clone_is_zero_copy_and_divergence_independent(spark, table):
    """SHALLOW CLONE: (1) no data copied — every cloned file shares its
    inode with the source (hard link); (2) divergent appends stay on
    their own branch; (3) vacuum on EITHER side never breaks the other
    — each table's links keep shared inodes alive."""
    import tempfile

    from pulsar_project_spark.sources.txlog import tx_clone

    tx_append(_mk(spark, 0, 100), table, n_files=4)
    clone = tempfile.mkdtemp(prefix="txlog_clone_")
    tx_clone(table, clone)

    src_files = tx_snapshot(table)["files"]
    assert tx_snapshot(clone)["files"] == src_files
    for name in src_files:
        a = os.stat(os.path.join(table, name))
        b = os.stat(os.path.join(clone, name))
        assert (a.st_dev, a.st_ino) == (b.st_dev, b.st_ino)  # zero-copy

    tx_append(_mk(spark, 100, 130), table, n_files=1)
    tx_append(_mk(spark, 200, 210), clone, n_files=1)
    assert _census(spark, table) == (130, sum(3 * i for i in range(130)))
    assert _census(spark, clone) == (
        110, sum(3 * i for i in range(100)) + sum(3 * i for i in range(200, 210)))

    # source compacts + vacuums away the ORIGINAL shared files; the
    # clone must still read them through its own links
    tx_compact(spark, table, target_bytes=1 << 30)
    assert tx_vacuum(table, retention_seconds=0.0) > 0
    assert _census(spark, clone) == (
        110, sum(3 * i for i in range(100)) + sum(3 * i for i in range(200, 210)))


def test_clone_pins_requested_version(spark, table):
    from pulsar_project_spark.sources.txlog import tx_clone

    tx_append(_mk(spark, 0, 40), table, n_files=1)
    v1 = tx_latest_version(table)
    tx_append(_mk(spark, 40, 90), table, n_files=1)
    import tempfile

    clone = tempfile.mkdtemp(prefix="txlog_clonev_")
    tx_clone(table, clone, version=v1)
    assert _census(spark, clone) == (40, sum(3 * i for i in range(40)))


def test_partition_evolution_prunes_both_generations(spark, table):
    """Two generations under DIFFERENT clustering specs must both prune
    on the recorded per-file bounds: gen 1 range-clustered on id, gen 2
    on (v, id) — the pruned id-slice read must skip files in BOTH
    generations and still return exactly the slice."""
    from pulsar_project_spark.sources.txlog import (
        tx_append,
        tx_read_pruned,
    )

    tx_append(_mk(spark, 0, 400), table, 4, cluster_by=["id"])
    tx_append(_mk(spark, 400, 800), table, 4, cluster_by=["v", "id"])
    df, n_read, n_total = tx_read_pruned(spark, table, "id", 100, 199)
    assert n_total == 8
    assert n_read < n_total          # pruning actually skipped files
    rows = df.collect()
    assert sorted(r.id for r in rows) == list(range(100, 200))
    assert all(r.v == 3 * r.id for r in rows)
    # the gen-2 slice prunes on ITS spec too (v = 3*id bounds)
    df2, n_read2, _ = tx_read_pruned(spark, table, "v", 1500, 1799)
    assert n_read2 < n_total
    assert sorted(r.id for r in df2.collect()) == list(range(500, 600))


# ---------------------------------------------------------------------------
# Round 8: vacuum writer-safety, txn-id survival, AS OF TIMESTAMP,
# deletion vectors, change data feed.
# ---------------------------------------------------------------------------


def test_txn_idempotency_survives_compaction_and_vacuum(spark, table):
    """ADVICE r7: a streaming batch replay after compaction+vacuum must
    still be detected — the (app, batch) ids of dropped manifests fold
    into the sidecar, so a txn-keyed tx_append stays a no-op forever."""
    from pulsar_project_spark.sources.txlog import tx_append, tx_txn_version

    tx_append(_mk(spark, 0, 60), table, 4, txn=("st", 0))
    tx_append(_mk(spark, 60, 100), table, 4, txn=("st", 1))
    tx_compact(spark, table, target_bytes=1 << 30)
    tx_vacuum(table, retention_seconds=0.0)
    # both txn manifests are gone; the sidecar still answers
    assert tx_txn_version(table, "st", 0) is not None
    assert tx_txn_version(table, "st", 1) is not None
    before = tx_snapshot(table)["version"]
    census = _census(spark, table)
    tx_append(_mk(spark, 0, 60), table, 1, txn=("st", 0))
    assert tx_snapshot(table)["version"] == before  # replay = no-op
    assert _census(spark, table) == census


def test_vacuum_keeps_files_of_newer_manifests(spark, table):
    """A commit landing 'mid-vacuum' (here: before, with version above
    the pinned latest) keeps its files even at retention 0 — liveness
    is the union over all surviving manifests, not just the pinned one."""
    tx_append(_mk(spark, 0, 50), table, n_files=2)
    tx_compact(spark, table, target_bytes=1 << 30)
    tx_append(_mk(spark, 50, 80), table, n_files=1)  # newer than compaction
    tx_vacuum(table, retention_seconds=0.0)
    assert _census(spark, table) == (80, sum(3 * i for i in range(80)))


def test_as_of_timestamp_resolution_and_edges(spark, table):
    from pulsar_project_spark.sources.txlog import (
        tx_read_as_of_timestamp,
        tx_version_as_of_timestamp,
    )

    tx_append(_mk(spark, 0, 40), table, n_files=1)     # v1
    tx_append(_mk(spark, 40, 90), table, n_files=1)    # v2
    ts0 = tx_snapshot(table, 0)["ts_us"]
    ts1 = tx_snapshot(table, 1)["ts_us"]
    ts2 = tx_snapshot(table, 2)["ts_us"]
    assert ts0 < ts1 < ts2  # monotonic commit labels
    # before the first commit: no snapshot existed
    with pytest.raises(ValueError):
        tx_version_as_of_timestamp(table, ts0 - 1)
    # exact boundary is inclusive; between commits floors down
    assert tx_version_as_of_timestamp(table, ts1) == 1
    between = ts1 + (ts2 - ts1) // 2  # ts1 <= between < ts2
    assert tx_version_as_of_timestamp(table, between) == 1
    # far future resolves to latest
    assert tx_version_as_of_timestamp(table, ts2 + 10**12) == 2
    df = tx_read_as_of_timestamp(spark, table, ts1)
    assert df.count() == 40


def test_dv_delete_masks_without_rewriting_data(spark, table):
    from pulsar_project_spark.sources.txlog import tx_delete_range_dv

    tx_append(_mk(spark, 0, 100), table, n_files=4)
    files_before = tx_snapshot(table)["files"]
    tx_delete_range_dv(spark, table, "id", 20, 39)
    snap = tx_snapshot(table)
    assert snap["op"] == "delete-dv"
    assert snap["files"] == files_before  # zero data files rewritten
    assert snap.get("dvs")               # masks recorded
    survivors = set(range(100)) - set(range(20, 40))
    assert _census(spark, table) == (len(survivors),
                                     sum(3 * i for i in survivors))
    # time travel to the pre-delete version still sees every row
    assert _census(spark, table, version=1) == (
        100, sum(3 * i for i in range(100)))


def test_dv_second_delete_merges_masks(spark, table):
    from pulsar_project_spark.sources.txlog import tx_delete_range_dv

    tx_append(_mk(spark, 0, 100), table, n_files=2)
    tx_delete_range_dv(spark, table, "id", 10, 19)
    tx_delete_range_dv(spark, table, "id", 15, 24)  # overlaps the first
    survivors = set(range(100)) - set(range(10, 25))
    assert _census(spark, table) == (len(survivors),
                                     sum(3 * i for i in survivors))
    # each data file maps to exactly one dv file (merged, not chained)
    dvs = tx_snapshot(table).get("dvs", {})
    assert len(set(dvs.values())) == 1


def test_dv_compaction_applies_masks_and_vacuum_reclaims(spark, table):
    from pulsar_project_spark.sources.txlog import tx_delete_range_dv

    tx_append(_mk(spark, 0, 100), table, n_files=4)
    tx_delete_range_dv(spark, table, "id", 0, 49)
    census = _census(spark, table)
    tx_compact(spark, table, target_bytes=1 << 30)
    snap = tx_snapshot(table)
    assert not snap.get("dvs")  # DV compaction dropped the masks
    assert _census(spark, table) == census
    # vacuum reclaims the pre-compaction data files AND the dv sidecar
    removed = tx_vacuum(table, retention_seconds=0.0)
    assert removed >= 5  # 4 data inputs + 1 dv file
    assert _census(spark, table) == census


def test_dv_respected_by_cow_delete_and_merge(spark, table):
    """A COW delete/merge over a DV'd snapshot must apply the masks
    when rewriting — a masked row can never resurrect."""
    from pulsar_project_spark.sources.txlog import (
        tx_delete_range,
        tx_delete_range_dv,
    )

    tx_append(_mk(spark, 0, 100), table, n_files=2)
    tx_delete_range_dv(spark, table, "id", 0, 9)
    tx_delete_range(spark, table, "id", 90, 99)  # COW rewrite, masks on
    survivors = set(range(10, 90))
    assert _census(spark, table) == (len(survivors),
                                     sum(3 * i for i in survivors))


def test_table_changes_weighted_feed(spark, table):
    from pulsar_project_spark.sources.txlog import (
        tx_delete_range,
        tx_table_changes,
    )

    tx_append(_mk(spark, 0, 100), table, n_files=4)     # v1: +100
    tx_append(_mk(spark, 100, 150), table, n_files=2)   # v2: +50
    tx_compact(spark, table, target_bytes=1 << 30)      # v3: layout only
    tx_delete_range(spark, table, "id", 20, 29)         # v4: -10 (COW)
    feed = tx_table_changes(spark, table, 0).collect()
    by = {}
    for r in feed:
        by.setdefault((r["_commit_version"], r["_change_type"]), []).append(r)
    assert sum(r["_n"] for r in by[(1, "insert")]) == 100
    assert sum(r["_n"] for r in by[(2, "insert")]) == 50
    assert (3, "insert") not in by and (3, "delete") not in by
    assert sorted(r["id"] for r in by[(4, "delete")]) == list(range(20, 30))
    assert (4, "insert") not in by  # carried rows cancel to weight 0
    # range semantics: (v_from, v_to] — changes since v2 only
    tail = tx_table_changes(spark, table, 2).collect()
    assert {r["_change_type"] for r in tail} == {"delete"}


def test_table_changes_sees_dv_deletes(spark, table):
    from pulsar_project_spark.sources.txlog import (
        tx_delete_range_dv,
        tx_table_changes,
    )

    tx_append(_mk(spark, 0, 50), table, n_files=2)      # v1
    tx_delete_range_dv(spark, table, "id", 5, 9)        # v2: DV delete
    feed = tx_table_changes(spark, table, 1).collect()
    assert sorted(r["id"] for r in feed) == [5, 6, 7, 8, 9]
    assert all(r["_change_type"] == "delete" and r["_n"] == 1 for r in feed)


def test_table_changes_fold_reconstructs_table(spark, table):
    """The IVM identity: folding the full feed (+_n for inserts, -_n
    for deletes) reproduces the live table's aggregate exactly."""
    from pyspark.sql import functions as F

    from pulsar_project_spark.sources.txlog import (
        tx_delete_range_dv,
        tx_table_changes,
    )

    tx_append(_mk(spark, 0, 200), table, n_files=4)
    tx_delete_range_dv(spark, table, "id", 100, 149)
    tx_append(_mk(spark, 200, 220), table, n_files=1)
    w = F.when(F.col("_change_type") == "insert", F.col("_n")) \
         .otherwise(-F.col("_n"))
    folded = tx_table_changes(spark, table, 0).agg(
        F.sum(w).alias("n"), F.sum(w * F.col("v")).alias("sv")).first()
    assert (folded["n"], folded["sv"]) == _census(spark, table)


def test_restore_is_forward_commit_with_feed_undo(spark, table):
    from pulsar_project_spark.sources.txlog import (
        tx_restore,
        tx_table_changes,
    )

    tx_append(_mk(spark, 0, 60), table, n_files=2)      # v1
    tx_append(_mk(spark, 60, 100), table, n_files=2)    # v2 (the bad one)
    v3 = tx_restore(table, 1)
    assert v3 == 3  # forward commit, history intact
    assert _census(spark, table) == (60, sum(3 * i for i in range(60)))
    # the bad version is still readable for forensics
    assert _census(spark, table, version=2) == (
        100, sum(3 * i for i in range(100)))
    # the feed shows the restore as exactly the row-level undo
    feed = tx_table_changes(spark, table, 2).collect()
    assert sorted(r["id"] for r in feed) == list(range(60, 100))
    assert all(r["_change_type"] == "delete" for r in feed)
    # vacuum now reclaims the bad commit's files, restored state reads on
    tx_vacuum(table, retention_seconds=0.0)
    assert _census(spark, table) == (60, sum(3 * i for i in range(60)))


def test_restore_carries_dvs(spark, table):
    from pulsar_project_spark.sources.txlog import (
        tx_delete_range_dv,
        tx_restore,
    )

    tx_append(_mk(spark, 0, 50), table, n_files=2)      # v1
    tx_delete_range_dv(spark, table, "id", 0, 9)        # v2 (masked)
    tx_append(_mk(spark, 50, 80), table, n_files=1)     # v3
    tx_restore(table, 2)                                # back to masked v2
    survivors = set(range(10, 50))
    assert _census(spark, table) == (len(survivors),
                                     sum(3 * i for i in survivors))


def test_history_describes_every_surviving_commit(spark, table):
    from pulsar_project_spark.sources.txlog import (
        tx_append,
        tx_delete_range_dv,
        tx_history,
        tx_restore,
    )

    tx_append(_mk(spark, 0, 50), table, n_files=2)              # v1
    tx_append(_mk(spark, 50, 70), table, 1, txn=("st", 0))  # v2
    tx_delete_range_dv(spark, table, "id", 0, 9)                # v3
    tx_compact(spark, table, target_bytes=1 << 30)              # v4
    tx_restore(table, 2)                                        # v5
    h = {r.version: r for r in tx_history(spark, table).collect()}
    assert sorted(h) == [0, 1, 2, 3, 4, 5]
    assert h[0].op == "init" and h[1].op == "append"
    assert (h[2].txn_app, h[2].txn_batch) == ("st", 0)
    assert h[3].op == "delete-dv" and h[3].n_dv_files == 1
    assert h[4].op == "compact" and h[4].n_dv_files == 0
    assert h[5].op == "restore:v2" and h[5].parent == 4
    # monotonic commit labels, newest-first ordering
    versions = [r.version for r in tx_history(spark, table).collect()]
    assert versions == sorted(versions, reverse=True)
    ts = [h[v].ts_us for v in sorted(h)]
    assert ts == sorted(ts) and len(set(ts)) == len(ts)
    # vacuum trims history exactly like time travel
    tx_vacuum(table, retention_seconds=0.0)
    left = {r.version for r in tx_history(spark, table).collect()}
    assert left == {5}


def test_schema_evolution_merged_read_with_dvs(spark, table):
    """ADD COLUMN + deletion vectors compose: generation 1 lacks the
    new column, generation 2 carries it, a DV delete masks rows across
    BOTH generations (predicate on a column present everywhere), and
    the merged masked read NULL-fills the old generation exactly."""
    from pulsar_project_spark.sources.txlog import tx_delete_range_dv

    gen1 = spark.range(0, 50).selectExpr("id", "id * 3 AS v")
    gen2 = spark.range(50, 80).selectExpr("id", "id * 3 AS v",
                                          "id * 7 AS extra")
    tx_append(gen1, table, n_files=2)
    tx_append(gen2, table, n_files=1)
    tx_delete_range_dv(spark, table, "id", 40, 59)  # spans the boundary
    back = tx_read(spark, table, merge_schema=True)
    rows = {r.id: (r.v, r.extra) for r in back.collect()}
    survivors = set(range(40)) | set(range(60, 80))
    assert set(rows) == survivors
    for i in survivors:
        assert rows[i][0] == 3 * i
        assert rows[i][1] == (7 * i if i >= 60 else None)


def test_update_rewrites_only_overlapping_files(spark, table):
    from pulsar_project_spark.sources.txlog import (
        tx_optimize_zorder,
        tx_read_pruned,
        tx_update,
    )

    grid = spark.range(64 * 64).selectExpr(
        "id % 64 AS a", "id div 64 AS b", "id AS v")
    tx_append(grid, table, n_files=4)
    tx_optimize_zorder(spark, table, "a", "b", n_files=16)
    files_before = set(tx_snapshot(table)["files"])
    v = tx_update(spark, table, "a", 10, 13, {"v": "v * 2 + 1"})
    snap = tx_snapshot(table)
    assert snap["version"] == v and snap["op"] == "update"
    carried = files_before & set(snap["files"])
    assert len(carried) > len(files_before) / 2, (
        len(carried), len(files_before))
    got = sorted(r["v"] for r in tx_read(spark, table).collect())
    want = sorted(i * 2 + 1 if 10 <= i % 64 <= 13 else i
                  for i in range(64 * 64))
    assert got == want
    # schema is update-invariant and rewritten files got fresh bounds
    assert [f.name for f in tx_read(spark, table).schema] == ["a", "b", "v"]
    _df, n_read, n_total = tx_read_pruned(spark, table, "a", 3, 6)
    assert n_read < n_total


def test_update_keeps_nulls_and_noops_outside_bounds(spark, table):
    from pulsar_project_spark.sources.txlog import (
        tx_optimize_zorder,
        tx_update,
    )

    rows = spark.createDataFrame(
        [(None, 1, 100), (5, 2, 101), (50, 3, 102)],
        "a: bigint, b: bigint, v: bigint")
    tx_append(rows, table, n_files=1)
    tx_optimize_zorder(spark, table, "a", "b", n_files=1)
    v1 = tx_latest_version(table)
    # range that PROVABLY matches nothing: bounds say skip, no commit
    assert tx_update(spark, table, "a", 1000, 2000, {"v": "0"}) == v1
    tx_update(spark, table, "a", 0, 10, {"v": "v + 1000"})
    got = sorted(((r["a"], r["v"]) for r in tx_read(spark, table).collect()),
                 key=lambda t: t[1])
    assert got == [(None, 100), (50, 102), (5, 1101)]


def test_update_does_not_resurrect_dv_masked_rows(spark, table):
    from pulsar_project_spark.sources.txlog import (
        tx_delete_range_dv,
        tx_update,
    )

    tx_append(_mk(spark, 0, 100), table, n_files=2)
    tx_delete_range_dv(spark, table, "id", 40, 59)
    # update overlaps the masked range; masked rows must stay deleted,
    # not reappear transformed in the rewritten files
    tx_update(spark, table, "id", 50, 69, {"v": "v + 7"})
    got = {r["id"]: r["v"] for r in tx_read(spark, table).collect()}
    assert set(got) == set(range(40)) | set(range(60, 100))
    for i in got:
        assert got[i] == (3 * i + 7 if 60 <= i <= 69 else 3 * i)
    # the update rewrite applied the masks, so the rewritten files carry
    # no DV debt for the masked range they absorbed
    snap = tx_snapshot(table)
    assert snap["op"] == "update"


def test_typed_changes_labels_updates_and_skips_noops(spark, table):
    from pyspark.sql import functions as F

    from pulsar_project_spark.sources.txlog import (
        tx_merge_upsert,
        tx_typed_changes,
    )

    tx_append(_mk(spark, 0, 20), table, n_files=1)                  # v1
    # replace ids 5..9 with v*2+1 (no integer fixed point) and insert
    # ids 100..104; ids 0..4 are "updated" to their EXISTING value via
    # a merge that carries them unchanged -> must emit nothing for them
    cur = tx_read(spark, table)
    upd = (
        cur.filter(F.col("id") < 10)
        .select("id", F.when(F.col("id") >= 5, F.col("v") * 2 + 1)
                .otherwise(F.col("v")).alias("v"))
        .unionByName(spark.range(100, 105).selectExpr("id", "id AS v"))
    )
    tx_merge_upsert(spark, table, upd, "id")                        # v2
    feed = tx_typed_changes(spark, table, "id", 0)
    rows = [(r["_commit_version"], r["id"], r["v"], r["_change_type"],
             r["_n"]) for r in feed.collect()]
    by_type = {}
    for cv, i, v, ct, n in rows:
        by_type.setdefault(ct, set()).add((cv, i, v))
        assert n == 1
    assert by_type["insert"] == (
        {(1, i, 3 * i) for i in range(20)}
        | {(2, i, i) for i in range(100, 105)})
    assert by_type["update_preimage"] == {(2, i, 3 * i)
                                          for i in range(5, 10)}
    assert by_type["update_postimage"] == {(2, i, 6 * i + 1)
                                           for i in range(5, 10)}
    assert "delete" not in by_type  # carried no-op "updates" cancelled


def test_typed_changes_one_sided_delete_stays_delete(spark, table):
    from pulsar_project_spark.sources.txlog import (
        tx_delete_range,
        tx_typed_changes,
    )

    tx_append(_mk(spark, 0, 10), table, n_files=1)
    tx_delete_range(spark, table, "id", 3, 5)
    feed = tx_typed_changes(spark, table, "id", 1)
    got = {(r["id"], r["_change_type"]) for r in feed.collect()}
    assert got == {(i, "delete") for i in (3, 4, 5)}


def test_as_of_timestamp_binary_search_survives_vacuum_gaps(spark, table):
    from pulsar_project_spark.sources.txlog import (
        tx_version_as_of_timestamp,
    )

    for i in range(6):
        tx_append(_mk(spark, i * 10, i * 10 + 10), table, n_files=1)
    stamps = {v: tx_snapshot(table, v)["ts_us"] for v in range(7)}
    # simulate a partial vacuum: drop two mid-chain manifests
    for v in (2, 4):
        os.unlink(os.path.join(table, "_manifests", f"v{v:08d}.json"))
    # an instant at a vacuumed commit floors to the nearest SURVIVING
    # earlier version; surviving versions resolve to themselves
    assert tx_version_as_of_timestamp(table, stamps[2]) == 1
    assert tx_version_as_of_timestamp(table, stamps[3]) == 3
    assert tx_version_as_of_timestamp(table, stamps[4]) == 3
    assert tx_version_as_of_timestamp(table, stamps[6] + 10**9) == 6
    with pytest.raises(ValueError):
        tx_version_as_of_timestamp(table, stamps[0] - 1)


def test_bloom_point_lookup_skips_files_bounds_cannot(spark, table):
    from pyspark.sql import functions as F

    from pulsar_project_spark.sources.txlog import (
        tx_append,
        tx_read_bloom_point,
    )

    # hash-scatter 4000 ids over 8 files: every file spans ~the whole
    # range, so min/max bounds prune NOTHING — only the bloom can skip
    df = spark.range(4000).selectExpr("id", "id * 7 AS v")
    tx_append(df.repartition(8, "id"), table, bloom_col="id")
    snap = tx_snapshot(table)
    stats = snap["stats"]
    assert all("__bloom__id" in stats[n] and "id" in stats[n]
               for n in snap["files"])
    lo = min(stats[n]["id"][0] for n in snap["files"])
    hi = max(stats[n]["id"][1] for n in snap["files"])
    assert all(stats[n]["id"][0] < lo + 400 and stats[n]["id"][1] > hi - 400
               for n in snap["files"]), "scatter failed: bounds would prune"
    out, n_read, n_total = tx_read_bloom_point(spark, table, "id", [1234])
    assert n_total == 8 and n_read < n_total, (n_read, n_total)
    assert [(r["id"], r["v"]) for r in out.collect()] == [(1234, 8638)]
    # absent needle: with ~1% fpp per file, usually zero files survive;
    # either way the result is exactly empty
    try:
        out2, n2, _ = tx_read_bloom_point(spark, table, "id", [99999])
        assert out2.count() == 0 and n2 <= 2
    except ValueError:
        pass  # proved absent everywhere — the stronger outcome


def test_bloom_carries_through_kept_files_and_drops_on_rewrite(spark, table):
    from pulsar_project_spark.sources.txlog import (
        tx_append,
        tx_delete_range,
        tx_read_bloom_point,
    )

    tx_append(_mk(spark, 0, 1000), table, 4, bloom_col="id")
    # COW delete far outside most files: kept files keep their blooms
    tx_delete_range(spark, table, "id", 0, 10)
    snap = tx_snapshot(table)
    with_bloom = [n for n in snap["files"]
                  if "__bloom__id" in snap["stats"].get(n, {})]
    without = [n for n in snap["files"]
               if "__bloom__id" not in snap["stats"].get(n, {})]
    assert with_bloom, "kept files lost their blooms"
    assert without, "rewrite output should have no bloom (conservative)"
    # lookup still exact: bloom skips among indexed files, the rewrite
    # output is conservatively read
    out, n_read, n_total = tx_read_bloom_point(spark, table, "id", [500])
    assert [(r["id"], r["v"]) for r in out.collect()] == [(500, 1500)]
    assert n_read < n_total


def test_bloom_never_false_negative_exhaustive(spark, table):
    from pulsar_project_spark.sources.txlog import (
        tx_append,
        tx_read_bloom_point,
    )

    tx_append(_mk(spark, 0, 300), table, 4, bloom_col="id")
    out, _, _ = tx_read_bloom_point(spark, table, "id", list(range(300)))
    assert out.count() == 300  # every stored needle found


def test_mixed_ops_concurrent_writers_serialize(spark, table):
    """Appends + a COW delete + a compaction racing on one table: every
    writer must eventually commit through CAS-retry (appends rebase,
    delete/compaction REPLAN from the fresh snapshot), and the final
    state must equal the unique order-independent outcome — the delete
    targets only pre-populated ids no appender touches, so any serial
    order yields the same rows. This is the serializability claim of
    the module docstring exercised with every DML class at once, not
    just appends."""
    import threading

    from pulsar_project_spark.sources.txlog import tx_delete_range

    tx_append(_mk(spark, 0, 1000), table, n_files=4)
    errs = []

    def _run(fn):
        try:
            fn()
        except Exception as exc:  # noqa: BLE001 - surface in main thread
            errs.append(exc)

    appenders = [
        threading.Thread(target=_run, args=(
            lambda lo=i: tx_append(
                _mk(spark, 10_000 + lo * 100, 10_000 + lo * 100 + 100),
                table, n_files=1, max_retries=64),))
        for i in range(4)
    ]
    deleter = threading.Thread(target=_run, args=(
        lambda: tx_delete_range(spark, table, "id", 100, 199,
                                max_retries=64),))
    compactor = threading.Thread(target=_run, args=(
        lambda: tx_compact(spark, table, target_bytes=1 << 22,
                           max_retries=64),))
    threads = appenders + [deleter, compactor]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    got = sorted(r["id"] for r in tx_read(spark, table).collect())
    want = sorted(
        [i for i in range(1000) if not (100 <= i <= 199)]
        + [i for lo in range(4)
           for i in range(10_000 + lo * 100, 10_000 + lo * 100 + 100)])
    assert got == want
    # every writer produced exactly one surviving commit on the chain
    assert tx_latest_version(table) == 7


def test_compaction_rebuilds_blooms_on_outputs(spark, table):
    from pulsar_project_spark.sources.txlog import (
        tx_append,
        tx_read_bloom_point,
    )

    for i in range(3):
        tx_append(_mk(spark, i * 1000, i * 1000 + 1000).repartition(2, "id"),
                  table, bloom_col="id")
    tx_compact(spark, table, target_bytes=1 << 26)  # everything merges
    snap = tx_snapshot(table)
    assert snap["op"] == "compact"
    assert all("__bloom__id" in snap["stats"].get(n, {})
               for n in snap["files"]), "compaction dropped the bloom index"
    out, n_read, n_total = tx_read_bloom_point(spark, table, "id", [1234])
    assert [(r["id"], r["v"]) for r in out.collect()] == [(1234, 3702)]
    # a fully-compacted table may be a single file; skipping is only
    # observable with >1 output, so assert exactness + index presence
    assert n_read <= n_total


@pytest.mark.gate  # all-writers constraint sweep
def test_check_constraints_enforced_on_every_writer(spark, table):
    from pyspark.sql import functions as F

    from pulsar_project_spark.sources.txlog import (
        TxConstraintViolation,
        tx_append,
        tx_constraints,
        tx_drop_constraint,
        tx_merge_upsert,
        tx_set_constraint,
        tx_update,
    )

    tx_append(_mk(spark, 1, 100), table, n_files=2)
    tx_set_constraint(spark, table, "v_positive", "v > 0")
    assert tx_constraints(table) == {"v_positive": "v > 0"}
    v_before = tx_latest_version(table)
    # violating append rejected WHOLE, version unchanged
    with pytest.raises(TxConstraintViolation):
        tx_append(spark.createDataFrame([(500, -1)], "id: long, v: long"),
                  table)
    with pytest.raises(TxConstraintViolation):
        tx_append(spark.createDataFrame([(501, 0)], "id: long, v: long"),
                  table, txn=("t", 1))
    with pytest.raises(TxConstraintViolation):
        tx_merge_upsert(
            spark, table,
            spark.createDataFrame([(5, -9)], "id: long, v: long"), "id")
    with pytest.raises(TxConstraintViolation):
        tx_update(spark, table, "id", 1, 10, {"v": "v - 1000000"})
    assert tx_latest_version(table) == v_before
    # valid writes pass; NULL predicate result passes (SQL CHECK rule)
    tx_append(spark.createDataFrame([(502, None)], "id: long, v: long"),
              table)
    # constraints survive compaction (metadata carry-through)
    tx_compact(spark, table, target_bytes=1 << 26)
    assert tx_constraints(table) == {"v_positive": "v > 0"}
    with pytest.raises(TxConstraintViolation):
        tx_append(spark.createDataFrame([(503, -2)], "id: long, v: long"),
                  table)
    # drop, then the same write passes
    tx_drop_constraint(table, "v_positive")
    tx_append(spark.createDataFrame([(503, -2)], "id: long, v: long"),
              table)
    got = {r["id"]: r["v"] for r in tx_read(spark, table).collect()}
    assert got[503] == -2 and got[502] is None


def test_add_constraint_validates_existing_data(spark, table):
    from pulsar_project_spark.sources.txlog import (
        TxConstraintViolation,
        tx_set_constraint,
    )

    tx_append(_mk(spark, 0, 10), table, n_files=1)  # id=0 -> v=0
    with pytest.raises(TxConstraintViolation):
        tx_set_constraint(spark, table, "v_positive", "v > 0")
    # the failed ADD commits nothing
    assert "constraints" not in tx_snapshot(table)


def test_optimize_zorder_rebuilds_blooms(spark, table):
    from pulsar_project_spark.sources.txlog import (
        tx_append,
        tx_optimize_zorder,
        tx_read_bloom_point,
    )

    grid = spark.range(2000).selectExpr(
        "id % 64 AS a", "id div 64 AS b", "id AS v")
    tx_append(grid.repartition(4, "v"), table, bloom_col="v")
    tx_optimize_zorder(spark, table, "a", "b", n_files=4)
    snap = tx_snapshot(table)
    assert snap["op"] == "optimize-zorder"
    assert all("__bloom__v" in snap["stats"].get(n, {})
               for n in snap["files"]), "OPTIMIZE dropped the bloom index"
    out, n_read, n_total = tx_read_bloom_point(spark, table, "v", [777])
    assert [r["v"] for r in out.collect()] == [777]
    assert n_read < n_total  # zordered on (a,b): v scatters, bloom skips


def test_tx_detail_reflects_snapshot_metadata(spark, table):
    from pulsar_project_spark.sources.txlog import (
        tx_append,
        tx_delete_range_dv,
        tx_detail,
    )

    tx_append(_mk(spark, 0, 100), table, n_files=2)
    tx_append(_mk(spark, 100, 200), table, 2, bloom_col="id")
    tx_delete_range_dv(spark, table, "id", 0, 9)
    d = {r["file"]: r for r in tx_detail(spark, table).collect()}
    snap = tx_snapshot(table)
    data_files = [n for n in snap["files"]]
    assert set(d) == set(data_files)
    assert sum(r["n_rows"] for r in d.values()) == 200  # DV masks, not rows
    assert sum(r["bloom_cols"] for r in d.values()) == 2  # bloomed gen only
    assert any(r["has_dv"] == "true" for r in d.values())
    assert all(r["bytes"] > 0 for r in d.values())


def test_rename_column_chain_time_travel_and_dml_migration(spark, table):
    from pyspark.sql import functions as F

    from pulsar_project_spark.sources.txlog import (
        tx_delete_range,
        tx_rename_column,
    )

    tx_append(_mk(spark, 0, 100), table, n_files=2)                 # v1: v
    v_pre = tx_latest_version(table)
    tx_rename_column(table, "v", "val")                             # v2
    tx_append(spark.range(100, 150).selectExpr(
        "id", "id * 3 AS val"), table, n_files=1)                   # v3
    tx_rename_column(table, "val", "amount")                        # v4: chain
    got = tx_read(spark, table)
    assert sorted(got.columns) == ["amount", "id"]
    assert got.agg(F.sum("amount")).first()[0] == sum(
        3 * i for i in range(150))
    # time travel: the pre-rename snapshot still reads under ITS name
    old = tx_read(spark, table, v_pre)
    assert sorted(old.columns) == ["id", "v"]
    # DML on the logical name migrates the files it touches
    tx_delete_range(spark, table, "id", 0, 9)
    after = tx_read(spark, table)
    assert after.agg(F.sum("amount")).first()[0] == sum(
        3 * i for i in range(10, 150))
    # renaming onto an existing target is a merge, not a rename
    with pytest.raises(ValueError):
        tx_rename_column(table, "id", "amount")


def test_change_feed_across_rename_uses_final_schema(spark, table):
    from pulsar_project_spark.sources.txlog import (
        tx_delete_range,
        tx_rename_column,
        tx_table_changes,
    )

    tx_append(_mk(spark, 0, 20), table, n_files=1)                  # v1
    tx_rename_column(table, "v", "val")                             # v2
    tx_delete_range(spark, table, "id", 5, 7)                       # v3
    feed = tx_table_changes(spark, table, 0)
    assert "val" in feed.columns and "v" not in feed.columns
    rows = {(r["_commit_version"], r["id"], r["val"], r["_change_type"])
            for r in feed.collect()}
    assert rows == ({(1, i, 3 * i, "insert") for i in range(20)}
                    | {(3, i, 3 * i, "delete") for i in (5, 6, 7)})


def test_clone_carries_renames_and_constraints(spark, table):
    import tempfile as _tf

    from pyspark.sql import functions as F

    from pulsar_project_spark.sources.txlog import (
        TxConstraintViolation,
        tx_clone,
        tx_constraints,
        tx_rename_column,
        tx_set_constraint,
    )

    tx_append(_mk(spark, 1, 50), table, n_files=1)
    tx_rename_column(table, "v", "val")
    tx_set_constraint(spark, table, "val_pos", "val > 0")
    dst = _tf.mkdtemp(prefix="txclone_")
    tx_clone(table, dst)
    got = tx_read(spark, dst)
    assert sorted(got.columns) == ["id", "val"]  # logical schema cloned
    assert got.agg(F.sum("val")).first()[0] == sum(3 * i for i in range(1, 50))
    assert tx_constraints(dst) == {"val_pos": "val > 0"}
    with pytest.raises(TxConstraintViolation):
        tx_append(spark.createDataFrame([(99, -1)], "id: long, val: long"),
                  dst)


def test_drop_column_lazy_and_time_travel(spark, table):
    from pyspark.sql import functions as F

    from pulsar_project_spark.sources.txlog import (
        tx_drop_column,
        tx_rename_column,
        tx_set_constraint,
    )

    wide = spark.range(0, 50).selectExpr("id", "id * 3 AS v", "id % 5 AS tag")
    tx_append(wide, table, n_files=1)                               # v1
    v_pre = tx_latest_version(table)
    tx_drop_column(table, "tag")                                    # v2
    got = tx_read(spark, table)
    assert sorted(got.columns) == ["id", "v"]
    assert got.count() == 50
    # pre-drop snapshot still shows the column
    assert sorted(tx_read(spark, table, v_pre).columns) == ["id", "tag", "v"]
    # new generation never had the column; merged read stays clean
    tx_append(spark.range(50, 60).selectExpr("id", "id * 3 AS v"),
              table, n_files=1)                                     # v3
    after = tx_read(spark, table)
    assert sorted(after.columns) == ["id", "v"] and after.count() == 60
    # dropping a renamed column drops the logical name
    tx_rename_column(table, "v", "val")
    tx_drop_column(table, "val")
    assert tx_read(spark, table).columns == ["id"]
    # a constraint-referenced column refuses to drop
    tx_set_constraint(spark, table, "id_pos", "id >= 0")
    with pytest.raises(ValueError):
        tx_drop_column(table, "id")


def test_change_feed_across_drop_column_uses_final_schema(spark, table):
    from pulsar_project_spark.sources.txlog import (
        tx_delete_range,
        tx_drop_column,
        tx_table_changes,
    )

    wide = spark.range(0, 20).selectExpr("id", "id * 3 AS v", "id % 5 AS tag")
    tx_append(wide, table, n_files=1)                               # v1
    tx_drop_column(table, "tag")                                    # v2
    tx_delete_range(spark, table, "id", 5, 7)                       # v3
    feed = tx_table_changes(spark, table, 0)
    assert "tag" not in feed.columns
    rows = {(r["_commit_version"], r["id"], r["v"], r["_change_type"])
            for r in feed.collect()}
    assert rows == ({(1, i, 3 * i, "insert") for i in range(20)}
                    | {(3, i, 3 * i, "delete") for i in (5, 6, 7)})


# ---------------------------------------------------------------------------
# Round 9: ADVICE r8 regressions (constraint bypass, rename collision,
# OPTIMIZE-after-rename blooms, TOCTOU, bloom probe typing), rename-chain
# pruning, and ALTER COLUMN TYPE widening.
# ---------------------------------------------------------------------------


def test_update_cannot_bypass_constraint_via_predicate_move(spark, table):
    # ADVICE r8 high: the WHERE predicate must be resolved against
    # PRE-update values — an update that moves the predicate column out
    # of [lo, hi] must not smuggle violating rows past enforcement
    from pulsar_project_spark.sources.txlog import (
        TxConstraintViolation, tx_set_constraint, tx_update,
    )

    tx_append(spark.range(1, 11).selectExpr("id", "id AS v"),
              table, n_files=1)
    tx_set_constraint(spark, table, "v_pos", "v > 0")
    with pytest.raises(TxConstraintViolation):
        tx_update(spark, table, "v", 1, 10, {"v": "v - 100"})
    assert tx_read(spark, table).filter("v <= 0").count() == 0


def test_rename_validates_old_exists_and_new_not_live(spark, table):
    # ADVICE r8 medium: renaming onto a live column merged two columns
    # and silently discarded the old one's data
    from pulsar_project_spark.sources.txlog import tx_rename_column

    tx_append(spark.range(5).selectExpr("id AS a", "id * 2 AS b"),
              table, n_files=1)
    with pytest.raises(ValueError, match="live column"):
        tx_rename_column(table, "a", "b")
    with pytest.raises(ValueError, match="no live column"):
        tx_rename_column(table, "zz", "c")
    # data intact, both columns still read
    got = tx_read(spark, table)
    assert sorted(got.columns) == ["a", "b"]
    assert got.count() == 5


def test_optimize_and_compact_rebuild_blooms_after_rename_drop(spark, table):
    # ADVICE r8 medium: bloom rebuild used the physical (stats-key)
    # name against files staged from the logical schema → ArrowInvalid,
    # OPTIMIZE permanently broken after RENAME/DROP COLUMN
    from pulsar_project_spark.sources.txlog import (
        _BLOOM_PREFIX,
        tx_append,
        tx_drop_column,
        tx_optimize_zorder,
        tx_read_bloom_point,
        tx_rename_column,
    )

    df = spark.range(200).selectExpr(
        "id AS k", "id * 2 AS v", "id % 7 AS scratch")
    tx_append(df, table, 2, bloom_col="k")
    tx_rename_column(table, "k", "key")
    tx_drop_column(table, "scratch")
    tx_compact(spark, table, target_bytes=1 << 30)  # merges both files
    snap = tx_snapshot(table)
    assert all(
        _BLOOM_PREFIX + "key" in s for s in snap["stats"].values()
    ), "compaction must rebuild the bloom under the LOGICAL name"
    got, n_read, n_total = tx_read_bloom_point(spark, table, "key", [17])
    assert got.count() == 1
    tx_optimize_zorder(spark, table, "key", "v", n_files=4)
    got2 = tx_read(spark, table)
    assert got2.count() == 200 and "scratch" not in got2.columns


def test_constraint_added_mid_write_binds_via_retry(spark, table,
                                                    monkeypatch):
    # ADVICE r8 TOCTOU: a constraint committed between a writer's
    # validation and its commit must bind the staged rows
    import pulsar_project_spark.sources.txlog as tl

    tx_append(spark.range(1, 5).selectExpr("id", "id AS v"),
              table, n_files=1)
    orig = tl._stage_dataframe
    fired = {"done": False}

    def staged(df, tbl, *args, **kwargs):
        out = orig(df, tbl, *args, **kwargs)
        if not fired["done"]:
            fired["done"] = True
            tl.tx_set_constraint(spark, tbl, "v_pos", "v > 0")
        return out

    monkeypatch.setattr(tl, "_stage_dataframe", staged)
    with pytest.raises(tl.TxConstraintViolation):
        tl.tx_append(spark.range(1, 3).selectExpr("id", "-id AS v"),
                     table, n_files=1)
    assert tx_read(spark, table).filter("v <= 0").count() == 0


def test_bloom_probe_and_column_types_validated(spark, table):
    # ADVICE r8 low: a float probe str()-hashes differently from the
    # stored int → silent false negative; now an explicit TypeError
    from pulsar_project_spark.sources.txlog import (
        tx_append, tx_read_bloom_point,
    )

    tx_append(spark.range(10).selectExpr("id AS k", "id AS v"), table, 1,
              bloom_col="k")
    with pytest.raises(TypeError, match="only int and str"):
        tx_read_bloom_point(spark, table, "k", [5.0])
    with pytest.raises(TypeError, match="only int and str"):
        tx_append(spark.range(10).selectExpr("cast(id AS double) AS f"), table,
                  1, bloom_col="f")


def test_pruned_read_resolves_rename_chain(spark, table):
    # VERDICT r8 order #1: bounds recorded under the physical
    # (pre-rename) name must keep skipping under the logical name
    from pulsar_project_spark.sources.txlog import (
        tx_append, tx_read_pruned, tx_rename_column,
    )

    gen1 = spark.range(100).selectExpr("id AS a", "id * 2 AS x")
    tx_append(gen1, table, 4, cluster_by=["a"])
    tx_rename_column(table, "a", "b")
    gen2 = spark.range(100, 200).selectExpr("id AS b", "id * 2 AS x")
    tx_append(gen2, table, 4, cluster_by=["b"])
    out, n_read, n_total = tx_read_pruned(spark, table, "b", 0, 24)
    assert n_total == 8
    assert n_read <= 2, "pre-rename generation must PRUNE, not scan"
    assert out.count() == 25


def test_pre_rename_bloom_still_skips(spark, table):
    from pulsar_project_spark.sources.txlog import (
        tx_append, tx_read_bloom_point, tx_rename_column,
    )

    tx_append(spark.range(1000).selectExpr("id AS a", "id AS v")
              .repartition(4, "a"), table, bloom_col="a")
    tx_rename_column(table, "a", "b")
    got, n_read, n_total = tx_read_bloom_point(spark, table, "b", [17])
    assert n_total == 4 and n_read < n_total
    assert got.count() == 1


def test_widen_column_end_to_end_and_time_travel(spark, table):
    from pulsar_project_spark.sources.txlog import tx_widen_column

    tx_append(spark.range(5).selectExpr(
        "cast(id AS int) AS v", "id AS k"), table, n_files=1)     # v1
    tx_widen_column(table, "v", "bigint")                          # v2
    tx_append(spark.range(5, 10).selectExpr(
        "cast(id AS bigint) AS v", "id AS k"), table, n_files=1)  # v3
    cur = tx_read(spark, table)
    assert cur.schema["v"].dataType.simpleString() == "bigint"
    assert cur.agg({"v": "sum"}).first()[0] == sum(range(10))
    assert cur.count() == 10
    # widen visible only after its commit: the pre-widen snapshot
    # reads under its own (narrow) type — schema history is history
    old = tx_read(spark, table, 1)
    assert old.schema["v"].dataType.simpleString() == "int"
    # idempotent re-widen commits nothing
    assert tx_widen_column(table, "v", "bigint") == tx_latest_version(table)


def test_widen_rejects_lossy_narrowing_and_missing(spark, table):
    from pulsar_project_spark.sources.txlog import tx_widen_column

    tx_append(spark.range(5).selectExpr("id AS v"), table, n_files=1)
    with pytest.raises(ValueError):
        tx_widen_column(table, "v", "int")       # narrowing
    with pytest.raises(ValueError):
        tx_widen_column(table, "v", "double")    # lossy above 2^53
    with pytest.raises(ValueError):
        tx_widen_column(table, "nope", "bigint")


def test_widen_then_filter_pushdown_and_pruning(spark, table):
    # the widened read must keep BOTH skipping layers: manifest bounds
    # (recorded pre-widen) and parquet predicate pushdown under
    # scan-level type promotion
    from pulsar_project_spark.sources.txlog import (
        tx_append, tx_read_pruned, tx_widen_column,
    )

    df = spark.range(100).selectExpr("cast(id AS int) AS v", "id AS k")
    tx_append(df, table, 4, cluster_by=["v"])
    tx_widen_column(table, "v", "bigint")
    out, n_read, n_total = tx_read_pruned(spark, table, "v", 0, 24)
    assert n_total == 4 and n_read <= 2
    assert out.count() == 25
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "GreaterThanOrEqual(v,0" in plan


def test_widen_composes_with_rename(spark, table):
    from pulsar_project_spark.sources.txlog import (
        tx_rename_column, tx_widen_column,
    )

    tx_append(spark.range(5).selectExpr("cast(id AS int) AS a"),
              table, n_files=1)
    tx_rename_column(table, "a", "b")
    tx_widen_column(table, "b", "bigint")   # keyed by LOGICAL name
    tx_append(spark.range(5, 8).selectExpr("id AS b"), table, n_files=1)
    got = tx_read(spark, table)
    assert got.columns == ["b"]
    assert got.schema["b"].dataType.simpleString() == "bigint"
    assert got.agg({"b": "sum"}).first()[0] == sum(range(8))


def test_widen_survives_compaction_and_update(spark, table):
    # DML migrates narrow files to the wide physical type; the type
    # map stays correct throughout
    from pulsar_project_spark.sources.txlog import (
        tx_update, tx_widen_column,
    )
    import pyarrow.parquet as papq

    tx_append(spark.range(10).selectExpr(
        "cast(id AS int) AS v", "id AS k"), table, n_files=1)
    tx_widen_column(table, "v", "bigint")
    tx_update(spark, table, "k", 0, 4, {"v": "v + 100"})
    snap = tx_snapshot(table)
    # the rewrite staged from the logical schema: physically bigint now
    types = {
        papq.read_schema(os.path.join(table, n)).field("v").type
        for n in snap["files"]
    }
    assert all(str(t) == "int64" for t in types)
    got = tx_read(spark, table)
    assert got.agg({"v": "sum"}).first()[0] == sum(range(10)) + 5 * 100
    tx_compact(spark, table, target_bytes=1 << 30)
    assert tx_read(spark, table).count() == 10


def test_manifest_records_schema_union_plans_without_footers(spark, table,
                                                             monkeypatch):
    # round 9: every staging writer records {column → type} into the
    # manifest's monotone schema union, so planning a widened read does
    # ZERO per-file footer I/O — poison pyarrow's footer reader and the
    # read must still plan and run
    from pulsar_project_spark.sources.txlog import tx_widen_column

    tx_append(spark.range(5).selectExpr("cast(id AS int) AS v", "id AS k"),
              table, n_files=1)
    tx_widen_column(table, "v", "bigint")
    tx_append(spark.range(5, 10).selectExpr("id AS v", "id AS k"),
              table, n_files=1)
    snap = tx_snapshot(table)
    assert snap["schema"]["v"] == "bigint"   # newest generation wins
    assert snap["schema"]["k"] == "bigint"
    import pyarrow.parquet as papq

    def boom(*a, **k):
        raise AssertionError("footer read at planning time")

    monkeypatch.setattr(papq, "read_schema", boom)
    got = tx_read(spark, table)
    assert got.schema["v"].dataType.simpleString() == "bigint"
    assert got.count() == 10


def test_schema_union_survives_clone_and_stays_stable_on_pruned_reads(
        spark, table):
    from pulsar_project_spark.sources.txlog import (
        tx_append, tx_clone, tx_read_pruned, tx_widen_column,
    )

    df = spark.range(100).selectExpr("cast(id AS int) AS v", "id AS k")
    tx_append(df, table, 4, cluster_by=["v"])
    tx_widen_column(table, "v", "bigint")
    dst = tempfile.mkdtemp(prefix="txclone_")
    tx_clone(table, dst)
    got = tx_read(spark, dst)
    assert got.schema["v"].dataType.simpleString() == "bigint"
    assert got.count() == 100
    # a pruned subset read presents the SAME table schema
    sub, n_read, n_total = tx_read_pruned(spark, dst, "v", 0, 24)
    assert sorted(sub.columns) == sorted(got.columns)
    assert sub.count() == 25 and n_read < n_total


def test_widen_composes_with_dv_delete_across_generations(spark, table):
    from pulsar_project_spark.sources.txlog import (
        tx_delete_range_dv, tx_widen_column,
    )

    tx_append(spark.range(10).selectExpr(
        "cast(id AS int) AS v", "id AS k"), table, n_files=1)   # narrow
    tx_widen_column(table, "v", "bigint")
    tx_append(spark.range(10, 20).selectExpr(
        "cast(id AS bigint) AS v", "id AS k"), table, n_files=1)  # wide
    # the DV planning read spans BOTH generations (no k bounds recorded)
    tx_delete_range_dv(spark, table, "k", 0, 4)
    tx_delete_range_dv(spark, table, "k", 15, 16)
    got = tx_read(spark, table)
    assert got.schema["v"].dataType.simpleString() == "bigint"
    assert got.count() == 13
    assert got.agg({"v": "sum"}).first()[0] == \
        sum(range(5, 15)) + sum(range(17, 20))


def test_merge_conditional_update_delete_and_noop_matches(spark, table):
    from pulsar_project_spark.sources.txlog import tx_merge

    tgt = spark.range(10).selectExpr("id AS k", "id * 10 AS v")
    tx_append(tgt, table, n_files=1)
    src = spark.range(5, 15).selectExpr("id AS k", "id AS v")
    # WHEN MATCHED AND __s_v % 2 = 0 THEN UPDATE SET v = v + __s_v;
    # WHEN NOT MATCHED THEN INSERT
    tx_merge(spark, table, src, "k",
             when_matched_set={"v": "v + __s_v"},
             matched_condition="__s_v % 2 = 0")
    got = {r["k"]: r["v"] for r in tx_read(spark, table).collect()}
    expect = {k: k * 10 for k in range(10)}
    for k in (6, 8):                 # matched, condition true: accumulate
        expect[k] = k * 10 + k
    for k in range(10, 15):          # not matched: inserted as-is
        expect[k] = k
    # k in (5, 7, 9): matched but condition false — byte-identical
    assert got == expect
    # WHEN MATCHED AND __s_v >= 12 THEN DELETE (no inserts)
    tx_merge(spark, table, src, "k",
             delete_matched=True, matched_condition="__s_v >= 12",
             insert_not_matched=False)
    got2 = {r["k"] for r in tx_read(spark, table).collect()}
    assert got2 == set(range(12))    # 12, 13, 14 deleted


def test_merge_conditional_rejects_both_clauses_and_dup_keys(spark, table):
    from pulsar_project_spark.sources.txlog import tx_merge

    tx_append(spark.range(3).selectExpr("id AS k", "id AS v"),
              table, n_files=1)
    src = spark.range(2).selectExpr("id AS k", "id AS v")
    with pytest.raises(ValueError, match="not both"):
        tx_merge(spark, table, src, "k",
                 when_matched_set={"v": "v"}, delete_matched=True)
    dup = src.unionByName(src)
    with pytest.raises(ValueError, match="unique"):
        tx_merge(spark, table, dup, "k", when_matched_set={"v": "v"})


def test_merge_conditional_targets_only_overlapping_files(spark, table):
    from pulsar_project_spark.sources.txlog import (
        tx_append, tx_merge,
    )

    tx_append(spark.range(1000).selectExpr("id AS k", "id AS v"), table, 8,
              cluster_by=["k"])
    before = set(tx_snapshot(table)["files"])
    tx_merge(spark, table,
             spark.range(10, 20).selectExpr("id AS k", "id * 2 AS v"),
             "k", when_matched_set={"v": "__s_v"})
    after = tx_snapshot(table)
    kept = before & set(after["files"])
    assert len(kept) >= 7, "non-overlapping files must carry by name"
    got = tx_read(spark, table)
    assert got.count() == 1000
    assert got.filter("k BETWEEN 10 AND 19").agg(
        {"v": "sum"}).first()[0] == sum(2 * k for k in range(10, 20))


def test_changes_as_of_timestamp_resolves_then_feeds(spark, table):
    from pulsar_project_spark.sources.txlog import (
        tx_changes_as_of_timestamp,
    )

    tx_append(spark.range(5).selectExpr("id", "id AS v"),
              table, n_files=1)                     # v1
    ts_after_v1 = tx_snapshot(table)["ts_us"]
    tx_append(spark.range(5, 8).selectExpr("id", "id AS v"),
              table, n_files=1)                     # v2
    feed = tx_changes_as_of_timestamp(spark, table, ts_after_v1)
    rows = {(r["id"], r["_change_type"]) for r in feed.collect()}
    assert rows == {(i, "insert") for i in range(5, 8)}


def test_rename_rekeys_widened_type_map(spark, table):
    # widen FIRST, rename SECOND: the types map is keyed by logical
    # name and must follow the rename (round-9 self-review catch —
    # without the re-key the widen silently stopped applying)
    from pulsar_project_spark.sources.txlog import (
        tx_rename_column, tx_widen_column,
    )

    tx_append(spark.range(5).selectExpr("cast(id AS int) AS a"),
              table, n_files=1)
    tx_widen_column(table, "a", "bigint")
    tx_rename_column(table, "a", "b")
    assert tx_snapshot(table)["types"] == {"b": "bigint"}
    tx_append(spark.range(5, 8).selectExpr("id AS b"), table, n_files=1)
    got = tx_read(spark, table)
    assert got.schema["b"].dataType.simpleString() == "bigint"
    assert got.agg({"b": "sum"}).first()[0] == sum(range(8))


def test_reorg_purge_retires_all_mapping_debt(spark, table):
    import pyarrow.parquet as papq

    from pulsar_project_spark.sources.txlog import (
        tx_append,
        tx_delete_range_dv,
        tx_drop_column,
        tx_rename_column,
        tx_reorg_purge,
        tx_widen_column,
    )

    tx_append(spark.range(10).selectExpr(
        "cast(id AS int) AS a", "id AS k", "id % 3 AS scratch"),
        table, 1, cluster_by=["k"])                         # narrow+extra
    tx_drop_column(table, "scratch")
    tx_rename_column(table, "a", "b")
    tx_widen_column(table, "b", "bigint")
    tx_append(spark.range(10, 20).selectExpr(
        "cast(id AS bigint) AS b", "id AS k"),
        table, 1, cluster_by=["k"])                         # clean gen
    # k-bounds make the DV delete target ONLY the narrow generation —
    # the clean file must stay DV-free and carry by name through reorg
    tx_delete_range_dv(spark, table, "k", 0, 2)             # DV debt
    clean_before = [
        n for n in tx_snapshot(table)["files"]
        if papq.read_schema(os.path.join(table, n)).names == ["b", "k"]]
    pre_reorg_v = tx_latest_version(table)
    tx_reorg_purge(spark, table)
    snap = tx_snapshot(table)
    assert not snap.get("renames") and not snap.get("drops") \
        and not snap.get("types") and not snap.get("dvs")
    for n in snap["files"]:
        sch = papq.read_schema(os.path.join(table, n))
        assert sorted(sch.names) == ["b", "k"]
        assert str(sch.field("b").type) == "int64"
    # clean (wide, un-DV'd) files carried by name
    assert set(clean_before) <= set(snap["files"])
    got = tx_read(spark, table)
    assert got.count() == 17  # DV'd rows 0..2 purged with their mask
    assert got.agg({"b": "sum"}).first()[0] == sum(range(3, 20))
    # pre-reorg time travel still reads under the historical mapping
    old = tx_read(spark, table, pre_reorg_v)
    assert old.count() == 17 and "b" in old.columns
    # idempotent: a clean table commits nothing
    v = tx_latest_version(table)
    assert tx_reorg_purge(spark, table) == v


def test_reorg_purge_rebuilds_blooms_and_stats_logical(spark, table):
    from pulsar_project_spark.sources.txlog import (
        _BLOOM_PREFIX,
        tx_append,
        tx_read_bloom_point,
        tx_rename_column,
        tx_reorg_purge,
    )

    tx_append(spark.range(500).selectExpr("id AS a", "id AS v"), table, 2,
              bloom_col="a")
    tx_rename_column(table, "a", "key")
    tx_reorg_purge(spark, table)
    snap = tx_snapshot(table)
    assert all(_BLOOM_PREFIX + "key" in s for s in snap["stats"].values())
    got, n_read, n_total = tx_read_bloom_point(spark, table, "key", [7])
    assert got.count() == 1


def test_widen_float_to_double_end_to_end(spark, table):
    from pulsar_project_spark.sources.txlog import tx_widen_column

    tx_append(spark.range(4).selectExpr(
        "cast(id * 0.5 AS float) AS f", "id AS k"), table, n_files=1)
    tx_widen_column(table, "f", "double")
    tx_append(spark.range(4, 8).selectExpr(
        "cast(id * 0.5 AS double) AS f", "id AS k"), table, n_files=1)
    got = tx_read(spark, table)
    assert got.schema["f"].dataType.simpleString() == "double"
    # halves are exactly representable: float->double promotion is
    # value-exact, so the sum is bit-deterministic
    assert got.agg({"f": "sum"}).first()[0] == sum(i * 0.5 for i in range(8))


# --- one append, every option ------------------------------------------------

_APPEND_OPTIONS = {
    "plain": ({}, "append"),
    "txn": ({"txn": ("matrix", 7)}, "append"),
    "cluster_by": ({"n_files": 2, "cluster_by": ["id"]}, "append-clustered"),
    "bloom_col": ({"bloom_col": "id"}, "append-bloomed"),
    "stat_cols": ({"stat_cols": ["id"]}, "append"),
}


@pytest.mark.parametrize("tracked", [False, True],
                         ids=["dv_table", "tracked_table"])
@pytest.mark.parametrize("option", sorted(_APPEND_OPTIONS))
def test_append_matrix_keeps_deletes_and_mints_ids(spark, tmp_path, option,
                                                   tracked):
    """Every append option against a table holding a deletion vector,
    untracked and row-tracked: rows deleted before the append stay
    deleted, a tracked table's new ids continue contiguously from its
    row_hwm (old ids untouched), and the manifest op names the shape."""
    from pulsar_project_spark.sources.txlog import (
        tx_delete_range_dv,
        tx_read_tracked,
    )

    path = str(tmp_path / "t")
    tx_init(path, row_tracking=tracked)
    tx_append(_mk(spark, 0, 6).repartition(1).sortWithinPartitions("id"),
              path)
    tx_delete_range_dv(spark, path, "id", 1, 2)
    hwm = tx_snapshot(path).get("row_hwm")
    kwargs, op = _APPEND_OPTIONS[option]
    tx_append(_mk(spark, 100, 102), path, **kwargs)
    snap = tx_snapshot(path)
    assert snap["op"] == op
    got = sorted(r["id"] for r in tx_read(spark, path).collect())
    assert got == [0, 3, 4, 5, 100, 101]
    if tracked:
        ids = {r["id"]: r["_rid"]
               for r in tx_read_tracked(spark, path).collect()}
        assert {k: ids[k] for k in (0, 3, 4, 5)} == {0: 0, 3: 3, 4: 4, 5: 5}
        assert sorted(ids[k] for k in (100, 101)) == [hwm, hwm + 1]
        assert snap["row_hwm"] == hwm + 2
    else:
        assert "row_hwm" not in snap and "rids" not in snap


_TABLE_META_SAMPLES = {
    "constraints": {"nonneg": "id >= 0"},
    "renames": [["v", "w"]],
    "drops": ["scratch"],
    "types": {"v": "bigint"},
    "schema": {"id": "bigint", "v": "bigint"},
    "generated": {"bucket": {"base": "id", "div": 10}},
    "row_hwm": 7,
}


@pytest.mark.parametrize("key", sorted(_TABLE_META_SAMPLES))
def test_commit_inherits_parent_metadata(tmp_path, key):
    """The one carry-forward rule: a commit that passes no metadata
    keeps every table-metadata key of its parent unchanged, and its
    per-file maps lose exactly the entries of the files it removed."""
    table = str(tmp_path / "t")
    tx_init(table)
    files = ["a.parquet", "b.parquet", "c.parquet"]
    maps = {"stats": {f: {"id": [i, i]} for i, f in enumerate(files)},
            "dvs": {"a.parquet": "dv0.parquet", "b.parquet": "dv1.parquet"},
            "rids": {f: 10 * i for i, f in enumerate(files)}}
    sample = _TABLE_META_SAMPLES[key]
    v = _commit(table, tx_snapshot(table), files, op="seed",
                **{key: sample}, **maps)
    parent = tx_snapshot(table, v)
    assert parent[key] == sample
    _commit(table, parent, ["a.parquet", "c.parquet"], op="drop-b")
    child = tx_snapshot(table)
    assert child[key] == sample
    for m in maps:
        assert child[m] == {f: e for f, e in parent[m].items()
                            if f != "b.parquet"}
