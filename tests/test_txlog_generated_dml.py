"""Generated-column soundness across the DML roster (ADVICE r9 high).

The invariant under test: after ANY committed write — append, txn
append, UPDATE, MERGE (conditional or upsert) — every non-null value
of a generated column g equals base div K, and every file whose
manifest records bounds for g contains no NULL g. Together those make
the derived-predicate skip in ``tx_read_pruned`` (predicate on the
BASE pruning on g's bounds) sound: a file can only be skipped when no
row in it — valued or pre-declaration NULL — can match the base range.
"""

from __future__ import annotations

import tempfile

import pytest

from pulsar_project_spark.sources.txlog import (
    TxConstraintViolation,
    tx_append,
    tx_compact,
    tx_drop_column,
    tx_drop_generated,
    tx_init,
    tx_merge,
    tx_merge_upsert,
    tx_read,
    tx_read_pruned,
    tx_rename_column,
    tx_set_generated,
    tx_snapshot,
    tx_update,
)


@pytest.fixture()
def table(spark):
    path = tempfile.mkdtemp(prefix="txgen_")
    tx_init(path)
    return path


def _conforms(spark, table):
    rows = tx_read(spark, table).select("ts", "day").collect()
    assert all(r["day"] is None or r["day"] == r["ts"] // 100
               for r in rows), rows
    return rows


def _seed(spark, table, lo=0, hi=1000, files=5):
    tx_set_generated(table, "day", "ts", 100)
    ev = spark.range(lo, hi).selectExpr("id AS ts", "id * 2 AS v")
    tx_append(ev, table, files, cluster_by=["day"])


# --- UPDATE ---------------------------------------------------------------


def test_update_moving_base_recomputes_generated(spark, table):
    _seed(spark, table)
    # move ts 150..249 up by 500: their day bucket changes 1..2 -> 6..7
    tx_update(spark, table, "ts", 150, 249, {"ts": "ts + 500"})
    rows = _conforms(spark, table)
    assert sum(1 for r in rows if 650 <= r["ts"] <= 749) == 200
    # derived pruning must FIND the moved rows at their new location —
    # stale day values would leave them recorded under old bounds
    pruned, _, _ = tx_read_pruned(spark, table, "ts", 650, 749)
    assert pruned.count() == 200


def test_update_not_touching_base_leaves_generated(spark, table):
    _seed(spark, table)
    v0 = {r["ts"]: r["day"] for r in
          tx_read(spark, table).select("ts", "day").collect()}
    tx_update(spark, table, "ts", 100, 199, {"v": "v + 1000000"})
    rows = _conforms(spark, table)
    assert {r["ts"]: r["day"] for r in rows} == v0


def test_update_setting_generated_validated(spark, table):
    _seed(spark, table)
    with pytest.raises(TxConstraintViolation, match="generated column"):
        tx_update(spark, table, "ts", 100, 199, {"day": "day + 1"})
    # a consistent simultaneous SET of base and generated passes
    tx_update(spark, table, "ts", 100, 199,
              {"ts": "ts + 100", "day": "(ts + 100) div 100"})
    _conforms(spark, table)


# --- MERGE (upsert) --------------------------------------------------------


def test_merge_upsert_computes_generated_for_updates(spark, table):
    _seed(spark, table, files=2)
    ups = spark.range(100, 110).selectExpr("id AS ts", "id * 7 AS v")
    tx_merge_upsert(spark, table, ups, "ts")
    rows = _conforms(spark, table)
    assert all(r["day"] is not None for r in rows)


def test_merge_upsert_rejects_wrong_supplied_generated(spark, table):
    _seed(spark, table, files=2)
    bad = spark.range(100, 110).selectExpr(
        "id AS ts", "id AS v", "id AS day")
    with pytest.raises(TxConstraintViolation, match="generated column"):
        tx_merge_upsert(spark, table, bad, "ts")


def test_merge_upsert_missing_table_column_fails_loudly(spark, table):
    # both paths (ADVICE r9 low): a replacement row lacking a data
    # column must error, not silently null-fill
    ev = spark.range(0, 100).selectExpr("id AS ts", "id AS v",
                                        "id % 3 AS extra")
    tx_append(ev, table)
    ups = spark.range(10, 20).selectExpr("id AS ts", "id * 7 AS v")
    with pytest.raises(ValueError, match="lack table column"):
        tx_merge_upsert(spark, table, ups, "ts")


def test_merge_upsert_missing_column_fails_loudly_tracked(spark):
    table = tempfile.mkdtemp(prefix="txgen_tracked_")
    tx_init(table, row_tracking=True)
    ev = spark.range(0, 100).selectExpr("id AS ts", "id AS v",
                                        "id % 3 AS extra")
    tx_append(ev, table)
    ups = spark.range(10, 20).selectExpr("id AS ts", "id * 7 AS v")
    with pytest.raises(ValueError, match="lack table column"):
        tx_merge_upsert(spark, table, ups, "ts")


# --- MERGE (conditional) ---------------------------------------------------


def test_merge_set_moving_base_recomputes_generated(spark, table):
    _seed(spark, table, files=2)
    src = spark.range(100, 200).selectExpr("id AS ts", "id AS junk")
    tx_merge(spark, table, src, "ts",
             when_matched_set={"ts": "ts + 500"},
             insert_not_matched=False)
    rows = _conforms(spark, table)
    # original 100..199 moved to 600..699 (which already had rows too)
    assert sum(1 for r in rows if 600 <= r["ts"] <= 699) == 200


def test_merge_inserts_compute_generated(spark, table):
    _seed(spark, table, lo=0, hi=100, files=1)
    src = spark.range(5000, 5010).selectExpr("id AS ts", "id * 2 AS v")
    tx_merge(spark, table, src, "ts", insert_not_matched=True)
    rows = _conforms(spark, table)
    assert sum(1 for r in rows if r["ts"] >= 5000) == 10
    assert all(r["day"] == r["ts"] // 100 for r in rows
               if r["ts"] >= 5000)


# --- exactly-once append ----------------------------------------------------


def test_append_txn_computes_and_validates_generated(spark, table):
    tx_set_generated(table, "day", "ts", 100)
    ok = spark.range(0, 50).selectExpr("id AS ts", "id AS v")
    tx_append(ok, table, txn=("job", 1))
    _conforms(spark, table)
    bad = spark.range(50, 60).selectExpr("id AS ts", "id AS v",
                                         "id AS day")
    with pytest.raises(TxConstraintViolation, match="generated column"):
        tx_append(bad, table, txn=("job", 2))


# --- declaration over existing data -----------------------------------------


def test_set_generated_over_live_column_rejected(spark, table):
    tx_append(spark.range(0, 10).selectExpr(
        "id AS ts", "id AS day"), table)
    with pytest.raises(ValueError, match="already exists"):
        tx_set_generated(table, "day", "ts", 100)


def test_set_generated_over_absent_column_ok_with_data(spark, table):
    tx_append(spark.range(0, 10).selectExpr("id AS ts", "id AS v"),
              table)
    tx_set_generated(table, "day", "ts", 100)  # day never written: fine


# --- pre-declaration NULLs through rewrites ---------------------------------


def test_rewrite_mixing_null_generated_never_derive_prunes_rows(
        spark, table):
    # era 1: rows BEFORE the generator exists (day will read NULL)
    tx_append(spark.range(100, 200).selectExpr("id AS ts", "id AS v"),
              table)
    tx_set_generated(table, "day", "ts", 100)
    # era 2: conforming rows in a far bucket, stats on day
    tx_append(spark.range(500, 1000).selectExpr("id AS ts", "id AS v"), table,
              1, cluster_by=["day"])
    # compaction mixes both eras into files whose non-null day bounds
    # ([5,9]) are DISJOINT from the derived range for ts in [100,199]
    # (day 1) — without the null guard on generated-column stats the
    # derived skip would drop the era-1 rows from the result
    tx_compact(spark, table, target_bytes=1 << 30)
    pruned, n_read, _ = tx_read_pruned(spark, table, "ts", 100, 199)
    assert pruned.count() == 100
    # the compacted file mixes null and valued day rows, so the null
    # guard must have DROPPED its day bounds (else the derived skip
    # above would have been unsound):
    snap = tx_snapshot(table)
    assert all("day" not in s for s in snap["stats"].values()), snap
    # and a NEW file containing ONLY conforming rows still records day
    # bounds and still prunes: era 3 lands in day bucket 20, then a
    # probe on the day-1 base range must skip it via the derived check.
    tx_append(spark.range(2000, 2100).selectExpr("id AS ts", "id AS v"), table,
              1, cluster_by=["day"])
    snap = tx_snapshot(table)
    with_day = [n for n, s in snap["stats"].items() if "day" in s]
    assert len(with_day) == 1, snap["stats"]
    pruned, n_read, n_total = tx_read_pruned(spark, table, "ts", 100, 199)
    assert pruned.count() == 100
    assert n_total == 2 and n_read == 1  # era-3 file skipped on day bounds


# --- schema-evolution guards -------------------------------------------------


def test_rename_and_drop_of_generator_columns_guarded(spark, table):
    _seed(spark, table, files=1)
    with pytest.raises(ValueError, match="generated column"):
        tx_rename_column(table, "ts", "event_ts")
    with pytest.raises(ValueError, match="generated column"):
        tx_rename_column(table, "day", "bucket")
    with pytest.raises(ValueError, match="generated column"):
        tx_drop_column(table, "ts")
    with pytest.raises(ValueError, match="generated column"):
        tx_drop_column(table, "day")
    # dropping the generator unlocks the evolution
    tx_drop_generated(table, "day")
    tx_rename_column(table, "day", "bucket")
    tx_drop_column(table, "bucket")
