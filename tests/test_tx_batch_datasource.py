"""Gates for the batch Python DataSource over the tx log
(sources/tx_batch.py): schema derivation through mapping debt, time
travel via options, row-id resolution, DV masking, and advisory
filter-pushdown pruning against manifest bounds.
"""

from __future__ import annotations

import tempfile

import pytest

from pulsar_project_spark.sources.tx_batch import (
    TxTableDataSource,
    TxTableReader,
)
from pulsar_project_spark.sources.txlog import (
    tx_append,
    tx_compact,
    tx_delete_range_dv,
    tx_init,
    tx_rename_column,
    tx_snapshot,
)


@pytest.fixture()
def table(spark):
    path = tempfile.mkdtemp(prefix="txds_")
    tx_init(path, row_tracking=True)
    b1 = (spark.range(0, 10).selectExpr("id AS k", "id * 3 AS v")
          .repartition(1).sortWithinPartitions("k"))
    b2 = (spark.range(100, 110).selectExpr("id AS k", "id * 3 AS v")
          .repartition(1).sortWithinPartitions("k"))
    tx_append(b1, path, stat_cols=["k"])
    tx_append(b2, path, stat_cols=["k"])
    tx_delete_range_dv(spark, path, "k", 2, 3)
    return path


@pytest.fixture()
def registered(spark):
    spark.dataSource.register(TxTableDataSource)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    return spark


def _load(spark, path, **opts):
    r = spark.read.format("tx_table").option("tableDir", path)
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_reads_values_ids_and_masks(registered, table):
    df = _load(registered, table, withRowIds="true")
    rows = sorted((r["k"], r["v"], r["_rid"]) for r in df.collect())
    assert len(rows) == 18  # 20 minus the two DV-masked
    assert (2, 6, 2) not in rows and (3, 9, 3) not in rows
    assert rows[0] == (0, 0, 0)
    assert dict((k, rid) for k, _, rid in rows)[100] == 10


def test_schema_derives_through_rename_and_time_travel(registered, table):
    v_pre = tx_snapshot(table)["version"]
    tx_rename_column(table, "v", "val")
    now = _load(registered, table)
    assert now.columns == ["k", "val"]
    old = _load(registered, table, version=str(v_pre))
    assert old.columns == ["k", "v"]
    assert old.count() == 18


def test_materialized_generation_reads_same_ids(registered, table):
    before = sorted(
        (r["k"], r["_rid"])
        for r in _load(registered, table, withRowIds="true").collect())
    tx_compact(registered, table, target_bytes=1 << 30)
    after = sorted(
        (r["k"], r["_rid"])
        for r in _load(registered, table, withRowIds="true").collect())
    assert after == before


def test_pushdown_prunes_files_and_stays_exact(registered, table):
    from pyspark.sql.datasource import GreaterThan

    r = TxTableReader({"tabledir": table})
    list(r.pushFilters([GreaterThan(("k",), 50)]))
    assert len(r.partitions()) == 1  # low file bounds-skipped
    # over-pruning impossible: Spark re-applies the predicate
    df = _load(registered, table).where("k > 50")
    assert df.count() == 10
    # a filter matching nothing plans the no-op split and returns 0
    assert _load(registered, table).where("k > 100000").count() == 0


def test_with_row_ids_on_untracked_table_raises(registered, spark):
    import tempfile as _tf

    from pulsar_project_spark.sources.txlog import tx_append

    plain = _tf.mkdtemp(prefix="txds_plain_")
    tx_init(plain)
    tx_append(spark.range(3).selectExpr("id AS k"), plain)
    with pytest.raises(Exception, match="row-tracking"):
        _load(registered, plain, withRowIds="true").collect()


# --- write path ----------------------------------------------------------------


def test_standard_api_write_then_read_roundtrip(registered, spark):
    import tempfile as _tf

    from pulsar_project_spark.sources.txlog import tx_read, tx_snapshot

    p = _tf.mkdtemp(prefix="txds_w_")
    tx_init(p)
    df = spark.range(0, 100, 1, 4).selectExpr("id AS k", "id * 2 AS v")
    df.write.format("tx_table").option("tableDir", p).mode("append").save()
    snap = tx_snapshot(p)
    assert len(snap["files"]) == 4  # one staged file per partition
    assert tx_read(spark, p).count() == 100
    # read back through the SAME standard API
    back = _load(registered, p)
    assert sorted(r["k"] for r in back.collect()) == list(range(100))
    # second append composes
    spark.range(100, 110).selectExpr("id AS k", "id * 2 AS v").write \
        .format("tx_table").option("tableDir", p).mode("append").save()
    assert _load(registered, p).count() == 110


def test_standard_api_write_mints_ids_on_tracked_tables(registered, spark):
    import tempfile as _tf

    from pulsar_project_spark.sources.txlog import tx_read_tracked

    p = _tf.mkdtemp(prefix="txds_wt_")
    tx_init(p, row_tracking=True)
    tx_append(spark.range(5).selectExpr("id AS k", "id AS v").repartition(1),
              p)
    spark.range(100, 110).selectExpr("id AS k", "id AS v").write \
        .format("tx_table").option("tableDir", p).mode("append").save()
    ids = sorted(r["_rid"] for r in tx_read_tracked(spark, p).collect())
    assert ids == list(range(15))


def test_standard_api_write_rejects_constraint_violations(registered, spark):
    import tempfile as _tf

    from pulsar_project_spark.sources.txlog import (
        tx_read,
        tx_set_constraint,
        tx_snapshot,
    )

    p = _tf.mkdtemp(prefix="txds_wc_")
    tx_init(p)
    spark.range(10).selectExpr("id AS k", "id AS v").write \
        .format("tx_table").option("tableDir", p).mode("append").save()
    tx_set_constraint(spark, p, "v_pos", "v >= 0")
    v_before = tx_snapshot(p)["version"]
    with pytest.raises(Exception, match="CHECK constraint"):
        spark.range(-5, 0).selectExpr("id AS k", "id AS v").write \
            .format("tx_table").option("tableDir", p).mode("append").save()
    assert tx_snapshot(p)["version"] == v_before
    assert tx_read(spark, p).count() == 10


def test_standard_api_write_validates_generated_columns(registered, spark):
    import tempfile as _tf

    from pulsar_project_spark.sources.txlog import tx_set_generated

    p = _tf.mkdtemp(prefix="txds_wg_")
    tx_init(p)
    tx_set_generated(p, "day", "ts", 100)
    # omitted generated column: rejected with the column named
    with pytest.raises(Exception, match="generated column"):
        spark.range(5).selectExpr("id AS ts").write \
            .format("tx_table").option("tableDir", p).mode("append").save()
    # wrong supplied value: rejected
    with pytest.raises(Exception, match="generated"):
        spark.range(5).selectExpr("id AS ts", "id AS day").write \
            .format("tx_table").option("tableDir", p).mode("append").save()
    # correct supplied value: lands
    spark.range(500, 505).selectExpr("id AS ts", "id div 100 AS day").write \
        .format("tx_table").option("tableDir", p).mode("append").save()
    assert _load(registered, p).count() == 5


def test_standard_api_overwrite_mode_rejected(registered, spark):
    import tempfile as _tf

    p = _tf.mkdtemp(prefix="txds_wo_")
    tx_init(p)
    with pytest.raises(Exception, match="append-only"):
        spark.range(3).selectExpr("id AS k").write \
            .format("tx_table").option("tableDir", p) \
            .mode("overwrite").save()


def test_standard_api_write_validation_is_executor_side(registered, spark):
    """VERDICT r9 order #1: the constraint/generator pass runs in the
    executor task over its own Arrow batches — the raised message
    carries the [executor-side] marker, the violating job publishes
    nothing, and a clean write never ships staged bytes back through a
    driver scan (the commit path only re-validates a TOCTOU delta,
    which this test leaves empty)."""
    import tempfile as _tf

    from pulsar_project_spark.sources.txlog import (
        tx_read,
        tx_set_constraint,
        tx_set_generated,
        tx_snapshot,
    )

    p = _tf.mkdtemp(prefix="txds_ex_")
    tx_init(p)
    spark.range(4).selectExpr("id AS ts", "id AS v").write \
        .format("tx_table").option("tableDir", p).mode("append").save()
    tx_set_constraint(spark, p, "v_pos", "v >= 0")
    tx_set_generated(p, "day", "ts", 100)
    v_before = tx_snapshot(p)["version"]

    # multi-partition write with the violation in exactly one
    # partition: that task fails fast executor-side; nothing publishes
    bad = (spark.range(0, 400).selectExpr(
        "id AS ts", "CASE WHEN id = 399 THEN -1 ELSE id END AS v",
        "id div 100 AS day").repartition(4))
    with pytest.raises(Exception, match=r"executor-side"):
        bad.write.format("tx_table").option("tableDir", p) \
            .mode("append").save()
    assert tx_snapshot(p)["version"] == v_before
    assert tx_read(spark, p).count() == 4

    # wrong generated value is likewise caught in the task
    badg = spark.range(10).selectExpr("id AS ts", "id AS v",
                                      "id AS day")
    with pytest.raises(Exception, match=r"executor-side"):
        badg.write.format("tx_table").option("tableDir", p) \
            .mode("append").save()

    # clean multi-partition write lands (and the driver TOCTOU delta
    # was empty — same constraint set at planning and commit)
    ok = (spark.range(1000, 1400).selectExpr(
        "id AS ts", "id AS v", "id div 100 AS day").repartition(4))
    ok.write.format("tx_table").option("tableDir", p) \
        .mode("append").save()
    assert tx_read(spark, p).count() == 404


def test_datasource_schema_and_reader_share_one_snapshot():
    """ADVICE r9 low: schema() and reader() must plan from ONE pinned
    snapshot — the DataSource caches a single TxTableReader."""
    import tempfile as _tf

    p = _tf.mkdtemp(prefix="txds_pin_")
    tx_init(p)
    ds = TxTableDataSource({"tabledir": p})
    first = ds._pinned_reader()
    ds.schema()
    assert ds.reader(None) is first
