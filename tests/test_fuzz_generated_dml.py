"""Property fuzz for generated-column soundness (ADVICE r9 high).

Hypothesis drives random DML sequences — append / clustered append /
UPDATE moving the base / UPDATE not touching it / MERGE upsert /
conditional MERGE / compaction — against a table with a declared
generator, and after EVERY commit asserts the two properties the
round-10 fixes exist to protect:

1. invariant: every non-null generated value equals base div K;
2. derived-pruning completeness: for random base ranges,
   ``tx_read_pruned`` returns exactly the rows a full-scan residual
   filter returns — a file is never skipped while holding answers.
"""

from __future__ import annotations

import tempfile

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

import pytest

# hypothesis fuzz sweeps: minutes-long by design — certification arm,
# deselected from the driver-budget default suite (pytest.ini)
pytestmark = pytest.mark.gate


from pulsar_project_spark.sources.txlog import (
    tx_append,
    tx_compact,
    tx_init,
    tx_merge,
    tx_merge_upsert,
    tx_read,
    tx_read_pruned,
    tx_set_generated,
    tx_snapshot,
    tx_update,
)

_K = 10  # generator divisor: day = ts div 10

_op = st.one_of(
    st.tuples(st.just("append"), st.integers(0, 90), st.integers(1, 25)),
    st.tuples(st.just("append_clustered"), st.integers(0, 90),
              st.integers(1, 25)),
    st.tuples(st.just("update_move"), st.integers(0, 80),
              st.integers(1, 30)),
    st.tuples(st.just("update_value"), st.integers(0, 80),
              st.integers(1, 30)),
    st.tuples(st.just("merge_upsert"), st.integers(0, 90),
              st.integers(1, 10)),
    st.tuples(st.just("merge_move"), st.integers(0, 80),
              st.integers(1, 20)),
    st.tuples(st.just("compact"), st.just(0), st.just(0)),
)

_ops = st.lists(_op, min_size=1, max_size=5)
_probe = st.tuples(st.integers(0, 120), st.integers(0, 40))


def _check(spark, table, probes):
    if not tx_snapshot(table)["files"]:
        return  # file-less table: reads raise by contract
    rows = tx_read(spark, table).select("ts", "day").collect()
    for r in rows:
        assert r["day"] is None or (
            r["ts"] is not None and r["day"] == r["ts"] // _K
        ), f"generator invariant broken: {r}"
    full = sorted(
        (r["ts"], r["v"]) for r in tx_read(spark, table).collect()
        if r["ts"] is not None)
    for lo, width in probes:
        hi = lo + width
        want = [(t, v) for t, v in full if lo <= t <= hi]
        try:
            pruned, _, _ = tx_read_pruned(spark, table, "ts", lo, hi)
            got = sorted((r["ts"], r["v"]) for r in
                         pruned.select("ts", "v").collect())
        except ValueError:
            got = []  # bounds proved no file intersects
        assert got == want, (
            f"derived pruning dropped rows in [{lo},{hi}]: "
            f"want {want} got {got}")


@given(ops=_ops, probes=st.lists(_probe, min_size=1, max_size=3))
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_generated_invariant_and_pruning_survive_random_dml(
        spark, ops, probes):
    table = tempfile.mkdtemp(prefix="txgenfuzz_")
    tx_init(table)
    tx_set_generated(table, "day", "ts", _K)
    next_id = [0]

    def fresh(lo, n):
        base = next_id[0]
        next_id[0] += n
        return spark.range(n).selectExpr(
            f"id + {lo} AS ts", f"id + {base} AS v")

    for kind, lo, n in ops:
        if kind == "append":
            tx_append(fresh(lo, n), table)
        elif kind == "append_clustered":
            tx_append(fresh(lo, n), table, 2, cluster_by=["day"])
        elif kind == "update_move":
            tx_update(spark, table, "ts", lo, lo + n,
                      {"ts": "ts + 37"})
        elif kind == "update_value":
            tx_update(spark, table, "ts", lo, lo + n,
                      {"v": "v + 1000"})
        elif kind == "merge_upsert":
            ups = fresh(lo, n).select(
                "ts", (F.col("v") * 2).alias("v"))
            # unique keys required: ts values are distinct by range
            tx_merge_upsert(spark, table, ups, "ts")
        elif kind == "merge_move":
            src = spark.range(n).selectExpr(f"id + {lo} AS ts")
            tx_merge(spark, table, src, "ts",
                     when_matched_set={"ts": "ts + 53"},
                     insert_not_matched=False)
        elif kind == "compact":
            if tx_snapshot(table)["files"]:
                tx_compact(spark, table, target_bytes=1 << 30)
        _check(spark, table, probes)
