"""Retention / eviction / argmax operators — the reference's state policies.

The reference's memory & task stores enforce their bounds with Python list
slices and dict min/max over timestamp-label keys:

* keep-last-N records/logs/summaries (``memory.py:125``, ``task.py:620-623``,
  ``memory.py:309-312``)
* latest summary = argmax over sortable label (``memory.py:119-121``)
* topic eviction = argmin over (frequency, last_updated) (``memory.py:326-335``)
* last-wins dedup on tool-name collisions (``manager.py:230``)

Each is one windowed ``row_number`` here. Scale shape: a single hash
shuffle on the partition key, then a per-partition sort bounded by the
group size — the canonical "grouped top-k" plan. AQE's skew-join/coalesce
handles hot keys at 100 TB; no driver-side state, no collect.

Every ordering carries a total-order tiebreak (the id column) — Python's
``list.sort`` is stable and dict iteration is insertion-ordered, so the
reference's outcomes are deterministic; ours must be too (SURVEY.md §7.2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def keep_last_n(df: DataFrame, partition_by: list[str], order_by: list[Column],
                n: int) -> DataFrame:
    """Keep the newest N rows per group (``logs[-max_logs:]`` et al).

    ``order_by`` must be DESC columns ending in a unique tiebreak."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .drop("__rn")
    )


def latest_per_group(df: DataFrame, partition_by: list[str],
                     order_by: list[Column]) -> DataFrame:
    """Argmax per group (latest summary, ``memory.py:119-121``)."""
    return keep_last_n(df, partition_by, order_by, 1)


def evict_candidates(df: DataFrame, partition_by: list[str],
                     order_by: list[Column]) -> DataFrame:
    """Argmin per group = the row the reference would evict first
    (``memory.py:326-335`` sorts ascending by (frequency, last_updated)
    and deletes the head). ``order_by`` should be ASC with tiebreak."""
    return keep_last_n(df, partition_by, order_by, 1)


def last_wins_dedup(df: DataFrame, key: list[str],
                    order_by: list[Column]) -> DataFrame:
    """Keep one row per key, the LAST by ``order_by`` desc — dict-overwrite
    semantics of the tool-catalog merge (``manager.py:230``)."""
    return keep_last_n(df, key, order_by, 1)
