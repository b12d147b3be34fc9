"""Parquet table sources + catalog registration.

The test corpus (TESTDATA.md) is one parquet file per table under an
``sf*`` directory. At 100 TB each of these becomes a partitioned parquet
(or Iceberg/Delta) dataset; the loader API is the same — ``spark.read
.parquet(path)`` over a directory prunes partitions and pushes filters
down identically. Nothing here materializes data on the driver.

Reference parity: the reference loads whole-state JSON documents
(``memory.py:63-91``, ``task.py:406-421``); our durable store is columnar
parquet with explicit schemas instead (SURVEY.md §1.3 — the reference's
JSON reload path is defective by its own filename mismatch, so parquet +
checkpoints is the deliberate replacement, not a translation).
"""

from __future__ import annotations

import os
import threading
import uuid
import weakref

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Dimension tables small enough to broadcast at any scale factor. At
# 100 TB the facts (lineitem/orders/events/documents) grow unbounded but
# these stay catalog-sized — joins against them must be broadcast joins.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Session-scoped table cache. Building a parquet-backed DataFrame costs
# ~100 ms of DRIVER metadata work per call (reader py4j round trips, file
# listing, footer schema inference), paid on every query construction,
# so ``_cached_plan`` memoizes the LOGICAL PLAN of each loaded table. Two
# things are cached per entry:
#
# * the lazy plan, as its JVM Dataset handle: no rows; an action on it
#   re-scans the parquet exactly as a fresh read would;
# * relations DERIVED from that plan (``cached_derivation``), such as the
#   cleaned text the keyword scorers read. These hold data: each is
#   persisted and materialized once, then read from the block manager.
#
# The key is (tag, realpath, mtime_ns, size), so a rewritten file misses
# and gets a new entry. A derived relation carries a literal that is
# unique to its entry, because Spark's CacheManager is shared by every
# session and matches plans by result, and a parquet relation compares
# equal by path alone: without the literal a DIRECT ``spark.read.parquet``
# of the rewritten file, or another session's read, would be served the
# old rows. With it no plan outside this entry can match.
#
# Entries are released (derived relations unpersisted) when a derivation
# is built and their file is gone or changed, and when the session is
# garbage collected. Entries hold JVM handles, never the Python session,
# so the weak session key can actually die (a cached DataFrame would pin
# its session and the entry would live forever).
_PLAN_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary())
_VIEWS: "weakref.WeakKeyDictionary[SparkSession, tuple]" = (
    weakref.WeakKeyDictionary())

_STAMP = "_cache_entry"
_DERIVE_LOCK = threading.Lock()  # one build per entry and tag, one sweep at a time


class _Entry:
    """One cached table: the plan's JVM Dataset and, per derivation tag,
    the (persisted, stamp-dropped view) JVM Datasets built from it."""

    __slots__ = ("jdf", "derived")

    def __init__(self, jdf):
        self.jdf = jdf
        self.derived: dict = {}

    def release(self) -> None:
        for persisted, _ in self.derived.values():
            try:
                persisted.unpersist(False)
            except Py4JError:  # its context was stopped: nothing left to free
                pass
        self.derived.clear()


def _release_all(per_session: dict) -> None:
    for entry in per_session.values():
        entry.release()


def _session_cache(spark: SparkSession) -> dict:
    per_session = _PLAN_CACHE.get(spark)
    if per_session is None:
        per_session = _PLAN_CACHE[spark] = {}
        weakref.finalize(spark, _release_all, per_session).atexit = False
    return per_session


def _cached_plan(spark: SparkSession, path: str, tag: str, build):
    try:
        st = os.stat(path)
    except OSError:
        return build()  # absent/racing path: never cache
    key = (tag, os.path.realpath(path), st.st_mtime_ns, st.st_size)
    per_session = _session_cache(spark)
    entry = per_session.get(key)
    if entry is None:
        entry = per_session[key] = _Entry(build()._jdf)
    return DataFrame(entry.jdf, spark)


def _is_stale(key: tuple) -> bool:
    try:
        st = os.stat(key[1])
    except OSError:
        return True
    return (st.st_mtime_ns, st.st_size) != key[2:]


def cached_derivation(df: DataFrame, tag: str, build) -> DataFrame:
    """``build(df)``, persisted once per cached table plan.

    Applies only when ``df`` is a DataFrame ``_cached_plan`` handed out
    (a ``load_table`` / ``load_events`` result, matched by identity):
    the first call persists and materializes ``build(df)`` in that
    table's entry, later calls read it back. Any other DataFrame (a
    filtered or limited table, ``createDataFrame``) gets ``build(df)``
    lazily and is never persisted. ``build`` must be a pure function of
    the table's rows and of ``tag``.
    """
    spark = df.sparkSession
    per_session = _PLAN_CACHE.get(spark, {})
    key = next((k for k, e in list(per_session.items()) if e.jdf is df._jdf), None)
    if key is None:
        return build(df)
    entry = per_session[key]
    with _DERIVE_LOCK:
        if tag not in entry.derived:
            for k in [k for k in list(per_session) if _is_stale(k)]:
                per_session.pop(k).release()
            if key not in per_session:
                return build(df)  # its file changed after it was loaded
            stamped = build(df).withColumn(_STAMP, F.lit(uuid.uuid4().hex))
            stamped.persist()
            stamped.count()
            entry.derived[tag] = (stamped._jdf, stamped.drop(_STAMP)._jdf)
    return DataFrame(entry.derived[tag][1], spark)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table. Columnar parquet scan → Catalyst gets pushdown,
    pruning and the vectorized reader for free.

    ``events.ts`` has shipped as parquet TIMESTAMP(NANOS,false) in some
    corpus generations (Spark rejects it unless
    ``spark.sql.legacy.parquet.nanosAsLong`` is on — set here, runtime-
    settable, idempotent, a no-op for micro timestamps) and as
    TIMESTAMP(MICROS) in others. Use :func:`load_events` for the
    normalized shape that absorbs both.
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Pin NTZ inference ON: with it off, naive-micros parquet reads
        # as TimestampType and unix_micros() would shift by the session
        # timezone — silently breaking the documented tz-proof parity of
        # ts_us_expr. Runtime-settable, idempotent (true is the 4.x
        # default, but a driver session may have flipped it).
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    path = table_path(sf_dir, name)
    return _cached_plan(spark, path, "table",
                        lambda: spark.read.parquet(path))


def ts_us_expr(df: DataFrame, col: str = "ts"):
    """Schema-adaptive BIGINT epoch-microsecond expression for an event
    time column. The corpus has shipped ``ts`` two ways across
    generations; both normalize to the same canonical micros:

    * BIGINT nanos (parquet NANOS via ``nanosAsLong``) → integer
      ``div 1000`` — integer, not float ``/``, because nanos exceed
      double's 52-bit mantissa. This matches DuckDB's truncating
      nano→micro read exactly.
    * TIMESTAMP_NTZ (parquet MICROS, isAdjustedToUTC=false) →
      ``timestampdiff(MICROSECOND, epoch, ts)`` — pure wall-clock
      arithmetic on the naive value, identical to DuckDB's
      ``epoch_us(ts)``. NOT ``unix_micros(cast(ts as timestamp))``:
      that cast interprets the wall clock in the SESSION timezone, and
      the external driver runs a vanilla session with no UTC pin.
    * TIMESTAMP (tz-adjusted) → ``unix_micros`` directly (already an
      instant; no session-tz dependence).

    BIGINT event time downstream is timezone-proof: parity cannot depend
    on the driver session's timezone.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

    dt = df.schema[col].dataType
    if isinstance(dt, LongType):
        return F.expr(f"{col} div 1000")
    if isinstance(dt, TimestampType):
        return F.unix_micros(F.col(col))
    if isinstance(dt, TimestampNTZType):
        return F.expr(
            f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {col})"
        )
    # Anything else is a schema drift we want NAMED, not silently coerced
    # into a confusing analysis error downstream.
    raise TypeError(f"unsupported events.{col} type: {dt}")


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events with the canonical time column ``ts_us`` (BIGINT epoch
    microseconds) — see :func:`ts_us_expr` for the normalization."""
    # the two events read confs are side effects some callers rely on;
    # set them on the hit path too (load_table only runs on miss)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")

    def build():
        ev = load_table(spark, sf_dir, "events")
        return ev.withColumn("ts_us", ts_us_expr(ev)).drop("ts")
    # same lazy-plan memo as load_table: the ts_us projection is a pure
    # function of the cached base plan (key invalidates with the file)
    return _cached_plan(spark, table_path(sf_dir, "events"),
                        "events+ts_us", build)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every PRESENT table as a temp view so operators can be
    written in either DataFrame or SQL form against the same catalog.
    Missing files are skipped, not errors: a partial warehouse (a fuzz
    corpus, a pruned landing zone, a dims-only catalog) is a normal
    state, and a pure-SQL query fails with a clear unresolved-relation
    message only if it actually references an absent table."""
    dfs: dict[str, DataFrame] = {}
    state = []
    for name in TABLE_NAMES:
        try:
            st = os.stat(table_path(sf_dir, name))
        except OSError:
            continue  # absent, or removed since the listing: skip it
        dfs[name] = load_table(spark, sf_dir, name)
        state.append((name, st.st_mtime_ns, st.st_size))
    # re-registering the identical view set is ~10 py4j round trips
    # (~250 ms) per call; skip when THIS function's last registration on
    # this session covered the same (sf_dir, corpus-state). Any change —
    # different sf_dir, regenerated file, added/removed table — differs
    # in the key and re-registers. Nothing else in this package creates
    # temp views under these names.
    key = (os.path.realpath(sf_dir), tuple(state))
    if _VIEWS.get(spark) != key:
        for name, df in dfs.items():
            df.createOrReplaceTempView(name)
        _VIEWS[spark] = key
    return dfs
