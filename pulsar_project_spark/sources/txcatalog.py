"""Cross-table ATOMIC commits — a catalog pointer over the per-table logs.

``txlog.py`` gives each table snapshot isolation and optimistic
concurrency, but its unit of atomicity is ONE table: an "archive rows
from hot to cold" operation that commits two per-table manifests in
sequence exposes a window where a reader sees the rows in both tables
(double count) or neither (lost rows). At 100 TB with pipelines that
continuously re-tier data between tables, that window is hit daily.

This module closes it with the Iceberg-REST-catalog idea reduced to
its correctness core: a CATALOG whose manifest maps table name →
(table dir, pinned table version), committed with the same
hard-link-CAS as the table logs:

  catalog_dir/
    _manifests/v00000003.json   {"tables": {"hot": [dir, 7], "cold": [dir, 2]}}

Protocol (writer):
  1. read catalog snapshot C — the ONLY source of table versions;
  2. derive + stage + commit new PER-TABLE versions from the versions
     C pins (table-level version numbers are just allocation — lineage
     is the manifest's recorded parent; a concurrent writer taking
     version n+1 first only moves our allocation to n+2, never our
     content, see ``_commit_branch``);
  3. CAS the catalog C → C+1 with the new version map. THIS is the
     serialization point: a reader resolving versions only through the
     catalog sees all of the transaction or none of it. A loser
     abandons its table versions (unreferenced, vacuum-able — exactly
     like staged files) and redoes from the new catalog state.

Crash anywhere before step 3 leaves the catalog — and therefore every
reader — on the old consistent snapshot. There is no step 4.

Reference scope: the reference persists multiple whole-state files per
task with no cross-file atomicity (memory.py:63-90, task.py:406-470);
this is the beyond-reference scale path for the same surface.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession

from pulsar_project_spark.sources.txlog import (
    TxConflict,
    _stage_dataframe,
    tx_init,
    tx_latest_version,
    tx_snapshot,
)

_MANIFEST_DIR = "_manifests"


def _catalog_manifest_path(catalog: str, version: int) -> str:
    return os.path.join(catalog, _MANIFEST_DIR, f"v{version:08d}.json")


def catalog_latest_version(catalog: str) -> int | None:
    mdir = os.path.join(catalog, _MANIFEST_DIR)
    if not os.path.isdir(mdir):
        return None
    versions = [
        int(f[1:9]) for f in os.listdir(mdir)
        if f.startswith("v") and f.endswith(".json")
    ]
    return max(versions) if versions else None


def catalog_snapshot(catalog: str, version: int | None = None) -> dict:
    """The catalog manifest of ``version`` (default: latest). Readers
    MUST resolve table versions through this map — going straight to a
    table's own latest manifest forfeits cross-table atomicity."""
    if version is None:
        version = catalog_latest_version(catalog)
        if version is None:
            raise ValueError(f"not a tx catalog: {catalog}")
    with open(_catalog_manifest_path(catalog, version)) as fh:
        return json.load(fh)


def _catalog_commit(catalog: str, expected_parent: int | None,
                    tables: dict[str, list], op: str) -> int:
    """Hard-link CAS, same shape as ``txlog._commit``: fsync a dot-tmp,
    link to the version name, EEXIST = lost the race. Carries the same
    monotonic ``ts_us`` commit label as table manifests, so CROSS-TABLE
    time travel (``catalog_version_as_of_timestamp``) resolves a
    consistent multi-table snapshot at an instant."""
    import time

    version = 0 if expected_parent is None else expected_parent + 1
    parent_ts = 0
    if expected_parent is not None:
        try:
            with open(_catalog_manifest_path(
                    catalog, expected_parent)) as fh:
                parent_ts = json.load(fh).get("ts_us", 0)
        except FileNotFoundError:
            parent_ts = 0
    manifest = {"version": version, "parent": expected_parent,
                "op": op,
                "ts_us": max(parent_ts + 1, time.time_ns() // 1_000),
                "tables": tables}
    mdir = os.path.join(catalog, _MANIFEST_DIR)
    tmp = os.path.join(mdir, f".v{version:08d}.{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
        fh.flush()
        os.fsync(fh.fileno())
    try:
        os.link(tmp, _catalog_manifest_path(catalog, version))
    except FileExistsError:
        raise TxConflict(
            f"catalog version {version} already committed in {catalog}"
        ) from None
    finally:
        os.unlink(tmp)
    return version


def catalog_init(catalog: str, tables: dict[str, str]) -> None:
    """Register ``{name: table_dir}`` at each table's current latest
    version (the tables are tx-inited if they aren't yet). Idempotent."""
    os.makedirs(os.path.join(catalog, _MANIFEST_DIR), exist_ok=True)
    if catalog_latest_version(catalog) is not None:
        return
    pinned = {}
    for name, tdir in tables.items():
        tx_init(tdir)
        pinned[name] = [tdir, tx_latest_version(tdir)]
    _catalog_commit(catalog, None, pinned, op="init")


def _commit_branch(table: str, parent: int, files: list[str],
                   op: str, max_retries: int = 16) -> int:
    """Commit ``files`` as a new version whose recorded LINEAGE is
    ``parent`` but whose version NUMBER is the next free one — the
    allocator a catalog-managed table needs: a concurrent writer that
    takes latest+1 first must not force us to re-derive content (our
    content depends only on the catalog-pinned ``parent``; the catalog
    CAS, not the table version number, decides who wins)."""
    from pulsar_project_spark.sources.txlog import _commit

    base = tx_latest_version(table)
    if base is None:
        raise ValueError(f"not a tx table: {table}")
    for attempt in range(max_retries):
        try:
            # the manifest's recorded parent is the ALLOCATION slot;
            # the true lineage rides in the txn field for audit —
            # lineage consumers read the catalog, and the manifest's
            # file list is complete in itself
            v = _commit(table, tx_snapshot(table, base + attempt), files,
                        op=op, txn={"lineage": parent})
        except TxConflict:
            continue
        return v
    raise TxConflict(f"branch commit lost {max_retries} races in {table}")


def catalog_move(spark: SparkSession, catalog: str, src: str, dst: str,
                 predicate, max_retries: int = 5) -> int:
    """Atomically MOVE the rows matching ``predicate`` (a Column) from
    table ``src`` to table ``dst``: one cross-table transaction — no
    catalog reader ever sees the moved rows in both tables or in
    neither. Returns the committed catalog version.

    Scale shape: the data plane is one read of src + two writes (the
    survivors, the movers); the atomicity costs only metadata — two
    staged table manifests and one catalog CAS."""
    for _ in range(max_retries):
        csnap = catalog_snapshot(catalog)
        (src_dir, src_v) = csnap["tables"][src]
        (dst_dir, dst_v) = csnap["tables"][dst]
        ssnap = tx_snapshot(src_dir, src_v)
        dsnap = tx_snapshot(dst_dir, dst_v)
        if ssnap["files"]:
            # masked read: deletion vectors on the pinned src snapshot
            # must hold through the move — a plain scan would resurrect
            # masked rows into one of the two output tables
            from pulsar_project_spark.sources.txlog import (
                _read_files_masked,
            )

            df = _read_files_masked(spark, src_dir, ssnap, ssnap["files"])
            movers = df.filter(predicate)
            survivors = df.filter(~predicate | predicate.isNull())
            new_src = _stage_dataframe(survivors, src_dir, n_files=2)
            moved = _stage_dataframe(movers, dst_dir, n_files=2)
        else:
            new_src, moved = [], []
        src_v2 = _commit_branch(src_dir, src_v, new_src, op="move-out")
        dst_v2 = _commit_branch(dst_dir, dst_v,
                                dsnap["files"] + moved, op="move-in")
        tables = dict(csnap["tables"])
        tables[src] = [src_dir, src_v2]
        tables[dst] = [dst_dir, dst_v2]
        try:
            return _catalog_commit(catalog, csnap["version"], tables,
                                   op="move")
        except TxConflict:
            continue  # somebody moved first: redo from THEIR snapshot
    raise TxConflict(f"move lost {max_retries} catalog races in {catalog}")


def catalog_read(spark: SparkSession, catalog: str, name: str,
                 version: int | None = None):
    """Read table ``name`` exactly as the catalog snapshot pins it.
    Returns (DataFrame | None, n_files) — None for a 0-file table (the
    caller supplies the schema-correct empty frame if needed). Reads
    through the FULL tx read path (round-9 fix: the raw parquet read
    ignored deletion vectors and column mapping, so a catalog-managed
    table with a DV delete resurrected masked rows and a renamed one
    leaked physical column names)."""
    from pulsar_project_spark.sources.txlog import _read_files_masked

    csnap = catalog_snapshot(catalog, version)
    tdir, tv = csnap["tables"][name]
    snap = tx_snapshot(tdir, tv)
    files = snap["files"]
    if not files:
        return None, 0
    return _read_files_masked(spark, tdir, snap, files), len(files)


def catalog_vacuum(catalog: str, retention_seconds: float = 86400.0) -> int:
    """Catalog-aware VACUUM (ADVICE r7): for a catalog-managed table,
    liveness is what the CATALOG pins, not the table's own latest
    manifest — a losing ``catalog_move`` leaves its abandoned branch AS
    the table's latest, and ``tx_vacuum``'s latest-manifest rule would
    keep the abandoned branch while deleting the catalog-pinned
    version's files (silent data loss for catalog readers). Here the
    live set of each table is the union of its files (and DV files)
    over EVERY version any surviving catalog snapshot pins; abandoned
    branch versions' manifests and unreferenced data files older than
    ``retention_seconds`` are reclaimed. Writer-transaction ids of
    dropped manifests fold into each table's sidecar exactly as in
    ``tx_vacuum``. Single-maintenance-process discipline applies.
    Returns the number of data files removed across all tables."""
    import time as _time

    from pulsar_project_spark.sources.txlog import (
        _known_txns,
        _txn_key,
        _TXN_SIDECAR,
    )

    start = _time.time()
    latest_cat = catalog_latest_version(catalog)
    if latest_cat is None:
        raise ValueError(f"not a tx catalog: {catalog}")
    cmdir = os.path.join(catalog, _MANIFEST_DIR)
    surviving_cats = [
        int(f[1:9]) for f in os.listdir(cmdir)
        if f.startswith("v") and f.endswith(".json")
        and int(f[1:9]) >= latest_cat
    ]
    # pinned versions per table dir, unioned over surviving catalog
    # snapshots (>= the one pinned at vacuum start — snapshots landing
    # mid-vacuum stay safe exactly as in tx_vacuum)
    pinned: dict[str, set[int]] = {}
    for cv in surviving_cats:
        for tdir, tv in catalog_snapshot(catalog, cv)["tables"].values():
            pinned.setdefault(tdir, set()).add(tv)
    removed = 0
    horizon = start - retention_seconds
    for tdir, versions in pinned.items():
        live: set[str] = set()
        for tv in versions:
            snap = tx_snapshot(tdir, tv)
            live.update(snap["files"])
            live.update(snap.get("dvs", {}).values())
        mdir = os.path.join(tdir, _MANIFEST_DIR)
        dropped_txns = {}
        drop_manifests = []
        for f in os.listdir(mdir):
            if not (f.startswith("v") and f.endswith(".json")):
                continue
            v = int(f[1:9])
            if v in versions:
                continue
            path = os.path.join(mdir, f)
            if os.path.getmtime(path) > horizon:
                continue  # maybe a move staging its branch right now
            with open(path) as fh:
                m = json.load(fh)
            txn = m.get("txn")
            if txn and "app" in txn and "batch" in txn:
                dropped_txns[_txn_key(txn["app"], txn["batch"])] = m["version"]
            drop_manifests.append(path)
        if dropped_txns:
            known = _known_txns(tdir)
            known.update(dropped_txns)
            tmp = os.path.join(mdir, f".{_TXN_SIDECAR}.{uuid.uuid4().hex}.tmp")
            with open(tmp, "w") as fh:
                json.dump(known, fh)
                fh.flush()
                os.fsync(fh.fileno())
            os.replace(tmp, os.path.join(mdir, _TXN_SIDECAR))
        for path in drop_manifests:
            os.unlink(path)
        for f in list(os.listdir(tdir)):
            if f.endswith(".parquet") and f not in live:
                path = os.path.join(tdir, f)
                try:
                    if os.path.getmtime(path) > horizon:
                        continue
                    os.unlink(path)
                except FileNotFoundError:
                    continue
                removed += 1
    return removed


def catalog_version_as_of_timestamp(catalog: str, ts_us: int) -> int:
    """CROSS-TABLE time travel: the highest catalog version committed
    at or before ``ts_us`` — reading every table through that snapshot
    (``catalog_read(..., version=...)``) yields the CONSISTENT
    multi-table state at that instant, which per-table AS OF TIMESTAMP
    cannot give (two tables' own commit clocks interleave arbitrarily
    around a cross-table move; the catalog clock is the serialization
    order). Same floor/edge semantics as the table-level resolver."""
    mdir = os.path.join(catalog, _MANIFEST_DIR)
    if not os.path.isdir(mdir):
        raise ValueError(f"not a tx catalog: {catalog}")
    best = None
    for f in os.listdir(mdir):
        if not (f.startswith("v") and f.endswith(".json")):
            continue
        v = int(f[1:9])
        with open(os.path.join(mdir, f)) as fh:
            m = json.load(fh)
        if m.get("ts_us", 0) <= ts_us and (best is None or v > best):
            best = v
    if best is None:
        raise ValueError(
            f"{catalog}: no catalog commit at or before ts_us={ts_us}")
    return best
