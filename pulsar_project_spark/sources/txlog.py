"""Snapshot-isolated transactional table log — manifest + atomic CAS.

Round 6 shipped the compaction PLANNER (``compaction_plan_buckets``)
and left execution as the missing lakehouse primitive (VERDICT r6
"What's missing" #4): at 100 TB with concurrent pipelines, rewriting
small files in place is unsafe — a reader mid-scan must never see a
half-swapped directory, and two writers must never silently clobber
each other. This module is the Delta/Iceberg-style log protocol
reduced to its correctness core, stdlib-only:

  table_dir/
    <uuid>-<i>.parquet          immutable data files (never rewritten)
    _staging/<uuid>/            writer scratch, invisible to readers
    _manifests/v00000007.json   snapshot = explicit file list

COMMIT = one ``os.link(tmp, _manifests/v{n}.json)``: hard-linking is
atomic and fails with EEXIST if version n already exists, so the
manifest directory itself is the compare-and-swap register — no
pointer file whose update could race, no lock server. Readers resolve
the snapshot as the HIGHEST manifest version present; since manifests
are written to a dot-tmp name first and linked only when fully synced,
a reader can never observe a torn manifest, and since data files are
immutable and linked into a manifest only after their bytes are fully
staged and moved, a reader can never observe a half-written file.

Concurrency: optimistic. A writer reads snapshot v, stages its data,
and attempts to commit v+1; if another writer got there first the link
raises, the loser re-reads and retries (appends rebase trivially;
compaction re-plans, since its input file set changed). Old snapshots
stay readable — compaction REPLACES files in the manifest but deletes
nothing — until ``tx_vacuum`` drops files unreferenced by the latest
manifest (which forfeits time travel to older versions, stated
explicitly, exactly like Delta's VACUUM).

On an object store without hard links the same protocol runs with a
conditional PUT (If-None-Match) of the manifest object; every other
step is already rename-free.

Metadata rule: a manifest carries TABLE metadata (constraints, rename
chain, drop list, widening types, generated columns, schema union,
``row_hwm``) and PER-FILE maps (bounds/blooms ``stats``, deletion
vectors ``dvs``, row-id bases ``rids``). Every commit inherits the
parent's table metadata and the parent's per-file entries for the
files it keeps, and states only what it changes (``_commit``).

ONE append (``tx_append``) serves every write shape through one CAS
loop (``_append_commit``, shared with the ``tx_table`` batch writer),
with orthogonal options:

- ``txn=(app, batch)`` — exactly-once: the writer-transaction id rides
  inside the manifest, so the replay check and the commit are one CAS
  (the Delta ``txn`` pattern a streaming foreachBatch sink needs — a
  replayed micro-batch becomes a no-op, never a duplicate).
- ``cluster_by`` — range clustering with per-file bounds: PARTITION-
  SPEC EVOLUTION, since each generation of files may be clustered by
  a different spec and the pruned read tests bounds per file; re-
  speccing a 100 TB table costs nothing for existing data.
- ``bloom_col`` — a per-file Bloom index (``__bloom__<col>`` in the
  stats): min/max cannot skip a high-cardinality id scattered across
  every file, a bloom proves definite absence (``tx_read_bloom_point``).
- ``stat_cols`` — per-file min/max bounds for driver-side pruning.

ROW TRACKING is table state, set at creation
(``tx_init(table, row_tracking=True)``, Delta's table-property model):
every append to a tracked table mints table-unique ids at zero stored
bytes (``rids[file] = base``, id = base + row position, bases drawn
from ``row_hwm`` inside the CAS so racing appends get disjoint
ranges), and every rewrite MATERIALIZES them as a physical ``_rid``
column, so ids are rewrite-stable and never reused. Row identity is
what lets change feeds, incremental MERGE sources and audit diffs say
"the SAME row, updated" across compactions (``tx_changes_by_rid``).

Reference scope: the reference persists whole-state snapshots and
task files (memory.py:63-90, task.py:406-470) with no concurrent-
writer story — this is the beyond-reference scale path for the same
save/load surface.
"""

from __future__ import annotations

import functools
import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_MANIFEST_DIR = "_manifests"
_STAGING_DIR = "_staging"
_TXN_SIDECAR = "txns.json"


class TxConflict(Exception):
    """Another writer committed the version this transaction targeted."""


class TxConstraintViolation(ValueError):
    """A write contained rows failing a table CHECK constraint."""


def _manifest_path(table: str, version: int) -> str:
    return os.path.join(table, _MANIFEST_DIR, f"v{version:08d}.json")


def tx_init(table: str, row_tracking: bool = False) -> None:
    """Create an empty table (version 0, no files). Idempotent.

    ``row_tracking=True`` creates the table TRACKED (the Delta
    table-property model): its manifest carries ``row_hwm``, and from
    then on every append mints row ids (see the module docstring).
    Tracking is chosen at creation; asking for it on an existing
    untracked table raises."""
    os.makedirs(os.path.join(table, _MANIFEST_DIR), exist_ok=True)
    os.makedirs(os.path.join(table, _STAGING_DIR), exist_ok=True)
    if tx_latest_version(table) is None:
        _commit(table, None, [], op="init",
                row_hwm=0 if row_tracking else None)
    elif row_tracking and not _tracked(tx_snapshot(table)):
        raise ValueError(
            f"{table}: row tracking is set when the table is created")


def tx_latest_version(table: str) -> int | None:
    """Highest committed version, or None for a non-table directory."""
    mdir = os.path.join(table, _MANIFEST_DIR)
    if not os.path.isdir(mdir):
        return None
    versions = [
        int(f[1:9]) for f in os.listdir(mdir)
        if f.startswith("v") and f.endswith(".json")
    ]
    return max(versions) if versions else None


def tx_snapshot(table: str, version: int | None = None) -> dict:
    """The manifest dict of ``version`` (default: latest)."""
    if version is None:
        version = tx_latest_version(table)
        if version is None:
            raise ValueError(f"not a tx table: {table}")
    with open(_manifest_path(table, version)) as fh:
        return json.load(fh)


def _tracked(snap: dict) -> bool:
    """Row tracking is TABLE state: on iff the manifest carries row_hwm."""
    return "row_hwm" in snap


# TABLE metadata: every commit inherits these from its parent unless it
# passes a replacement (the schema union only ever grows, see _commit).
_TABLE_META = ("constraints", "renames", "drops", "types", "generated",
               "row_hwm")
# PER-FILE maps: a commit keeps the parent's entries for the files it
# still lists and adds entries for the files it brings in.
_FILE_MAPS = ("stats", "dvs", "rids")


def _commit(table: str, parent: dict | None, files: list[str], op: str,
            *, txn: dict | None = None, schema: dict | None = None,
            **changes) -> int:
    """Atomically commit ``files`` as the version after ``parent`` (the
    snapshot the caller planned against; None only for ``tx_init``).

    Write the manifest fully (fsync'd) to a dot-tmp name, then
    ``os.link`` it to its final version name — the one atomic step.
    Raises ``TxConflict`` if that version already exists.

    One rule carries metadata forward: the new manifest inherits every
    ``_TABLE_META`` key of ``parent`` unless ``changes`` replaces it;
    its ``schema`` is the MONOTONE UNION of the parent's and this
    commit's staged columns (name → Spark simpleString — the read
    planner builds a widened explicit schema from metadata alone, zero
    footer round trips; stale names retired by renames/drops are
    harmless); each ``_FILE_MAPS`` map keeps the parent's entries for
    files still listed, then takes ``changes``' entries for this
    commit's files (``dvs`` maps data file → deletion-vector file,
    ``rids`` data file → row-id base or None when materialized). ``txn``
    (writer-transaction id, see ``tx_append``) rides inside the
    manifest so idempotency-check and commit share the CAS. Every
    manifest carries a MONOTONIC commit timestamp ``ts_us`` (max of
    wall clock and parent's ts_us + 1, so a clock step backwards can
    never produce an out-of-order label) — the resolution key for AS
    OF TIMESTAMP time travel (``tx_version_as_of_timestamp``)."""
    parent = parent or {}
    version = parent["version"] + 1 if parent else 0
    manifest = {
        "version": version,
        "parent": parent.get("version"),
        "op": op,
        "ts_us": max(parent.get("ts_us", 0) + 1, time.time_ns() // 1_000),
        "files": sorted(files),
    }
    for key in _TABLE_META:
        value = changes.pop(key, None)
        if value is None:
            value = parent.get(key)
        if value not in (None, {}, []):  # row_hwm 0 is kept
            manifest[key] = value
    union = {**parent.get("schema", {}), **(schema or {})}
    if union:
        manifest["schema"] = union
    live = set(files)
    for key in _FILE_MAPS:
        entries = {n: e for n, e in parent.get(key, {}).items() if n in live}
        entries.update(changes.pop(key, None) or {})
        if entries:
            manifest[key] = entries
    if changes:
        raise TypeError(f"_commit: unknown manifest keys {sorted(changes)}")
    if txn is not None:
        manifest["txn"] = txn
    mdir = os.path.join(table, _MANIFEST_DIR)
    tmp = os.path.join(mdir, f".v{version:08d}.{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
        fh.flush()
        os.fsync(fh.fileno())
    try:
        os.link(tmp, _manifest_path(table, version))
    except FileExistsError:
        raise TxConflict(
            f"version {version} already committed in {table}"
        ) from None
    finally:
        os.unlink(tmp)
    return version


def _stage_dataframe(df: DataFrame, table: str,
                     n_files: int | None = None,
                     shuffle: bool = False) -> list[str]:
    """Write ``df`` under ``_staging/<uuid>`` and move the produced
    parquet parts into the table root under fresh unique names. The
    moved files are INVISIBLE until a manifest references them, so a
    crash here leaks scratch bytes (reclaimed by vacuum) but can never
    corrupt a snapshot.

    ``shuffle=True`` sizes the output with ``repartition`` instead of
    ``coalesce`` — Delta's optimized-write shape. The difference is a
    plan property, not a style choice: ``coalesce(1)`` merges the
    UPSTREAM partitions into one task, so when the write's input is a
    stateful operator, a pandas UDF, or any reduce-side compute, that
    whole computation runs serially in the single merged task
    (measured 3.5x on the keep-last stateful landing, round 12).
    ``repartition`` inserts a shuffle AFTER the computation, keeping
    it parallel and paying only a small-output exchange. Default stays
    ``coalesce`` for plain-scan batch appends, where avoiding the
    extra shuffle is the right trade."""
    sid = uuid.uuid4().hex
    staged = os.path.join(table, _STAGING_DIR, sid)
    out = ((df.repartition(n_files) if shuffle else df.coalesce(n_files))
           if n_files else df)
    out.write.mode("overwrite").parquet(staged)
    names = []
    parts = sorted(f for f in os.listdir(staged)
                   if f.endswith(".parquet") and not f.startswith("."))
    for i, part in enumerate(parts):
        name = f"{sid}-{i:05d}.parquet"
        os.rename(os.path.join(staged, part), os.path.join(table, name))
        names.append(name)
    # leftover _SUCCESS/.crc scratch
    for f in os.listdir(staged):
        os.unlink(os.path.join(staged, f))
    os.rmdir(staged)
    return names


def tx_append(df: DataFrame, table: str, n_files: int | None = None, *,
              shuffle: bool = False, txn: tuple[str, int] | None = None,
              cluster_by: list[str] | None = None,
              bloom_col: str | None = None,
              stat_cols: list[str] | None = None,
              max_retries: int = 8) -> int:
    """Append ``df`` as new immutable files; returns the new version.

    Generated columns are computed/validated and CHECK constraints
    enforced on the incoming rows before a byte is staged; then the
    rows are staged once and CAS-committed with rebase on conflict
    (``_append_commit``). Options, all orthogonal:

    - ``n_files`` / ``shuffle``: output file count, sized by
      ``coalesce`` or, with ``shuffle``, ``repartition`` (see
      ``_stage_dataframe``);
    - ``txn=(app, batch)``: idempotent writer-transaction key — a
      replayed ``(app, batch)`` returns the version that committed it
      before staging anything, so a replay neither duplicates rows nor
      burns id range;
    - ``cluster_by``: range-cluster the rows on these columns into
      ``n_files`` files (Spark's shuffle partition count when unset),
      sorted within files, recording their per-file bounds;
    - ``bloom_col``: record a per-file Bloom filter (plus bounds) on
      this int/string column;
    - ``stat_cols``: record per-file min/max bounds of these columns.

    On a row-tracked table (``tx_init(..., row_tracking=True)``) the
    new files get fresh id ranges from the table's ``row_hwm``."""
    if txn is not None:
        done = tx_txn_version(table, *txn)
        if done is not None:
            return done
    snap = tx_snapshot(table)
    gens = snap.get("generated", {})
    df = _apply_generated(df, table, gens)  # may ADD a cluster column
    validated = snap.get("constraints", {})
    _enforce_constraints(df, table, validated)
    if cluster_by:
        out = df.repartitionByRange(*([n_files] if n_files else []),
                                    *cluster_by)
        new_files = _stage_dataframe(out.sortWithinPartitions(*cluster_by),
                                     table)
    else:
        new_files = _stage_dataframe(df, table, n_files, shuffle=shuffle)
    bounded = sorted({*(cluster_by or ()), *(stat_cols or ()),
                      *([bloom_col] if bloom_col else [])})
    fresh = _collect_file_stats(table, new_files, bounded) if bounded else {}
    if bloom_col:
        for n, bloom in _build_blooms(table, new_files, bloom_col).items():
            fresh[n][_BLOOM_PREFIX + bloom_col] = bloom
    op = ("append-clustered" if cluster_by
          else "append-bloomed" if bloom_col else "append")
    return _append_commit(
        table, new_files, op, gens=gens, validated=validated,
        recheck=lambda cs: _enforce_constraints(df, table, cs),
        schema=_df_schema_map(df), stats=fresh, txn=txn,
        max_retries=max_retries)


def _append_commit(table: str, new_files: list[str], op: str, *,
                   gens: dict, validated: dict, recheck, schema: dict,
                   stats: dict | None = None, counts: dict | None = None,
                   txn: tuple[str, int] | None = None,
                   max_retries: int = 8) -> int:
    """THE append commit loop — every append path (``tx_append``, the
    ``tx_table`` batch writer) ends here. Staged ``new_files`` are
    rebased onto the latest snapshot and CAS-committed; an append
    composes with any concurrent commit, so a lost race just retries.

    Per attempt: a ``txn`` already committed (a concurrent replay won)
    returns that version, our staged files left as vacuum-able orphans;
    a generator that landed mid-flight raises (the staged files were
    not written under it and cannot rebase — the caller retries whole);
    constraints that landed since ``validated`` are handed to
    ``recheck`` (the ADVICE r8 TOCTOU rule); on a tracked table the new
    files get id bases from THIS snapshot's ``row_hwm``, so racing
    appends get disjoint ranges. ``counts`` (rows per new file) is read
    from the footers only when the table is tracked."""
    for _ in range(max_retries):
        if txn is not None:
            done = tx_txn_version(table, *txn)
            if done is not None:
                return done
        snap = tx_snapshot(table)
        if snap.get("generated", {}) != gens:
            raise TxConflict(
                f"{table}: generated-column set changed during append")
        cs = snap.get("constraints", {})
        delta = {n: p for n, p in cs.items() if validated.get(n) != p}
        if delta:
            recheck(delta)
        validated = cs
        rids, hwm = {}, None
        if _tracked(snap):
            if counts is None:
                counts = {n: _parquet_num_rows(os.path.join(table, n))
                          for n in new_files}
            rids, hwm = _fresh_ids(snap, new_files, counts)
        try:
            return _commit(
                table, snap, snap["files"] + new_files, op,
                txn=None if txn is None else {"app": txn[0],
                                              "batch": txn[1]},
                schema=schema, stats=stats, rids=rids, row_hwm=hwm)
        except TxConflict:
            continue
    raise TxConflict(f"append lost {max_retries} CAS races in {table}")


# a deletion-vector sidecar read through ``_scan`` as a one-generation
# table: (data file name, row position) per masked row
_DV_SNAP = {"schema": {"file": "string", "pos": "bigint"}}


def _dv_mask(spark: SparkSession, table: str, snap: dict,
             names: list[str]) -> DataFrame | None:
    """The (file, pos) rows the snapshot's deletion vectors mask in
    ``names``; None when none of them carries a DV."""
    dvs = snap.get("dvs", {})
    dv_files = sorted({dvs[n] for n in names if n in dvs})
    if not dv_files:
        return None
    return _scan(spark, table, _DV_SNAP, dv_files, row_ids=False)


def _scan(spark: SparkSession, table: str, snap: dict, names: list[str],
          *, row_ids: bool, positions: bool = False) -> DataFrame:
    """THE scan over table files — every read of live rows ends here.

    ``names`` (files of ``snap``) are read under the schema the snapshot
    records (``_widened_read_schema``: the manifest's schema union with
    widened types promoted, footer union for pre-upgrade tables), so
    every generation reads with every column the table ever had — a
    generation written before ADD COLUMN reads NULL for it — and
    narrow pages promote in the scan. Deletion vectors (merge-on-read
    DELETE) apply as an anti-join on (``_metadata.file_name``,
    ``_metadata.row_index``) against the DV relation; the mask is not
    broadcast-hinted: usually tiny (AQE broadcasts it at runtime) but
    bounded only by the number of deleted rows. Then renames resolve
    (``_apply_renames``) and dropped columns are projected out.

    ``row_ids=True`` is the identity view of a row-tracked table: the
    ``_rid`` column is resolved from the same (file, row_index) keys the
    mask addresses — ``base + row_index`` for positional files via a
    broadcast join against the manifest's (file → base) map, the
    physical ``_rid`` for materialized ones — and a file without
    tracking metadata raises (the loud error beats a silent NULL id).
    Otherwise a tracked table's physical ``_rid`` is dropped (the values
    view). ``positions=True`` keeps the ``__file``/``__pos`` keys."""
    rids = snap.get("rids", {})
    if row_ids:
        untracked = [n for n in names if n not in rids]
        if untracked:
            raise ValueError(
                f"{table}: files without row-tracking metadata (a table is "
                f"tracked only if created with tx_init(table, "
                f"row_tracking=True)): {sorted(untracked)[:3]}")
    df = spark.read.schema(_widened_read_schema(table, snap, names)).parquet(
        *(os.path.join(table, n) for n in names))
    data_cols = [c for c in df.columns if c != _RID or not _tracked(snap)]
    positional = ({n: rids[n] for n in names if rids[n] is not None}
                  if row_ids else {})
    mask = _dv_mask(spark, table, snap, names)
    if positional or mask is not None or positions:
        df = df.select("*", F.col("_metadata.file_name").alias("__file"),
                       F.col("_metadata.row_index").alias("__pos"))
    extra = ["__file", "__pos"] if positions else []
    if row_ids:
        rid = None
        if positional:
            bases = spark.createDataFrame(
                sorted(positional.items()),
                schema="__file string, __base bigint")
            df = df.join(F.broadcast(bases), "__file", "left")
            rid = F.col("__base") + F.col("__pos")
        if len(positional) < len(names):  # materialized files present
            phys = F.col(_RID).cast("bigint")
            rid = phys if rid is None else F.coalesce(rid, phys)
        extra.insert(0, rid.alias(_RID))
    if mask is not None:
        df = df.join(mask.toDF("__file", "__pos"), ["__file", "__pos"],
                     "left_anti")
    if extra or len(data_cols) < len(df.columns):
        df = df.select(*data_cols, *extra)
    df = _apply_renames(df, snap.get("renames", []))
    gone = [c for c in snap.get("drops", []) if c in df.columns and c != _RID]
    return df.drop(*gone) if gone else df


def tx_read(spark: SparkSession, table: str,
            version: int | None = None) -> DataFrame:
    """Read one immutable snapshot (default: latest), deletion vectors
    applied. The file list is pinned at plan time, so concurrent
    commits/compactions/vacuums of NEWER versions cannot change or
    tear this scan — snapshot isolation by construction.

    SCHEMA EVOLUTION on read (the Delta/Iceberg ADD COLUMN property) is
    unconditional: the snapshot's recorded schema is the union of every
    generation's columns, so file generations written before a column
    existed scan with NULLs for it, generations written after carry it
    — no rewrite of old data, ever."""
    snap = tx_snapshot(table, version)
    if not snap["files"]:
        raise ValueError(f"version {snap['version']} of {table} is empty")
    return _scan(spark, table, snap, snap["files"], row_ids=False)


def plan_compaction(table: str, target_bytes: int) -> list[list[str]]:
    """Prefix-sum bin packing over the LIVE manifest's actual file
    sizes — the ``compaction_plan_buckets`` rule executed against real
    footer bytes: bucket = floor(bytes-before-this-file / target),
    file order preserved (so sort-derived min/max locality survives).
    Returns only buckets that actually merge (2+ files)."""
    snap = tx_snapshot(table)
    buckets: dict[int, list[str]] = {}
    before = 0
    for name in snap["files"]:
        size = os.path.getsize(os.path.join(table, name))
        buckets.setdefault(before // target_bytes, []).append(name)
        before += size
    return [b for b in buckets.values() if len(b) > 1]


def tx_compact(spark: SparkSession, table: str, target_bytes: int,
               max_retries: int = 3) -> int:
    """EXECUTE compaction transactionally: rewrite each multi-file
    bucket into one file, then commit a manifest that swaps the bucket
    inputs for the rewritten outputs. Readers of any already-committed
    version are untouched (inputs are not deleted — vacuum does that
    later); a crash at ANY step before the manifest link leaves the
    latest snapshot exactly as it was. A concurrent commit between
    plan and CAS re-plans from the new snapshot (the input file set
    changed under us). Returns the committed version (or the current
    one when nothing needs merging)."""
    for _ in range(max_retries):
        snap = tx_snapshot(table)
        merge_buckets = plan_compaction(table, target_bytes)
        if not merge_buckets:
            return snap["version"]
        replaced: set[str] = set()
        produced: list[str] = []
        staged_schema: dict = {}
        for bucket in merge_buckets:
            # masked read: compacting a DV'd file APPLIES the deletion
            # vector and drops it — DV compaction, the job that turns
            # merge-on-read debt back into clean files
            src = _read_rewrite_source(spark, table, snap, bucket)
            staged_schema.update(_df_schema_map(src))
            produced += _stage_dataframe(src, table, n_files=1)
            replaced.update(bucket)
        keep = [f for f in snap["files"] if f not in replaced]
        try:
            return _commit(table, snap, keep + produced, op="compact",
                           schema=staged_schema,
                           stats=_rebuilt_stats(table, snap, produced),
                           rids=_rewrite_ids(snap, produced))
        except TxConflict:
            continue  # somebody committed: re-plan against their files
    raise TxConflict(f"compaction lost {max_retries} CAS races in {table}")


def _known_txns(table: str) -> dict:
    """Writer-transaction ids preserved across vacuum: the sidecar maps
    "app\\x00batch" → committed version for every (app, batch) whose
    manifest vacuum has dropped (Delta's checkpoint setTransaction
    pattern). Missing sidecar = empty."""
    path = os.path.join(table, _MANIFEST_DIR, _TXN_SIDECAR)
    try:
        with open(path) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return {}


def _txn_key(app: str, batch: int) -> str:
    return f"{app}\x00{batch}"


def tx_vacuum(table: str, retention_seconds: float = 86400.0) -> int:
    """Delete data files unreferenced by the latest manifest pinned at
    vacuum START, and manifests below it. Forfeits time travel to
    older versions (exactly Delta VACUUM's documented trade). Returns
    the number of data files removed.

    Writer-safety guards (ADVICE r7):
    - files younger than ``retention_seconds`` (mtime) are kept, so a
      concurrent writer's staged-but-uncommitted files and the data of
      commits landing mid-vacuum survive (Delta's retention check —
      pass 0 only under writer quiescence, the RETAIN 0 HOURS analog);
    - manifests with version >= the latest pinned at vacuum start are
      never deleted, so a commit racing the vacuum keeps its snapshot
      resolvable, and files referenced by any surviving manifest are
      live regardless of age;
    - deletion-vector files referenced by surviving manifests are live
      exactly like data files;
    - the (app, batch) writer-transaction ids of every manifest being
      dropped are folded into the ``txns.json`` sidecar FIRST (fsync +
      atomic replace), so ``tx_append(txn=...)`` idempotency — the
      exactly-once guarantee of the streaming sink — survives log
      cleanup. Vacuum itself must run as a single maintenance process
      per table (two concurrent vacuums may race the sidecar update).

    Do NOT run this on a catalog-managed table (sources/txcatalog.py):
    the catalog may pin a version that is not the table's own latest
    manifest — use ``catalog_vacuum`` there, which computes liveness
    from the catalog's pinned versions."""
    start = time.time()
    latest = tx_latest_version(table)
    if latest is None:
        raise ValueError(f"not a tx table: {table}")
    mdir = os.path.join(table, _MANIFEST_DIR)
    surviving_versions = sorted(
        int(f[1:9]) for f in os.listdir(mdir)
        if f.startswith("v") and f.endswith(".json") and int(f[1:9]) >= latest
    )
    live: set[str] = set()
    for v in surviving_versions:
        snap = tx_snapshot(table, v)
        live.update(snap["files"])
        live.update(snap.get("dvs", {}).values())
    # fold the txn ids of to-be-dropped manifests into the sidecar
    # BEFORE any manifest is unlinked: a crash between the two steps
    # leaves both records present (idempotency checks stay sound)
    dropped_txns = {}
    for f in os.listdir(mdir):
        if not (f.startswith("v") and f.endswith(".json")):
            continue
        v = int(f[1:9])
        if v >= latest:
            continue
        with open(os.path.join(mdir, f)) as fh:
            m = json.load(fh)
        txn = m.get("txn")
        if txn and "app" in txn and "batch" in txn:
            dropped_txns[_txn_key(txn["app"], txn["batch"])] = m["version"]
    if dropped_txns:
        known = _known_txns(table)
        known.update(dropped_txns)
        tmp = os.path.join(mdir, f".{_TXN_SIDECAR}.{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as fh:
            json.dump(known, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, os.path.join(mdir, _TXN_SIDECAR))
    removed = 0
    horizon = start - retention_seconds
    for f in list(os.listdir(table)):
        if f.endswith(".parquet") and f not in live:
            path = os.path.join(table, f)
            try:
                if os.path.getmtime(path) > horizon:
                    continue  # younger than retention: maybe mid-commit
                os.unlink(path)
            except FileNotFoundError:
                continue  # lost a race with another cleaner: already gone
            removed += 1
    for f in list(os.listdir(mdir)):
        if f.startswith("v") and f.endswith(".json") and int(f[1:9]) < latest:
            os.unlink(os.path.join(mdir, f))
    return removed


def tx_optimize_zorder(spark: SparkSession, table: str, col_a: str,
                       col_b: str, n_files: int = 8,
                       max_retries: int = 3,
                       record_stats: bool = True) -> int:
    """OPTIMIZE ... ZORDER BY (a, b): rewrite the whole snapshot
    Z-clustered — norm16-normalize both dims by their observed bounds
    (one mergeable min/max aggregate broadcast back), range-partition
    on the Morton code, sort within files — and commit the rewritten
    file set with the same atomic CAS as compaction. Readers of any
    committed version are untouched; the rewrite is pure layout (the
    oracle census proves zero data change) but every output file's
    min/max footer stats now bound BOTH dims, which is what lets a
    100 TB reader skip files on either predicate (tests/test_txlog.py
    asserts the written footer spans)."""
    from pulsar_project_spark.operators.layout import norm16_sql, zvalue

    for _ in range(max_retries):
        snap = tx_snapshot(table)
        if not snap["files"]:
            return snap["version"]
        # row-tracked tables: the rewrite MATERIALIZES ids (same rule
        # as compaction) — the _rid column rides through the Z-shuffle
        df = _read_rewrite_source(spark, table, snap, snap["files"])
        bounds = df.agg(
            F.min(col_a).alias("__amin"), F.max(col_a).alias("__amax"),
            F.min(col_b).alias("__bmin"), F.max(col_b).alias("__bmax"),
        )
        a16 = F.expr(norm16_sql(col_a, "__amin", "__amax"))
        b16 = F.expr(norm16_sql(col_b, "__bmin", "__bmax"))
        arranged = (
            df.crossJoin(F.broadcast(bounds))
            .withColumn("__z", zvalue(a16, b16))
            .repartitionByRange(n_files, "__z")
            .sortWithinPartitions("__z")
            .drop("__z", "__amin", "__amax", "__bmin", "__bmax")
        )
        produced = _stage_dataframe(arranged, table)
        # OPTIMIZE rebuilds bloom indexes like compaction does — the
        # whole-table rewrite would otherwise erase every bloom at once
        stats = (_rebuilt_stats(table, snap, produced, [col_a, col_b])
                 if record_stats else {})
        try:
            return _commit(table, snap, produced, op="optimize-zorder",
                           schema=_df_schema_map(df), stats=stats,
                           rids=_rewrite_ids(snap, produced))
        except TxConflict:
            continue  # staged files orphaned; vacuum reclaims them
    raise TxConflict(f"optimize lost {max_retries} CAS races in {table}")


def tx_txn_version(table: str, app: str, batch: int) -> int | None:
    """Version whose manifest carries writer-transaction id
    ``(app, batch)``, or None. Manifests are metadata (one small JSON
    per commit), so the scan is driver-trivial at any data scale.
    Consults the vacuum sidecar first: ids whose manifests were
    dropped by ``tx_vacuum`` stay detectable forever (the exactly-once
    guarantee must survive log cleanup)."""
    sidecar = _known_txns(table).get(_txn_key(app, batch))
    if sidecar is not None:
        return sidecar
    mdir = os.path.join(table, _MANIFEST_DIR)
    for f in sorted(os.listdir(mdir)):
        if not (f.startswith("v") and f.endswith(".json")):
            continue
        with open(os.path.join(mdir, f)) as fh:
            m = json.load(fh)
        txn = m.get("txn")
        if txn and txn.get("app") == app and txn.get("batch") == batch:
            return m["version"]
    return None


def _stat_value(v):
    """Normalize a parquet footer min/max to a JSON-safe primitive that
    ORDERS the same way (ADVICE r7: raw DATE/TIMESTAMP footer values
    crashed json.dump): int/float/bool/str pass through; date/datetime
    become isoformat strings (lexicographic order == temporal order,
    including the shorter-is-prefix no-microseconds case); anything
    else (DECIMAL, BINARY, ...) returns None — no bounds recorded,
    which every reader already treats as conservatively-kept."""
    import datetime

    if isinstance(v, bool) or isinstance(v, (int, float, str)):
        return v
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    return None


def _collect_file_stats(table: str, names: list[str],
                        cols: list[str]) -> dict:
    """Per-file min/max of ``cols`` from the parquet FOOTERS of freshly
    staged files — Iceberg's manifest column bounds. Read once at
    commit time (the files were just written, footers are hot), carried
    as metadata forever after. Values are normalized JSON-safe; a
    column whose type can't normalize order-faithfully simply records
    no bounds (pruning then keeps the file — correct, just unpruned)."""
    import pyarrow.parquet as papq

    out: dict[str, dict] = {}
    # GENERATED columns: record bounds only for files with ZERO nulls in
    # the column. Footer min/max ignore NULLs, and the derived-predicate
    # skip in ``tx_read_pruned`` reasons from a predicate on the BASE to
    # bounds on the generated column — a row with g NULL (written before
    # the generator was declared, carried through a rewrite) can have a
    # matching base while sitting outside the recorded g bounds, so
    # bounds over a null-containing file would prune a file that still
    # holds answers. Plain (same-column) pruning is unaffected: NULL
    # never matches BETWEEN, so non-null bounds stay sound there.
    gen_nullable = set(tx_generated(table)) & set(cols)
    for name in names:
        md = papq.read_metadata(os.path.join(table, name))
        st: dict[str, list] = {}
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for i in range(g.num_columns):
                col = g.column(i)
                c = col.path_in_schema
                if (c in gen_nullable
                        and (col.statistics is None
                             or col.statistics.null_count is None
                             or col.statistics.null_count > 0)):
                    st[c] = None  # null-bearing generated col: no bounds
                if c in cols and col.statistics is not None \
                        and col.statistics.has_min_max:
                    s = col.statistics
                    mn, mx = _stat_value(s.min), _stat_value(s.max)
                    if mn is None or mx is None:
                        st[c] = None  # unsupported type: poison the col
                    elif c in st:
                        if st[c] is not None:
                            st[c] = [min(st[c][0], mn), max(st[c][1], mx)]
                    else:
                        st[c] = [mn, mx]
        out[name] = {c: b for c, b in st.items() if b is not None}
    return out


def _rebuilt_stats(table: str, snap: dict, produced: list[str],
                   stat_cols: list[str] | None = None) -> dict:
    """Per-file stats for the OUTPUTS of a layout rewrite (compaction,
    OPTIMIZE, REORG): bounds over ``stat_cols`` (default: every column
    the snapshot already bounds) plus every Bloom index the snapshot
    carries, rebuilt on the new files (ADVICE r7: a rewrite must not
    erase the stats machinery the pruned read depends on; compaction is
    the re-index opportunity Delta OPTIMIZE also takes — DML rewrites
    drop blooms and read conservatively, but a compaction that dropped
    them would erode skipping on exactly the files everything
    eventually flows into). Stats keys are PHYSICAL names while the
    outputs are staged from the LOGICAL schema, so keys resolve through
    the rename chain and dropped columns are skipped (ADVICE r8 medium:
    OPTIMIZE failed on any bloomed table after RENAME/DROP COLUMN)."""
    chain = snap.get("renames", [])
    dropped = set(snap.get("drops", []))
    keys = {c for s in snap.get("stats", {}).values() for c in s}

    def logical(cs):
        return sorted({lc for c in cs
                       for lc in (_resolve_to_logical(c, chain),)
                       if lc not in dropped})
    if stat_cols is None:
        stat_cols = logical(c for c in keys
                            if not c.startswith(_BLOOM_PREFIX))
    bloom_cols = logical(c[len(_BLOOM_PREFIX):] for c in keys
                         if c.startswith(_BLOOM_PREFIX))
    if not (stat_cols or bloom_cols):
        return {}
    fresh = (_collect_file_stats(table, produced, stat_cols)
             if stat_cols else {n: {} for n in produced})
    for col in bloom_cols:
        for n, bloom in _build_blooms(table, produced, col).items():
            fresh[n][_BLOOM_PREFIX + col] = bloom
    return fresh


def _fresh_ids(snap: dict, new_files: list[str],
               counts: dict) -> tuple[dict, int]:
    """(rids, new row_hwm): positional id ranges for ``new_files`` on a
    tracked table, drawn in order from THIS snapshot's ``row_hwm`` —
    called inside a CAS loop, so racing writers get disjoint ranges.
    Ids live only in the manifest (``rids[file] = base``; a read
    computes ``base + row_index``); the hwm only grows, so deleted ids
    are never reused."""
    hwm = snap["row_hwm"]
    rids = {}
    for n in new_files:
        rids[n] = hwm
        hwm += counts[n]
    return rids, hwm


def _dml_stats(table: str, snap: dict, produced: list[str]) -> dict:
    """Bounds for a DML rewrite's outputs over the columns the snapshot
    already bounds; Bloom indexes are not rebuilt (rewritten files read
    conservatively until compaction re-indexes them)."""
    cols = sorted({c for s in snap.get("stats", {}).values() for c in s
                   if not c.startswith(_BLOOM_PREFIX)})
    return _collect_file_stats(table, produced, cols) if cols else {}


def _rewrite_ids(snap: dict, produced: list[str]) -> dict:
    """``rids`` entries for a rewrite's outputs: on a tracked table the
    ids are MATERIALIZED in the files (physical ``_rid``), which the
    manifest records as a None base."""
    return {n: None for n in produced} if _tracked(snap) else {}


def _read_rewrite_source(spark: SparkSession, table: str, snap: dict,
                         names: list[str]) -> DataFrame:
    """The live rows of ``names`` a rewrite carries (deletion vectors
    applied). On a row-tracked table they are read with ``_rid``
    resolved (base + position) so the rewrite stages the id as a
    physical column — after the commit the ids are data, immune to the
    positional shifts applied deletion vectors cause (Delta row
    tracking's rule)."""
    return _scan(spark, table, snap, names, row_ids=_tracked(snap))


def _split_by_bounds(snap: dict, col: str, lo, hi) -> tuple[list, list]:
    """(files that may hold ``col`` in [lo, hi], files that provably
    cannot) by the manifest bounds, resolved through the rename chain;
    files without bounds, and un-normalizable predicates, count as
    affected (conservative)."""
    stats = snap.get("stats", {})
    chain = snap.get("renames", [])
    nlo, nhi = _stat_value(lo), _stat_value(hi)
    affected, kept = [], []
    for name in snap["files"]:
        b = _file_bounds(stats.get(name, {}), col, chain)
        if (b is None or nlo is None or nhi is None
                or not (b[0] > nhi or b[1] < nlo)):
            affected.append(name)
        else:
            kept.append(name)
    return affected, kept


def _df_schema_map(df: DataFrame) -> dict:
    """{column → Spark simpleString} of a staged DataFrame — the unit
    every data-staging commit contributes to the manifest's monotone
    schema union (see ``_commit``)."""
    return {f.name: f.dataType.simpleString() for f in df.schema.fields}


def _physical_ancestors(col: str, chain: list) -> list[str]:
    """Every physical column name that resolves to logical ``col``
    through the manifest rename chain, newest first: for a→b→c the
    logical 'c' lives physically as 'c' (post-rename generations),
    'b' (mid-chain generations) or 'a' (pre-rename generations).
    Walking the chain BACKWARD accumulates exactly that set — the key
    that lets manifest stats recorded under a file's physical name
    keep serving pruning after the column is renamed (VERDICT r8
    order #1: a rename must not silently lose file-skipping on all
    history until compaction retires the mapping)."""
    names = [col]
    seen = {col}
    for old, new in reversed(chain):
        if new in seen and old not in seen:
            names.append(old)
            seen.add(old)
    return names


def _resolve_to_logical(col: str, chain: list) -> str:
    """The logical name a physical column resolves to: fold the rename
    chain forward (a→b then b→c maps 'a' to 'c')."""
    for old, new in chain:
        if col == old:
            col = new
    return col


def _physical_schema_map(table: str, snap: dict,
                         names: list[str] | None = None) -> dict:
    """{physical column → Spark simpleString} for a snapshot: the
    manifest's recorded schema union when present (zero I/O — every
    writer in this module records what it stages), else the union of
    the listed files' footers (pre-upgrade tables). ``names`` limits
    the footer fallback to the files actually being read."""
    recorded = snap.get("schema")
    if recorded:
        return dict(recorded)
    import pyarrow.parquet as papq

    from pyspark.sql.pandas.types import from_arrow_schema

    out: dict = {}
    for name in (snap["files"] if names is None else names):
        sch = from_arrow_schema(papq.read_schema(os.path.join(table, name)))
        for f in sch.fields:
            out.setdefault(f.name, f.dataType.simpleString())
    return out


def _logical_columns(table: str, snap: dict) -> set[str]:
    """The snapshot's CURRENT logical column names: the physical schema
    union (manifest-recorded, footer fallback), resolved through the
    rename chain, minus the drop list."""
    chain = snap.get("renames", [])
    drops = set(snap.get("drops", []))
    phys = _physical_schema_map(table, snap)
    return {_resolve_to_logical(c, chain) for c in phys} - drops


def _file_bounds(file_stats: dict, col: str, chain: list):
    """The manifest min/max bounds of logical column ``col`` for one
    file, resolved through the rename chain: a file written before a
    rename recorded its bounds under the physical (old) name, so every
    ancestor key is consulted. If more than one ancestor key is present
    (cannot happen for well-formed manifests — one footer, one name)
    the union of the bounds is returned, which is conservative and
    therefore always safe for pruning. None = no usable bounds."""
    found = [file_stats[k] for k in _physical_ancestors(col, chain)
             if file_stats.get(k) is not None]
    if not found:
        return None
    lo = min(b[0] for b in found)
    hi = max(b[1] for b in found)
    return [lo, hi]


def tx_read_pruned(spark: SparkSession, table: str, col: str,
                   lo, hi, version: int | None = None):
    """Snapshot read with DRIVER-SIDE file pruning: drop every file
    whose manifest bounds for ``col`` cannot intersect [lo, hi] BEFORE
    Spark ever lists or opens it — at 100 TB the planning-time win of
    an Iceberg manifest over a bare directory (footer pruning still
    needs one open+seek per file; this needs zero I/O). Files without
    recorded bounds are conservatively kept. Returns
    (DataFrame-with-the-residual-filter-applied, n_files_read,
    n_files_total); correctness never depends on the stats — the
    residual filter re-applies the predicate exactly."""
    snap = tx_snapshot(table, version)
    stats = snap.get("stats", {})
    chain = snap.get("renames", [])
    # compare in the same normalized domain the bounds were recorded in
    # (dates/timestamps as isoformat strings); un-normalizable
    # predicates prune nothing — every file conservatively kept.
    # Bounds are resolved through the rename chain (_file_bounds), so
    # pre-rename generations keep skipping under the logical name.
    nlo, nhi = _stat_value(lo), _stat_value(hi)
    # DERIVED predicates: a range on the BASE of a generated column
    # implies a range on the generated column (g = base div K is
    # monotone over nonnegative values — guarded below, since Spark's
    # ``div`` truncates toward zero while the derivation floors), so a
    # file whose GENERATED-column bounds are disjoint skips even when
    # the base column has no recorded stats at all. This is Delta's
    # generated-column partition-pruning rule on manifest bounds.
    checks = [(col, nlo, nhi)]
    if (isinstance(nlo, int) and isinstance(nhi, int)
            and not isinstance(nlo, bool) and not isinstance(nhi, bool)
            and nlo >= 0):
        for g, spec in snap.get("generated", {}).items():
            if spec.get("base") == col and int(spec.get("div", 0)) >= 1:
                k = int(spec["div"])
                checks.append((g, nlo // k, nhi // k))
    chosen = []
    for name in snap["files"]:
        skip = False
        for c, clo, chi in checks:
            b = _file_bounds(stats.get(name, {}), c, chain)
            if (b is not None and clo is not None and chi is not None
                    and (b[0] > chi or b[1] < clo)):
                skip = True
                break
        if not skip:
            chosen.append(name)
    return _read_chosen(spark, table, snap, chosen, f"{col} in [{lo}, {hi}]",
                        F.col(col).between(lo, hi))


def _read_chosen(spark: SparkSession, table: str, snap: dict,
                 chosen: list[str], wanted: str, residual):
    """The shared tail of the skipping reads (``tx_read_pruned``,
    ``tx_read_bloom_point``): raise when no file can hold ``wanted``,
    else scan the chosen files and re-apply the exact predicate
    ``residual`` — correctness never depends on the skipping metadata.
    Returns (DataFrame, n_files_read, n_files_total)."""
    if not chosen:
        raise ValueError(
            f"no file of {table} v{snap['version']} can contain {wanted}")
    df = _scan(spark, table, snap, chosen, row_ids=False)
    return df.filter(residual), len(chosen), len(snap["files"])


def tx_delete_range(spark: SparkSession, table: str, col: str, lo, hi,
                    max_retries: int = 3) -> int:
    """Copy-on-write DELETE WHERE col BETWEEN lo AND hi: the manifest's
    column bounds pick the files that can contain matches (files
    without recorded bounds are conservatively rewritten), ONLY those
    files are read back and rewritten without the matching rows, and
    the swap commits behind the same CAS — untouched files are carried
    by name, zero bytes moved. NULL values in ``col`` never match a
    range predicate (SQL semantics), so they survive. This is the
    Delta/Iceberg copy-on-write DELETE reduced to its correctness
    core; at 100 TB the bounds test is what keeps a targeted delete
    from rewriting the whole table."""
    for _ in range(max_retries):
        snap = tx_snapshot(table)
        affected, kept = _split_by_bounds(snap, col, lo, hi)
        if not affected:
            return snap["version"]
        # row-tracked tables: survivors carry their ``_rid`` through the
        # rewrite (materialized in the produced files), so a COW delete
        # preserves row identity exactly like a DV delete does
        src = _read_rewrite_source(spark, table, snap, affected)
        survivors = src.filter(
            F.col(col).isNull() | ~F.col(col).between(lo, hi))
        produced = _stage_dataframe(survivors, table,
                                    n_files=max(1, len(affected) // 2))
        try:
            return _commit(table, snap, kept + produced, op="delete",
                           schema=_df_schema_map(survivors),
                           stats=_dml_stats(table, snap, produced),
                           rids=_rewrite_ids(snap, produced))
        except TxConflict:
            continue
    raise TxConflict(f"delete lost {max_retries} CAS races in {table}")


def _regenerate_updated(df: DataFrame, table: str, gens: dict,
                        set_exprs: dict, flag) -> DataFrame:
    """Generated-column maintenance for DML rewrites (ADVICE r9 high):
    over a relation whose ``flag`` column marks the transformed rows,
    for every generator g = base div K — if the DML SET targets g
    itself, VALIDATE the post-update g against the post-update base
    (a wrong explicit value is rejected like a CHECK violation); if it
    targets only the BASE, RECOMPUTE g on the flagged rows (Delta's
    UPDATE rule — a stale g would make derived pruning in
    ``tx_read_pruned`` silently drop rows whose base matches). Rows
    the DML does not touch keep their values: every write path
    enforces the generator, so they conformed when written."""
    for g, spec in sorted(gens.items()):
        base, k = spec["base"], int(spec["div"])
        if g in set_exprs and g in df.columns:
            bad = df.filter(
                flag & ~F.col(g).eqNullSafe(F.expr(f"{base} div {k}"))
            ).limit(1)
            first = bad.first()
            if first is not None:
                raise TxConstraintViolation(
                    f"{table}: SET value for generated column {g} <> "
                    f"{base} div {k} — first offending row: "
                    f"{first.asDict()}")
        elif base in set_exprs:
            expr = F.expr(f"{base} div {k}")
            prev = (F.col(g).cast(df.schema[g].dataType)
                    if g in df.columns else F.lit(None))
            if g in df.columns:
                expr = expr.cast(df.schema[g].dataType)
            df = df.withColumn(g, F.when(flag, expr).otherwise(prev))
    return df


def _require_full_replacement(src: DataFrame, updates: DataFrame,
                              table: str) -> None:
    """An upsert's update rows REPLACE whole table rows — silently
    null-filling a table column the updates forgot would erase data
    (ADVICE r9: the tracked path's allowMissingColumns did exactly
    that while the untracked path failed loudly). Both paths now fail
    loudly here; columns the updates ADD beyond the table schema are
    still fine (ADD COLUMN semantics — existing rows read NULL)."""
    missing = sorted(set(src.columns) - {_RID} - set(updates.columns))
    if missing:
        raise ValueError(
            f"{table}: merge updates lack table column(s) {missing} — "
            "a replacement row must supply every data column")


def _union_gen_tolerant(a: DataFrame, b: DataFrame,
                        gens: dict) -> DataFrame:
    """unionByName that null-fills ONLY generator-managed columns: a
    merge's insert side carries computed generated columns even when
    no live file has the column yet (generator declared over existing
    data, no append since), and the carried/rewritten side then lacks
    it — NULL there is exactly the declared pre-declaration read value.
    Any other column-set mismatch still fails loudly."""
    diff = set(a.columns) ^ set(b.columns)
    if diff and diff <= set(gens):
        return a.unionByName(b, allowMissingColumns=True)
    return a.unionByName(b)


def tx_update(spark: SparkSession, table: str, col: str, lo, hi,
              set_exprs: dict[str, str], max_retries: int = 3) -> int:
    """Copy-on-write UPDATE ... SET <expr> WHERE col BETWEEN lo AND hi —
    the DML-roster member between DELETE (drop matching rows) and MERGE
    (replace by key): matching rows are rewritten IN PLACE with
    ``set_exprs`` (column name → SQL expression over the row, e.g.
    ``{"value_cents": "value_cents * 3 + 7"}``) and every other row is
    carried byte-identical. The manifest's per-file column bounds pick
    the files that can contain matches (files without recorded bounds
    are conservatively rewritten) — ONLY those are read back (deletion
    vectors applied, so a MoR-deleted row can never resurrect through
    an update rewrite) and swapped behind the CAS; untouched files carry
    by name. Updated columns keep their original dtype (the expression
    is cast back), so the table schema is update-invariant. NULLs in
    ``col`` never match a range predicate (SQL semantics) and pass
    through unchanged. Bounds for the rewritten files are recomputed
    (an update can move a clustering column), kept files keep theirs.
    At 100 TB the bounds test is what makes a targeted UPDATE cost the
    overlap, not the table. Reference anchor: the reference mutates
    task/memory fields in place (task.py:406-470) with no concurrent-
    writer story; this is that surface on the transactional log."""
    for _ in range(max_retries):
        snap = tx_snapshot(table)
        affected, kept = _split_by_bounds(snap, col, lo, hi)
        if not affected:
            return snap["version"]
        # row-tracked tables: an UPDATE preserves row identity — the
        # rewritten rows carry their ``_rid`` (same row, new values),
        # materialized in the produced files (Delta row tracking's
        # update rule). ``set_exprs`` may not target the id column.
        if _tracked(snap) and _RID in set_exprs:
            raise ValueError(f"{table}: {_RID} is managed by row "
                             "tracking and cannot be SET")
        src = _read_rewrite_source(spark, table, snap, affected)
        # the match flag is computed on PRE-update values and carried
        # through the projection: re-resolving the WHERE predicate
        # against post-update values would let an update that moves the
        # predicate column out of [lo, hi] smuggle constraint-violating
        # rows past enforcement (ADVICE r8 high)
        cond = F.col(col).isNotNull() & F.col(col).between(lo, hi)
        marked = src.withColumn("__m", cond)
        updated = marked.select(*(
            F.when(F.col("__m"),
                   F.expr(set_exprs[c]).cast(src.schema[c].dataType))
            .otherwise(F.col(c)).alias(c) if c in set_exprs else F.col(c)
            for c in src.columns
        ), "__m")
        # GENERATED-column maintenance on the transformed rows (ADVICE
        # r9 high): an update that moves a generator's BASE must
        # recompute the generated value (Delta's UPDATE rule — stale
        # values would make derived pruning silently drop live rows),
        # and an update that SETs the generated column directly is
        # validated against the post-update base like any supplied
        # write value. Untouched rows keep their values: they conformed
        # when written (every write path enforces the generator).
        updated = _regenerate_updated(
            updated, table, snap.get("generated", {}), set_exprs,
            F.col("__m"))
        # carried rows were valid when written (and ADD CONSTRAINT
        # validates the whole table) — only the transformed rows can
        # newly violate
        _enforce_constraints(updated.filter(F.col("__m")).drop("__m"),
                             table, snap.get("constraints", {}))
        updated = updated.drop("__m")
        produced = _stage_dataframe(updated, table,
                                    n_files=max(1, len(affected)))
        try:
            return _commit(table, snap, kept + produced, op="update",
                           schema=_df_schema_map(updated),
                           stats=_dml_stats(table, snap, produced),
                           rids=_rewrite_ids(snap, produced))
        except TxConflict:
            continue
    raise TxConflict(f"update lost {max_retries} CAS races in {table}")


def tx_merge_upsert(spark: SparkSession, table: str, updates: DataFrame,
                    key_col: str, max_retries: int = 3) -> int:
    """Copy-on-write MERGE (upsert) keyed on ``key_col``: every update
    row lands exactly once, REPLACING the whole table row with its key
    or inserted — ``tx_merge`` with ``UPDATE SET *`` / ``INSERT *``.
    Update rows must supply every table data column; extra columns are
    added to the table (ADD COLUMN: existing rows read NULL); replaced
    rows keep their ``_rid`` on a tracked table; keys must be unique
    and non-null. The range test is the GLOBAL [min, max] of the update
    keys, so a batch mixing low-key replacements with high-key inserts
    spans everything and rewrites everything — batch updates by key
    locality (one merge per partition-range, the Delta usage pattern)
    to keep it targeted."""
    return tx_merge(spark, table, updates, key_col, when_matched_set="*",
                    max_retries=max_retries)


def tx_clone(src: str, dst: str, version: int | None = None) -> int:
    """SHALLOW CLONE (the Delta/Iceberg zero-copy branch primitive):
    create ``dst`` as a new table whose version 1 references the data
    of ``src``'s pinned snapshot WITHOUT copying a byte — every live
    file is ``os.link``-ed into the clone directory, so both tables
    share inodes but own independent directory entries. Independence
    is total from that point: commits/DML on either side touch only
    its own manifests, and ``tx_vacuum`` on the source unlinks only
    the source's names — the clone's hard links keep the shared
    inodes alive (and vice versa). Crash-safe for the same reason
    appends are: links land before the manifest, and an unreferenced
    link is just vacuum-able scratch."""
    snap = tx_snapshot(src, version)
    tx_init(dst)
    dvs = snap.get("dvs", {})
    for name in list(snap["files"]) + sorted(set(dvs.values())):
        target = os.path.join(dst, name)
        if not os.path.exists(target):
            os.link(os.path.join(src, name), target)
    base = tx_snapshot(dst)
    # the clone's first commit inherits the pinned snapshot WHOLE —
    # stats, DVs, renames, constraints, row ids and the hwm (without
    # it the clone's next tracked append would reissue ids from zero):
    # only the version chain is the clone's own
    return _commit(dst, {**snap, "version": base["version"],
                         "ts_us": base["ts_us"]},
                   list(snap["files"]), op=f"clone:{src}@v{snap['version']}")


# ---------------------------------------------------------------------------
# Round 8: AS OF TIMESTAMP time travel, merge-on-read DELETE (deletion
# vectors), and the change data feed — the three capabilities VERDICT r7
# ordered, turning the lakehouse log from a sink into a queryable,
# incrementally-readable source.
# ---------------------------------------------------------------------------


def tx_version_as_of_timestamp(table: str, ts_us: int) -> int:
    """Resolve AS OF TIMESTAMP — the form users actually type — to a
    version: the HIGHEST version whose monotonic commit label ``ts_us``
    is <= the requested instant (Delta's semantics: you see the table
    as it stood at that moment). Raises ``ValueError`` before the first
    surviving commit; an instant between two commits floors to the
    earlier one; an instant after the last resolves to the latest.
    Manifests dropped by vacuum are simply no longer candidates (time
    travel past the retention horizon is forfeited, stated exactly
    like version-based travel).

    Resolution is a BINARY SEARCH over the sorted surviving versions —
    sound because ``_commit`` makes ts_us strictly monotonic in the
    version number — so planning reads O(log n) manifests, not all of
    them. A 100 TB table accumulates millions of commits; AS OF
    TIMESTAMP is a planning-time call and must not scale with history
    length. (Vacuum can leave gaps below the latest; the search runs
    over the listing, which is already sorted-unique, so gaps are
    harmless.)"""
    mdir = os.path.join(table, _MANIFEST_DIR)
    if not os.path.isdir(mdir):
        raise ValueError(f"not a tx table: {table}")
    versions = sorted(
        int(f[1:9]) for f in os.listdir(mdir)
        if f.startswith("v") and f.endswith(".json"))
    if not versions:
        raise ValueError(f"not a tx table: {table}")

    def _ts(v: int) -> int:
        with open(_manifest_path(table, v)) as fh:
            return json.load(fh).get("ts_us", 0)

    lo, hi, best = 0, len(versions) - 1, None
    while lo <= hi:
        mid = (lo + hi) // 2
        if _ts(versions[mid]) <= ts_us:
            best = versions[mid]
            lo = mid + 1
        else:
            hi = mid - 1
    if best is None:
        raise ValueError(
            f"{table}: no commit at or before ts_us={ts_us} "
            f"(before the first surviving commit)")
    return best


def tx_delete_range_dv(spark: SparkSession, table: str, col: str, lo, hi,
                       max_retries: int = 3) -> int:
    """MERGE-ON-READ DELETE (deletion vectors): instead of rewriting
    every file that can contain a match (``tx_delete_range``'s
    copy-on-write), record the matching rows' (file, row-position)
    pairs in a DV sidecar parquet and map the affected files to it in
    the manifest — zero data bytes rewritten, deletes cost
    O(deleted rows) metadata. Readers (every read goes through
    ``_scan``) anti-join the mask at scan time;
    ``tx_compact`` later applies and drops the masks (DV compaction),
    and vacuum then reclaims the orphaned DV files. At 100 TB with
    frequent row-level corrections this is the difference between a
    delete that costs kilobytes and one that rewrites terabytes.

    Successive DV deletes merge: the new sidecar carries the union of
    the old mask rows (for affected files) and the new matches, so a
    file always maps to ONE dv file. Manifest column bounds stay valid
    (a mask only removes rows — min/max remain conservative), so
    pruning keeps working and the bounds pick which files even need
    scanning for matches, exactly as in the COW path."""
    for _ in range(max_retries):
        snap = tx_snapshot(table)
        affected, _ = _split_by_bounds(snap, col, lo, hi)
        if not affected:
            return snap["version"]
        # the live rows of the affected files (only rows not already
        # masked can be newly deleted) with their per-FILE physical
        # positions, the logical column resolved through renames
        live = _scan(spark, table, snap, affected, row_ids=False,
                     positions=True)
        matched = live.filter(F.col(col).between(lo, hi)).select(
            F.col("__file").alias("file"), F.col("__pos").alias("pos"))
        old_mask = _dv_mask(spark, table, snap, affected)
        if matched.isEmpty():
            return snap["version"]
        merged = (matched if old_mask is None
                  else matched.unionByName(old_mask))
        dv_name = _stage_dataframe(merged.select("file", "pos"),
                                   table, n_files=1)[0]
        try:
            return _commit(table, snap, snap["files"], op="delete-dv",
                           dvs={name: dv_name for name in affected})
        except TxConflict:
            continue
    raise TxConflict(f"dv delete lost {max_retries} CAS races in {table}")


# ops whose commits change layout, never data — the change feed skips
# them by construction rather than proving emptiness with a diff
_DATA_INVARIANT_OPS = ("compact", "optimize-zorder")


def tx_table_changes(spark: SparkSession, table: str,
                     v_from: int, v_to: int | None = None) -> DataFrame:
    """CHANGE DATA FEED: the row-level changes committed AFTER version
    ``v_from`` up to and including ``v_to`` (default: latest), as a
    WEIGHTED changelog — the DBSP convention the retractable-agg family
    already speaks: each output row carries its data columns plus
    ``_commit_version``, ``_change_type`` ('insert' | 'delete') and
    ``_n`` (multiplicity). An UPDATE (COW merge) appears as its
    delete+insert pair; a row carried unchanged through a rewrite
    cancels to weight 0 and never appears.

    Derivation is pure manifest diffing — no writer cooperation, no
    row ids: per commit, rows of ADDED files (masked by that version's
    DVs) weigh +1, rows of REMOVED files (masked by the parent's DVs)
    weigh -1, and files whose DV mapping changed contribute both sides
    (net: exactly the newly-masked rows as deletes). Layout-only
    commits (compaction, OPTIMIZE ZORDER) are data-invariant by
    construction and skipped. One hash-aggregate over the touched
    files resolves the weights — the touched files, not the table, so
    a targeted delete's feed costs what the delete cost, not a full
    scan. Needs the manifests of ``v_from..v_to`` to survive vacuum
    (same horizon as time travel; raises if the chain is broken).

    Composes with ``retractable_agg_view_census``'s fold to maintain
    any linear aggregate view incrementally off storage, and with the
    ``TxChangeFeedDataSource`` streaming source that tails the chain."""
    if v_to is None:
        v_to = tx_latest_version(table)
        if v_to is None:
            raise ValueError(f"not a tx table: {table}")
    if v_from > v_to:
        raise ValueError(f"v_from={v_from} > v_to={v_to}")
    sides = []  # (snap-to-read-with, names, weight, commit_version)
    try:
        prev = tx_snapshot(table, v_from)
    except FileNotFoundError:
        raise ValueError(
            f"{table}: manifest v{v_from} was vacuumed — the change "
            f"feed needs the full (v_from, v_to] chain (same retention "
            f"horizon as time travel)") from None
    for v in range(v_from + 1, v_to + 1):
        try:
            cur = tx_snapshot(table, v)
        except FileNotFoundError:
            raise ValueError(
                f"{table}: manifest v{v} was vacuumed — the change "
                f"feed needs the full (v_from, v_to] chain") from None
        if cur["op"] in _DATA_INVARIANT_OPS:
            prev = cur
            continue
        pfiles, cfiles = set(prev["files"]), set(cur["files"])
        pdvs, cdvs = prev.get("dvs", {}), cur.get("dvs", {})
        added = sorted(cfiles - pfiles)
        removed = sorted(pfiles - cfiles)
        dv_changed = sorted(
            n for n in (cfiles & pfiles) if pdvs.get(n) != cdvs.get(n))
        if added or dv_changed:
            sides.append((cur, added + dv_changed, 1, v))
        if removed or dv_changed:
            sides.append((prev, removed + dv_changed, -1, v))
        prev = cur
    if not sides:
        raise ValueError(
            f"no data-changing commits in {table} ({v_from}, {v_to}]")
    parts = []
    # a feed window crossing a RENAME or DROP COLUMN commit mixes
    # generations read under different mappings — present every side
    # under the FINAL (v_to) logical schema, the Delta CDF convention
    # (idempotent for sides already resolved under a prefix)
    final_snap = tx_snapshot(table, v_to)
    final_chain = final_snap.get("renames", [])
    final_drops = final_snap.get("drops", [])
    for snap, names, w, v in sides:
        # the VALUE feed is identity-agnostic by design
        # (tx_changes_by_rid is the identity feed): a tracked table's
        # materialized _rid is dropped by the values scan, so a
        # materialization boundary never looks like a data change
        part = _apply_renames(_scan(spark, table, snap, names,
                                    row_ids=False), final_chain)
        gone = [c for c in final_drops if c in part.columns]
        if gone:
            part = part.drop(*gone)
        parts.append(
            part.withColumn("_commit_version", F.lit(v).cast("int"))
            .withColumn("_w", F.lit(w).cast("long")))
    un = parts[0]
    for p in parts[1:]:
        # a side read before an ADD COLUMN lacks it: NULL-filled
        un = un.unionByName(p, allowMissingColumns=True)
    data_cols = [c for c in un.columns if c not in ("_commit_version", "_w")]
    return (
        un.groupBy("_commit_version", *data_cols)
        .agg(F.sum("_w").alias("_net"))
        .filter(F.col("_net") != 0)
        .select(
            *data_cols,
            "_commit_version",
            F.when(F.col("_net") > 0, F.lit("insert"))
            .otherwise(F.lit("delete")).alias("_change_type"),
            F.abs(F.col("_net")).cast("long").alias("_n"),
        )
    )


def tx_typed_changes(spark: SparkSession, table: str, key_col: str,
                     v_from: int, v_to: int | None = None) -> DataFrame:
    """TYPED change data feed — the Delta CDF surface with all four
    change classes: ``_change_type`` ∈ {'insert', 'delete',
    'update_preimage', 'update_postimage'}. Derived RELATIONALLY from
    the weighted feed (``tx_table_changes``) with zero writer
    cooperation: within one commit, a key present on BOTH sides is an
    update (its delete row becomes the preimage, its insert row the
    postimage); a key present on one side only keeps its insert/delete
    label. A row carried unchanged through a rewrite already cancelled
    to weight 0 upstream, so an update whose pre- and postimage are
    identical correctly produces NO feed rows (there was no change) —
    same convention as Delta, where no-op matches emit nothing.

    The labeling is one window over (commit, key) on the already-small
    feed (touched rows, not the table), so the typed view costs the
    same as the weighted one at any scale. Keys are assumed unique per
    snapshot (the ``tx_merge_upsert`` precondition); under duplicate
    keys the label degrades to 'both sides present → update' without
    pairing individual rows, which is the honest relational answer."""
    from pyspark.sql.window import Window

    feed = tx_table_changes(spark, table, v_from, v_to)
    w = Window.partitionBy("_commit_version", key_col)
    sides = F.size(F.collect_set("_change_type").over(w))
    is_update = sides == 2
    typed = F.when(
        is_update,
        F.when(F.col("_change_type") == "insert",
               F.lit("update_postimage"))
        .otherwise(F.lit("update_preimage")),
    ).otherwise(F.col("_change_type"))
    return feed.withColumn("_change_type", typed)


def tx_restore(table: str, version: int, max_retries: int = 8) -> int:
    """RESTORE TABLE ... TO VERSION AS OF — commit a NEW version whose
    content (files, bounds, deletion vectors) is the old snapshot's.
    Restore is a FORWARD commit, never a history rewrite: the bad
    versions stay readable for forensics until vacuum, the restore
    itself appears in the change feed as exactly the row-level undo
    (deletes of everything the bad commits added, re-inserts of what
    they removed), and a concurrent writer CAS-races it like any other
    commit. This is the operational answer to "a pipeline wrote
    garbage at v7, put the table back to v5 NOW" — pure metadata, zero
    data movement, at any table size.

    Restore restores DATA; table METADATA (constraints, rename chain,
    drop list, widening type map) carries forward from the CURRENT
    version, not the restored one — restoring past a widen keeps
    reading wide (value-preserving over the narrow files), restoring
    past a rename keeps the current logical names."""
    snap_old = tx_snapshot(table, version)
    for _ in range(max_retries):
        cur = tx_snapshot(table)
        if cur["version"] == version:
            return version
        # the per-file maps are the OLD snapshot's (a DV added since
        # must not survive; the restored files' id bases come back with
        # them); table metadata, the hwm included, is the CURRENT one's
        # — the hwm never rolls back, so ids burned by the undone
        # commits are never reissued
        base = {**cur, **{k: snap_old.get(k, {}) for k in _FILE_MAPS}}
        try:
            return _commit(table, base, list(snap_old["files"]),
                           op=f"restore:v{version}")
        except TxConflict:
            continue
    raise TxConflict(f"restore lost {max_retries} CAS races in {table}")


def tx_history(spark: SparkSession, table: str) -> DataFrame:
    """DESCRIBE HISTORY: one row per surviving commit — (version,
    parent, op, ts_us, n_files, n_dv_files, txn_app, txn_batch),
    newest first. Pure manifest metadata (one small JSON per commit,
    driver-trivial at any data scale); commits dropped by vacuum are
    absent, exactly like time travel. The operational companion to
    ``tx_version_as_of_timestamp`` and ``tx_restore``: find the bad
    commit here, read it with time travel, undo it with restore."""
    from pyspark.sql.types import (
        IntegerType, LongType, StringType, StructField, StructType,
    )

    mdir = os.path.join(table, _MANIFEST_DIR)
    if not os.path.isdir(mdir):
        raise ValueError(f"not a tx table: {table}")
    rows = []
    for f in sorted(os.listdir(mdir), reverse=True):
        if not (f.startswith("v") and f.endswith(".json")):
            continue
        with open(os.path.join(mdir, f)) as fh:
            m = json.load(fh)
        txn = m.get("txn") or {}
        rows.append((
            m["version"], m.get("parent"), m["op"], m.get("ts_us", 0),
            len(m["files"]), len(set(m.get("dvs", {}).values())),
            txn.get("app"),
            txn.get("batch") if isinstance(txn.get("batch"), int) else None,
        ))
    schema = StructType([
        StructField("version", IntegerType(), False),
        StructField("parent", IntegerType(), True),
        StructField("op", StringType(), False),
        StructField("ts_us", LongType(), False),
        StructField("n_files", IntegerType(), False),
        StructField("n_dv_files", IntegerType(), False),
        StructField("txn_app", StringType(), True),
        StructField("txn_batch", LongType(), True),
    ])
    return spark.createDataFrame(rows, schema)


# ---------------------------------------------------------------------------
# Round 8 (continuation): per-file Bloom skipping index — point lookups
# on columns where min/max bounds cannot prune (high-cardinality values
# scattered across every file), the Delta "bloom filter index" feature.
# ---------------------------------------------------------------------------

_BLOOM_PREFIX = "__bloom__"


def _bloom_indexes(value, bits: int, k: int) -> list[int]:
    """k double-hashed bit positions for ``value``: md5(str(v)) split
    into two 64-bit words, index_i = (h1 + i·h2) mod bits — the
    standard Kirsch-Mitzenmacher construction. str() canonicalization
    means the index is sound for int and string columns (document the
    restriction rather than hash floats, whose str() round-trip is a
    correctness trap)."""
    import hashlib

    d = hashlib.md5(str(value).encode("utf-8")).digest()
    h1 = int.from_bytes(d[:8], "little")
    h2 = int.from_bytes(d[8:], "little") | 1
    return [(h1 + i * h2) % bits for i in range(k)]


def _build_blooms(table: str, names: list[str], col: str,
                  k: int = 4) -> dict[str, dict]:
    """Per-file Bloom bitsets over ``col``, sized ~10 bits/row (next
    power of two, floor 1024) so the false-positive rate stays ~1%
    regardless of file size — a fixed ``bits`` would saturate on big
    files and silently stop skipping. Built from the freshly staged
    files at commit time (one column read while the pages are hot; in
    a production writer this folds into the write pass). NULLs are
    not inserted — a point probe never matches NULL. Words are <2^64
    ints, JSON-safe; ~10 bits/row of manifest weight is the explicit
    trade (Delta keeps these in sidecar indexes at petabyte scale —
    same structure, different parking spot)."""
    import pyarrow.parquet as papq

    out = {}
    for name in names:
        tbl = papq.read_table(os.path.join(table, name), columns=[col])
        vals = tbl.column(col).to_pylist()
        bad = next((v for v in vals
                    if v is not None and not isinstance(v, (int, str))),
                   None)
        if bad is not None:
            raise TypeError(
                f"bloom index on {col}: value {bad!r} is "
                f"{type(bad).__name__} — only int and str columns are "
                f"supported (the index hashes str(value))")
        n = max(1, sum(v is not None for v in vals))
        bits = 1024
        while bits < 10 * n:
            bits <<= 1
        words = [0] * (bits // 64)
        for v in vals:
            if v is None:
                continue
            for ix in _bloom_indexes(v, bits, k):
                words[ix >> 6] |= 1 << (ix & 63)
        out[name] = {"bits": bits, "k": k, "words": words}
    return out


def tx_read_bloom_point(spark: SparkSession, table: str, col: str,
                        values, version: int | None = None):
    """Point lookup ``col IN (values)`` with Bloom file skipping: a
    file is opened only if its bloom says SOME probe value may be
    present (files without a bloom — pre-index generations, compaction
    outputs — are conservatively kept). Returns (DataFrame-with-the-
    exact-IN-filter-applied, n_files_read, n_files_total); raises
    ``ValueError`` when every file PROVABLY lacks every probe value
    (the ``tx_read_pruned`` convention). Planning cost is pure driver
    arithmetic on manifest metadata — zero storage I/O for skipped
    files, which at 100 TB is the entire point of a needle query."""
    vs = list(values) if isinstance(values, (list, tuple, set)) else [values]
    for v in vs:
        # the documented int/string restriction, ENFORCED: a probe whose
        # str() differs from the stored value's (5.0 vs 5) would be a
        # silent bloom false negative — skipped files the residual IN
        # filter would have matched (ADVICE r8 low)
        if not isinstance(v, (int, str)):
            raise TypeError(
                f"bloom point lookup on {col}: probe {v!r} is "
                f"{type(v).__name__} — only int and str probes are "
                f"supported (the index hashes str(value))")
    snap = tx_snapshot(table, version)
    stats = snap.get("stats", {})
    chain = snap.get("renames", [])
    # a pre-rename generation's bloom lives under the physical name —
    # consult every ancestor key so renames don't erase skipping
    keys = [_BLOOM_PREFIX + a for a in _physical_ancestors(col, chain)]
    chosen = []
    for name in snap["files"]:
        st = stats.get(name, {})
        blooms = [st[k] for k in keys if st.get(k) is not None]
        if not blooms:
            chosen.append(name)
            continue
        maybe = False
        for b in blooms:
            words, bits, k = b["words"], b["bits"], b["k"]
            for v in vs:
                if all((words[ix >> 6] >> (ix & 63)) & 1
                       for ix in _bloom_indexes(v, bits, k)):
                    maybe = True
                    break
            if maybe:
                break
        if maybe:
            chosen.append(name)
    return _read_chosen(spark, table, snap, chosen, f"{col} in {vs}",
                        F.col(col).isin(vs))


# ---------------------------------------------------------------------------
# Round 8 (continuation): CHECK constraints — writer-side data quality
# enforcement at commit time (Delta ALTER TABLE ADD CONSTRAINT).
# ---------------------------------------------------------------------------


def tx_constraints(table: str, version: int | None = None) -> dict:
    """The CHECK constraints in force at ``version`` (default latest):
    {name: SQL predicate}. Constraints are table metadata carried
    forward by EVERY commit (see ``_commit``), so they survive
    compaction, clones of the pinned snapshot, restores, and vacuum
    (the latest manifest always carries the current set)."""
    return tx_snapshot(table, version).get("constraints", {})


def _enforce_constraints(df: DataFrame, table: str,
                         constraints: dict | None = None) -> None:
    """Raise ``TxConstraintViolation`` if any row of ``df`` FAILS any
    CHECK predicate. SQL CHECK semantics: a row violates only when the
    predicate evaluates FALSE — NULL/unknown passes (the standard's
    rule, and Delta's). One job evaluates all predicates at once
    (conjunction pushed into a single filter+limit), so enforcement
    costs one pass over the WRITE — never over the table."""
    cs = tx_constraints(table) if constraints is None else constraints
    if not cs:
        return
    bad = None
    for name, pred in sorted(cs.items()):
        fail = ~F.coalesce(F.expr(pred), F.lit(True))
        bad = fail if bad is None else (bad | fail)
    offending = df.filter(bad).limit(1)
    if not offending.isEmpty():
        raise TxConstraintViolation(
            f"{table}: write violates CHECK constraint(s) "
            f"{sorted(cs)} — first offending row: "
            f"{offending.first().asDict()}")


def tx_set_constraint(spark: SparkSession, table: str, name: str,
                      predicate: str, max_retries: int = 8) -> int:
    """ADD CONSTRAINT ``name`` CHECK (``predicate``): validates the
    CURRENT table contents first (one scan — a constraint that the
    existing data already violates is a lie, Delta rejects it too),
    then commits a metadata-only version carrying the updated set.
    Every subsequent write through any writer in this module validates
    against it at commit time and is REJECTED whole (no partial
    ingestion) on violation."""
    for _ in range(max_retries):
        snap = tx_snapshot(table)
        cs = dict(snap.get("constraints", {}))
        cs[name] = predicate
        if snap["files"]:
            _enforce_constraints(
                _scan(spark, table, snap, snap["files"], row_ids=False),
                table, {name: predicate})
        try:
            return _commit(table, snap, list(snap["files"]),
                           op=f"set-constraint:{name}",
                           constraints=cs)
        except TxConflict:
            continue
    raise TxConflict(
        f"set-constraint lost {max_retries} CAS races in {table}")


def tx_drop_constraint(table: str, name: str, max_retries: int = 8) -> int:
    """DROP CONSTRAINT ``name`` (missing name is a no-op, idempotent)."""
    for _ in range(max_retries):
        snap = tx_snapshot(table)
        cs = dict(snap.get("constraints", {}))
        cs.pop(name, None)
        try:
            return _commit(table, snap, list(snap["files"]),
                           op=f"drop-constraint:{name}",
                           constraints=cs)
        except TxConflict:
            continue
    raise TxConflict(
        f"drop-constraint lost {max_retries} CAS races in {table}")


def tx_drop_generated(table: str, col: str, max_retries: int = 8) -> int:
    """Drop the generator declaration on ``col`` (missing is a no-op,
    idempotent). Metadata-only: stored values stay — they were
    validated while the generator was live, so plain pruning on the
    column remains sound; only predicate DERIVATION from the base
    stops. This is the unlock for renaming/dropping a column that
    participates in a generator."""
    for _ in range(max_retries):
        snap = tx_snapshot(table)
        gens = dict(snap.get("generated", {}))
        gens.pop(col, None)
        try:
            return _commit(table, snap, list(snap["files"]),
                           op=f"drop-generated:{col}",
                           generated=gens)
        except TxConflict:
            continue
    raise TxConflict(
        f"drop-generated lost {max_retries} CAS races in {table}")


def tx_detail(spark: SparkSession, table: str,
              version: int | None = None) -> DataFrame:
    """DESCRIBE DETAIL — the per-file operational relation of one
    snapshot: (file, bytes, n_rows, stat_cols, bloom_cols, has_dv).
    Pure metadata: sizes from the directory entries, row counts from
    the parquet footers, everything else from the manifest — no data
    pages touched. (A production writer would record n_rows in the
    manifest at commit time and skip the footer reads; the footer path
    keeps this module's manifests minimal.) The operational companion
    to ``tx_history``: history says WHAT happened, detail says what
    the table IS — the first thing an engineer asks a 100 TB table
    before choosing compaction targets or bloom columns."""
    import pyarrow.parquet as papq

    from pyspark.sql.types import (
        IntegerType, LongType, StringType, StructField, StructType,
    )

    snap = tx_snapshot(table, version)
    stats = snap.get("stats", {})
    dvs = snap.get("dvs", {})
    rids = snap.get("rids", {})
    rows = []
    for name in snap["files"]:
        path = os.path.join(table, name)
        st = stats.get(name, {})
        rows.append((
            name,
            os.path.getsize(path),
            papq.read_metadata(path).num_rows,
            sum(1 for c in st if not c.startswith(_BLOOM_PREFIX)),
            sum(1 for c in st if c.startswith(_BLOOM_PREFIX)),
            name in dvs,
            # row tracking: 'positional'/'materialized' per file on a
            # tracked table, '' on plain ones — tells the operator at a
            # glance how much id debt compaction would retire
            ("" if name not in rids
             else "materialized" if rids[name] is None else "positional"),
        ))
    schema = StructType([
        StructField("file", StringType(), False),
        StructField("bytes", LongType(), False),
        StructField("n_rows", LongType(), False),
        StructField("stat_cols", IntegerType(), False),
        StructField("bloom_cols", IntegerType(), False),
        StructField("has_dv", StringType(), False),
        StructField("row_ids", StringType(), False),
    ])
    return spark.createDataFrame(
        [(f, b, n, s, bl, str(d).lower(), r)
         for f, b, n, s, bl, d, r in rows],
        schema)


def _apply_renames(df: DataFrame, chain: list) -> DataFrame:
    """Resolve an ordered rename chain against a physical read: for each
    [old, new] (in commit order, so a→b then b→c composes), a frame
    carrying BOTH names coalesces old into new (post-rename generations
    win where present — they are never NULL for rows they physically
    hold) and drops the physical column; a frame carrying only the old
    name renames it. Pure projection — zero data movement."""
    for old, new in chain:
        cols = df.columns
        if old in cols and new in cols:
            df = df.withColumn(new, F.coalesce(F.col(new), F.col(old))) \
                   .drop(old)
        elif old in cols:
            df = df.withColumnRenamed(old, new)
    return df


def tx_rename_column(table: str, old: str, new: str,
                     max_retries: int = 8) -> int:
    """RENAME COLUMN without rewriting a byte — read-time column
    mapping (the Delta column-mapping property reduced to its
    correctness core): the manifest carries an ordered rename chain
    ``[[old, new], ...]`` which EVERY commit carries forward (like
    CHECK constraints), and every read path resolves it by coalescing
    the physical generations' columns into the logical name. Files
    written BEFORE the rename keep their physical parquet schema
    forever; files written AFTER carry the new name natively; a merged
    read sees ONE logical column. Time travel shows each snapshot
    under ITS OWN chain (a pre-rename snapshot still reads with the
    old name — schema history is history too).

    Consequences, all deliberate: pruning on a renamed column is
    conservatively skipped for pre-rename generations (their bounds
    live under the physical name) and DML rewrites naturally MIGRATE
    the files they touch to the logical schema — compaction therefore
    retires the mapping debt over time, exactly like DV debt. Renaming
    onto an existing rename target is rejected (that would merge two
    columns, not rename one)."""
    if new == _RID or old == _RID:
        raise ValueError(
            f"{_RID} is reserved for row tracking and cannot be renamed "
            "or renamed onto")
    for _ in range(max_retries):
        snap = tx_snapshot(table)
        # the generated map is keyed by NAME (col and base): renaming
        # either side would leave the generator pointing at a ghost —
        # later writes would fail demanding the old base, and derived
        # pruning would silently stop. Delta likewise blocks renaming
        # generation-expression participants.
        for gc, spec in snap.get("generated", {}).items():
            if old in (gc, spec.get("base")) or new in (gc,
                                                        spec.get("base")):
                raise ValueError(
                    f"{table}: column {old!r} -> {new!r} touches "
                    f"generated column {gc} (base {spec.get('base')}) — "
                    "drop the generator first")
        chain = [list(p) for p in snap.get("renames", [])]
        if any(new == n for _, n in chain):
            raise ValueError(
                f"{table}: '{new}' is already a rename target — renaming "
                f"'{old}' onto it would merge two columns")
        if new in snap.get("drops", []):
            raise ValueError(
                f"{table}: '{new}' is a dropped column name — the read "
                f"path would project the renamed data straight out")
        if snap["files"]:
            # renaming onto ANY live column merges two columns and
            # silently discards the old one's data (ADVICE r8 medium) —
            # and renaming a column that does not exist is a typo, not
            # a commit
            live = _logical_columns(table, snap)
            if new in live:
                raise ValueError(
                    f"{table}: '{new}' is already a live column — "
                    f"renaming '{old}' onto it would merge two columns")
            if old not in live:
                raise ValueError(
                    f"{table}: no live column '{old}' to rename")
        chain.append([old, new])
        # the widening type map is keyed by LOGICAL name — renaming a
        # widened column must re-key its entry or the widen silently
        # stops applying (caught by round-9 self-review)
        types = dict(snap.get("types", {}))
        if old in types:
            types[new] = types.pop(old)
        try:
            return _commit(table, snap, list(snap["files"]),
                           op=f"rename:{old}->{new}",
                           renames=chain, types=types)
        except TxConflict:
            continue
    raise TxConflict(f"rename lost {max_retries} CAS races in {table}")


def tx_drop_column(table: str, col: str, max_retries: int = 8) -> int:
    """DROP COLUMN without rewriting a byte — the column-mapping
    sibling of ``tx_rename_column``: the manifest carries a drop list
    every commit forwards; reads resolve renames FIRST, then project
    the dropped logical names out (so dropping a renamed column drops
    the logical column wherever its physical bytes live). Physical
    files keep the bytes until DML or compaction naturally rewrites
    them through the logical view — storage is reclaimed lazily,
    exactly like DV debt. Time travel before the drop still shows the
    column (schema history is history). Dropping a column named in a
    CHECK constraint is rejected — the constraint would silently stop
    binding, which is how real systems corrupt quietly; drop the
    constraint first, explicitly. Dropping a generated column or a
    generator base is rejected the same way — the generator map is
    keyed by name, so the declaration would point at a ghost; drop the
    generator first."""
    for _ in range(max_retries):
        snap = tx_snapshot(table)
        for name, pred in snap.get("constraints", {}).items():
            import re as _re
            if _re.search(rf"\b{_re.escape(col)}\b", pred):
                raise ValueError(
                    f"{table}: column '{col}' is referenced by CHECK "
                    f"constraint '{name}' ({pred!r}) — drop the "
                    f"constraint first")
        for gc, spec in snap.get("generated", {}).items():
            if col in (gc, spec.get("base")):
                raise ValueError(
                    f"{table}: column '{col}' participates in "
                    f"generated column {gc} (base {spec.get('base')}) "
                    "— drop the generator first")
        drops = list(snap.get("drops", []))
        if col not in drops:
            drops.append(col)
        try:
            return _commit(table, snap, list(snap["files"]),
                           op=f"drop-column:{col}",
                           drops=drops)
        except TxConflict:
            continue
    raise TxConflict(f"drop-column lost {max_retries} CAS races in {table}")


# ---------------------------------------------------------------------------
# Round 9: ALTER COLUMN TYPE (widening) — the remaining member of the
# standard schema-evolution set after ADD/RENAME/DROP (VERDICT r8
# "What's missing" #2): int→bigint, float→double etc. as a pure
# metadata commit, with cast-at-scan read mapping and time travel
# showing each snapshot under its own type.
# ---------------------------------------------------------------------------

# value-preserving promotions only (each source domain embeds exactly
# in the target): integral up-casts, float→double, and small-int→double
# (int32 is exactly representable in a 53-bit mantissa). bigint→double
# is lossy above 2^53 and is deliberately rejected.
_WIDENINGS = {
    ("tinyint", "smallint"), ("tinyint", "int"), ("tinyint", "bigint"),
    ("smallint", "int"), ("smallint", "bigint"),
    ("int", "bigint"),
    ("float", "double"),
    ("tinyint", "double"), ("smallint", "double"), ("int", "double"),
}


def _sql_type(name: str):
    """SQL type name → Spark DataType (the widening vocabulary only)."""
    from pyspark.sql.types import (
        ByteType, DoubleType, FloatType, IntegerType, LongType, ShortType,
    )

    return {
        "tinyint": ByteType(), "smallint": ShortType(),
        "int": IntegerType(), "bigint": LongType(),
        "float": FloatType(), "double": DoubleType(),
    }[name]


def _widened_read_schema(table: str, snap: dict, names: list[str]):
    """The EXPLICIT read schema of every scan (``_scan``): the physical
    schema union — manifest-recorded, so planning does ZERO per-file
    I/O; footer fallback for pre-upgrade tables — with every physical
    column whose LOGICAL name appears in the manifest type map promoted
    to the widened type. Spark's parquet scan then promotes narrow
    pages in place: no mergeSchema (which refuses int/bigint unions),
    no per-generation read plans. Columns a file lacks (generations
    written before ADD COLUMN, stale physical names a subset read
    skips) surface as nulls and are coalesced/projected away by the
    rename/drop resolution — the table schema stays stable no matter
    which files a pruned read touches."""
    from pyspark.sql.types import StructField, StructType

    types = snap.get("types", {})
    chain = snap.get("renames", [])
    out = []
    for n, ts in _physical_schema_map(table, snap, names).items():
        lc = _resolve_to_logical(n, chain)
        out.append(StructField(
            n, _sql_type_any(types[lc] if lc in types else ts), True))
    return StructType(out)


@functools.lru_cache(maxsize=None)
def _sql_type_any(name: str):
    """SQL type string → Spark DataType: the widening vocabulary fast
    path, then the general DDL parser (arrays, strings, timestamps; one
    JVM round trip per distinct type string, hence the cache)."""
    try:
        return _sql_type(name)
    except KeyError:
        from pyspark.sql.types import _parse_datatype_string

        return _parse_datatype_string(name)


def _current_column_type(table: str, snap: dict, col: str) -> str | None:
    """The effective SQL type of logical column ``col`` at ``snap``:
    the manifest type map wins (already widened); otherwise the
    physical schema union (manifest-recorded, footer fallback) under
    the newest physical ancestor carrying the column. None = not
    found."""
    declared = snap.get("types", {}).get(col)
    if declared is not None:
        return declared
    phys = _physical_schema_map(table, snap)
    for a in _physical_ancestors(col, snap.get("renames", [])):
        if a in phys:
            return phys[a]
    return None


def tx_widen_column(table: str, col: str, to_type: str,
                    max_retries: int = 8) -> int:
    """ALTER COLUMN ``col`` TYPE ``to_type`` — type WIDENING as a pure
    metadata commit (zero bytes rewritten): the manifest carries a
    ``types`` map every commit forwards (like renames/drops/
    constraints), and every read path resolves it by reading narrow
    physical generations under an explicit widened schema (Spark's
    scan-level parquet type promotion). Files written AFTER the widen
    carry the wide type natively; DML rewrites migrate the files they
    touch; time travel shows each snapshot under ITS OWN type (a
    pre-widen snapshot still reads narrow — schema history is history).
    Only value-preserving promotions are allowed (``_WIDENINGS``);
    narrowing or lossy casts (bigint→double) are rejected, as is
    widening a dropped or nonexistent column. Composes with RENAME
    (the map is keyed by logical name) and with pruning (footer bounds
    of narrow generations order identically in the wide domain)."""
    if to_type not in {t for _, t in _WIDENINGS}:
        raise ValueError(
            f"{table}: cannot widen to '{to_type}' — supported targets: "
            f"{sorted({t for _, t in _WIDENINGS})}")
    for _ in range(max_retries):
        snap = tx_snapshot(table)
        if col in snap.get("drops", []):
            raise ValueError(f"{table}: column '{col}' is dropped")
        cur = _current_column_type(table, snap, col)
        if cur is None:
            raise ValueError(f"{table}: no live column '{col}' to widen")
        if cur == to_type:
            return snap["version"]  # idempotent
        if (cur, to_type) not in _WIDENINGS:
            raise ValueError(
                f"{table}: '{col}' is {cur} — {cur}→{to_type} is not a "
                f"value-preserving widening")
        types = dict(snap.get("types", {}))
        types[col] = to_type
        try:
            return _commit(table, snap, list(snap["files"]),
                           op=f"widen:{col}:{cur}->{to_type}",
                           types=types)
        except TxConflict:
            continue
    raise TxConflict(f"widen lost {max_retries} CAS races in {table}")


def tx_merge(spark: SparkSession, table: str, source: DataFrame,
             key_col: str,
             when_matched_set: dict[str, str] | str | None = None,
             matched_condition: str | None = None,
             insert_not_matched: bool = True,
             delete_matched: bool = False,
             max_retries: int = 3) -> int:
    """FULL CONDITIONAL MERGE — the Delta statement users actually
    write, in its three-clause form::

        MERGE INTO target t USING source s ON t.key = s.key
        WHEN MATCHED [AND <matched_condition>] THEN
            UPDATE SET col = <expr>   -- when_matched_set
          | UPDATE SET *              -- when_matched_set="*"
          | DELETE                    -- delete_matched=True
        WHEN NOT MATCHED THEN INSERT *   -- insert_not_matched

    Update expressions evaluate over the joined row: target columns
    under their own names, source columns prefixed ``__s_`` (e.g.
    ``{"cents": "cents + __s_cents"}`` accumulates); each keeps its
    column's dtype. ``"*"`` replaces the whole row with the source row
    (``tx_merge_upsert``): the source must supply every table data
    column, and its extra columns are added to the table (ADD COLUMN).
    The matched condition sees the same namespace; matched rows failing
    it carry through UNCHANGED (and cancel to weight 0 in the change
    feed — no-op matches emit nothing, the Delta CDF convention).
    Exactly one of update/delete may be chosen for the matched clause.

    Scale shape: one pass over the source checks its keys and takes
    their [min, max]; the manifest bounds (resolved through the rename
    chain; files without bounds are conservatively rewritten) pick the
    files that can contain matches, ONLY those are read back (deletion
    vectors applied) and swapped behind the CAS; kept files cannot
    contain matches by the bounds argument. NOT MATCHED needs only the
    affected files' keys for the same reason. Unique non-null source
    keys are a precondition (fail loudly — duplicates make 'the'
    replacement ambiguous). CHECK constraints are enforced on the full
    rewritten relation inside the retry loop, so a constraint landing
    mid-race still binds (the TOCTOU rule). On a row-tracked table
    updated and carried rows keep their ``_rid`` (materialized through
    the rewrite) and genuine inserts land in their own files with fresh
    ids."""
    replace_row = when_matched_set == "*"
    if delete_matched and when_matched_set:
        raise ValueError(
            "tx_merge: choose when_matched_set OR delete_matched, not both")
    n_rows, n_keys, ulo, uhi = source.agg(
        F.count(F.lit(1)), F.countDistinct(key_col),
        F.min(key_col), F.max(key_col)).first()
    if n_rows != n_keys:
        raise ValueError(
            f"tx_merge: need unique non-null {key_col}s in source "
            f"(got {n_rows} rows, {n_keys} distinct non-null)")
    if n_rows == 0:
        return tx_latest_version(table)
    # generated columns: inserted and replacing rows enter the table
    # whole, so they go through the same compute/validate gate as an
    # append; explicit SETs are regenerated below (ADVICE r9 high)
    gens = tx_generated(table)
    if insert_not_matched or replace_row:
        source = _apply_generated(source, table, gens)
    src_pref = source.select(
        *(F.col(c).alias("__s_" + c) for c in source.columns))
    for _ in range(max_retries):
        snap = tx_snapshot(table)
        if snap.get("generated", {}) != gens:
            # a generator landed mid-flight: the source rows were not
            # computed/validated under it and cannot rebase
            raise TxConflict(
                f"{table}: generated-column set changed during merge")
        affected, kept = _split_by_bounds(snap, key_col, ulo, uhi)
        tracked = _tracked(snap)
        ws = {} if replace_row else (when_matched_set or {})
        if tracked and _RID in ws:
            raise ValueError(f"{table}: {_RID} is managed by row "
                             "tracking and cannot be SET")
        parts = []
        inserts = source if insert_not_matched else None
        if affected:
            tgt = _read_rewrite_source(spark, table, snap, affected)
            tgt_cols = tgt.columns
            if replace_row:
                _require_full_replacement(tgt, source, table)
                sets = {c: F.col("__s_" + c) for c in source.columns
                        if c not in (key_col, _RID)}
            else:
                sets = {c: F.expr(e).cast(tgt.schema[c].dataType)
                        for c, e in ws.items() if c in tgt_cols}
            j = tgt.join(
                src_pref,
                F.col(key_col) == F.col("__s_" + key_col), "left")
            matched = F.col("__s_" + key_col).isNotNull()
            cond = matched & (F.expr(matched_condition)
                              if matched_condition else F.lit(True))
            if delete_matched:
                survivors = j.filter(~cond).select(*tgt_cols)
            else:
                survivors = j.select(
                    *(F.when(cond, sets[c]).otherwise(F.col(c)).alias(c)
                      if c in sets else F.col(c) for c in tgt_cols),
                    *(F.when(cond, e).alias(c) for c, e in sets.items()
                      if c not in tgt_cols),
                    cond.alias("__m"))
                # a SET that moves a generator's base recomputes the
                # generated column; a SET on the generated column is
                # validated (see _regenerate_updated). SET * rows were
                # computed/validated with the source above.
                survivors = _regenerate_updated(
                    survivors, table, gens, ws, F.col("__m")).drop("__m")
            parts.append(survivors)
            if insert_not_matched:
                inserts = src_pref.join(
                    tgt.select(F.col(key_col).alias("__t_key")),
                    F.col("__s_" + key_col) == F.col("__t_key"),
                    "left_anti",
                ).select(*(F.col("__s_" + c).alias(c)
                           for c in source.columns))
        if inserts is not None and not tracked:
            parts.append(inserts)
            inserts = None
        if not parts and inserts is None:
            return snap["version"]  # delete/update merge with no overlap
        merged = None
        for p in parts:
            merged = (p if merged is None
                      else _union_gen_tolerant(merged, p, gens))
        written = [r for r in (merged, inserts) if r is not None]
        for rel in written:
            _enforce_constraints(rel, table, snap.get("constraints", {}))
        produced = ([] if merged is None else _stage_dataframe(
            merged, table, n_files=max(1, len(affected))))
        rids, hwm = _rewrite_ids(snap, produced), None
        if inserts is not None:
            # tracked inserts: their own files, fresh ids; zero-row
            # staged files are left as vacuum-able orphans rather than
            # minting empty id ranges
            ins_files = _stage_dataframe(inserts, table, n_files=1)
            counts = {n: _parquet_num_rows(os.path.join(table, n))
                      for n in ins_files}
            ins_files = [n for n in ins_files if counts[n]]
            fresh, hwm = _fresh_ids(snap, ins_files, counts)
            rids.update(fresh)
            produced += ins_files
        try:
            return _commit(
                table, snap, kept + produced, op="merge",
                schema={k: v for r in written
                        for k, v in _df_schema_map(r).items()},
                stats=_dml_stats(table, snap, produced),
                rids=rids, row_hwm=hwm)
        except TxConflict:
            continue
    raise TxConflict(f"merge lost {max_retries} CAS races in {table}")


def tx_changes_as_of_timestamp(spark: SparkSession, table: str,
                               ts_us: int,
                               v_to: int | None = None) -> DataFrame:
    """CHANGE DATA FEED from a TIMESTAMP — the form incremental
    consumers actually configure ('give me everything since last
    night'): resolves the instant to the version the table stood at
    (``tx_version_as_of_timestamp``, O(log n) manifests) and feeds the
    commits AFTER it. Same vacuum-horizon contract as time travel."""
    return tx_table_changes(
        spark, table, tx_version_as_of_timestamp(table, ts_us), v_to)


def tx_reorg_purge(spark: SparkSession, table: str,
                   max_retries: int = 3) -> int:
    """REORG TABLE ... APPLY (PURGE) — explicitly retire column-mapping
    debt: rewrite every file whose PHYSICAL schema lags the logical one
    (pre-rename names, dropped-column bytes, pre-widen narrow types),
    then commit a manifest with the rename chain, drop list, and
    widening type map CLEARED — the table's read path returns to
    vanilla (no coalesce projection, no explicit schema) and dropped
    bytes are actually reclaimable by vacuum. Files already in logical
    form carry by name (zero bytes moved); a table with no mapping debt
    commits nothing. Old snapshots keep their own chains (each manifest
    carries its metadata), so time travel across the reorg still shows
    history under historical schemas.

    Compaction and DML retire this debt INCIDENTALLY, file by file;
    reorg is the explicit maintenance pass a 100 TB operator schedules
    after a hot-column rename so the whole history regains native
    pruning at once. The per-file schema test reads footers (driver
    metadata I/O, like vacuum's stat pass) — acceptable for an explicit
    maintenance op; the data rewrite itself touches only lagging files.
    Blooms and stats for rewritten files are rebuilt under the LOGICAL
    names (the compaction precedent)."""
    import pyarrow.parquet as papq

    for _ in range(max_retries):
        snap = tx_snapshot(table)
        chain = snap.get("renames", [])
        drops = set(snap.get("drops", []))
        types = snap.get("types", {})
        if not (chain or drops or types):
            return snap["version"]  # no mapping debt
        from pyspark.sql.pandas.types import to_arrow_type

        lagging, clean = [], []
        for name in snap["files"]:
            sch = papq.read_schema(os.path.join(table, name))
            lag = False
            for f in sch:
                lc = _resolve_to_logical(f.name, chain)
                if (lc != f.name or lc in drops
                        or (lc in types
                            and to_arrow_type(_sql_type_any(types[lc]))
                            != f.type)):
                    lag = True
                    break
            (lagging if lag else clean).append(name)
        # DV-masked files also purge their masks (the compaction rule)
        dvs = snap.get("dvs", {})
        for name in list(clean):
            if name in dvs:
                clean.remove(name)
                lagging.append(name)
        produced, schema = [], {}
        if lagging:
            # row-tracked tables: the purge rewrite MATERIALIZES ids, the
            # same rule as compaction/OPTIMIZE (tracked read applies
            # masks on the same positions it resolves ids from)
            src = _read_rewrite_source(spark, table, snap, lagging)
            produced = _stage_dataframe(
                src, table, n_files=max(1, len(lagging) // 2))
            schema = _df_schema_map(src)
        # stats + blooms rebuilt under LOGICAL names for the outputs; a
        # physically clean table only clears the mapping metadata. The
        # schema union restarts from the LOGICAL schema: with the chain
        # and drop list cleared, a retired physical name left in it
        # would read back as a NULL column
        logical = {}
        for n, t in _physical_schema_map(table, snap).items():
            lc = _resolve_to_logical(n, chain)
            if lc not in drops:
                logical[lc] = types.get(lc, t)
        try:
            return _commit(table, {**snap, "schema": logical},
                           clean + produced, op="reorg-purge",
                           schema=schema,
                           stats=_rebuilt_stats(table, snap, produced),
                           rids=_rewrite_ids(snap, produced),
                           renames=[], drops=[], types={})
        except TxConflict:
            continue
    raise TxConflict(f"reorg lost {max_retries} CAS races in {table}")


# --- Row tracking (stable row IDs across physical rewrites) -------------------

# Logical column every tracked read exposes; a physical column of the
# same name exists only in files written by a rewrite (compaction),
# where the id was MATERIALIZED.
_RID = "_rid"


def _parquet_num_rows(path: str) -> int:
    import pyarrow.parquet as papq

    return papq.read_metadata(path).num_rows


def tx_read_tracked(spark: SparkSession, table: str,
                    version: int | None = None) -> DataFrame:
    """Snapshot read exposing the stable ``_rid`` row id (deletion
    vectors applied, renames/drops/widening resolved as in ``tx_read``).
    Ids are stable across DV deletes (positions never shift — the mask
    is read-time) and across compaction (the rewrite materializes them,
    see ``tx_compact``); they are never reused after a delete."""
    snap = tx_snapshot(table, version)
    if not snap["files"]:
        raise ValueError(f"version {snap['version']} of {table} is empty")
    return _scan(spark, table, snap, snap["files"], row_ids=True)


def tx_changes_by_rid(spark: SparkSession, table: str,
                      v_from: int, v_to: int | None = None) -> DataFrame:
    """KEYLESS CDC: the typed change feed for tables with NO primary
    key — the capability row tracking exists to enable. Diffs the
    ``v_from`` and ``v_to`` snapshots joined on the stable ``_rid``:
    an id only in ``v_to`` is an ``insert``; only in ``v_from`` a
    ``delete`` (pre-image); present in both with any column changed, an
    ``update_pre``/``update_post`` pair. Because ids survive every
    rewrite (compaction, COW DELETE/UPDATE, DV deletes — see
    ``tx_read_tracked``), a compaction between the two versions
    contributes NOTHING to the feed, and an update reports as "same
    row, new values" — without row identity the same diff would have
    to key on all columns and report every update as delete+insert,
    and every OPTIMIZE as a full churn.

    These are ENDPOINT (net) semantics: a row inserted then deleted
    inside the window is silent; updated-then-deleted reports a delete
    carrying the ``v_from`` image — exactly the contract an incremental
    MERGE consumer wants. For per-commit weighted deltas use
    ``tx_table_changes``; this is the identity-resolved view of the
    same window.

    Both sides present under the FINAL (v_to) logical schema (renames
    folded forward, drops removed, added columns NULL on the old side
    — the Delta CDF convention, same as ``tx_typed_changes``).

    Scale shape: one shuffle join on ``_rid`` (unique, dense integer —
    no skew by construction); the column comparison is a null-safe
    conjunction inside the join projection; no collect, no driver
    loops. At 100 TB the cost is the two snapshot scans plus one
    hash join on an 8-byte key."""
    snap_to = tx_snapshot(table, v_to)
    snap_from = tx_snapshot(table, v_from)
    final_chain = snap_to.get("renames", [])
    final_drops = snap_to.get("drops", [])

    def _side(snap):
        if not snap["files"]:
            return None
        df = _scan(spark, table, snap, snap["files"], row_ids=True)
        df = _apply_renames(df, final_chain)
        gone = [c for c in final_drops if c in df.columns and c != _RID]
        return df.drop(*gone) if gone else df

    old, new = _side(snap_from), _side(snap_to)
    if old is None and new is None:
        raise ValueError(f"both versions of {table} are empty")
    if old is None:
        old = new.limit(0)
    if new is None:
        new = old.limit(0)
    # added columns read as NULL on the generation that predates them
    for c in new.columns:
        if c not in old.columns:
            old = old.withColumn(c, F.lit(None).cast(dict(
                (f.name, f.dataType) for f in new.schema.fields)[c]))
    for c in old.columns:
        if c not in new.columns:
            new = new.withColumn(c, F.lit(None).cast(dict(
                (f.name, f.dataType) for f in old.schema.fields)[c]))
    data_cols = [c for c in new.columns if c != _RID]
    o = old.select(F.col(_RID).alias("__orid"),
                   *(F.col(c).alias(f"__o_{c}") for c in data_cols))
    n = new.select(F.col(_RID).alias("__nrid"),
                   *(F.col(c).alias(f"__n_{c}") for c in data_cols))
    j = o.join(n, o["__orid"] == n["__nrid"], "full_outer")
    same = None
    for c in data_cols:
        eq = F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
        same = eq if same is None else (same & eq)
    if same is None:  # id-only table: presence IS the value
        same = F.lit(True)

    def _tag(side: str, label: str):
        rid = "__orid" if side == "o" else "__nrid"
        return F.struct(
            F.col(rid).alias(_RID),
            *(F.col(f"__{side}_{c}").alias(c) for c in data_cols),
            F.lit(label).alias("_change_type"))

    # ONE pass over the join: each row yields 0, 1 or 2 tagged change
    # structs (a 4-way filtered union would evaluate the join four
    # times — at 100 TB that's three redundant shuffles)
    first = (F.when(F.col("__orid").isNull(), _tag("n", "insert"))
             .when(F.col("__nrid").isNull(), _tag("o", "delete"))
             .when(~same, _tag("o", "update_pre")))
    second = F.when(F.col("__orid").isNotNull()
                    & F.col("__nrid").isNotNull() & ~same,
                    _tag("n", "update_post"))
    return (j.select(F.explode(F.array(first, second)).alias("__e"))
            .filter(F.col("__e").isNotNull())
            .select("__e.*"))


# --- Generated columns (write-time compute, derived-predicate pruning) --------


def tx_generated(table: str, version: int | None = None) -> dict:
    """The snapshot's generated-column map: {col: {"base": b, "div": K}}
    — col is ALWAYS ``b div K``. The grammar is deliberately this one
    monotone form (epoch→day/hour bucketing, id→shard), because
    monotonicity is what makes predicate DERIVATION sound (see
    ``tx_read_pruned``); Delta's full expression grammar derives only
    for the same family of monotone generators."""
    return tx_snapshot(table, version).get("generated", {})


def tx_set_generated(table: str, col: str, base: str, div: int,
                     max_retries: int = 8) -> int:
    """Declare ``col`` GENERATED ALWAYS AS (``base`` div ``div``).
    Metadata-only commit; binds every subsequent write (computed when
    absent, VALIDATED when supplied — a wrong supplied value is
    rejected like a CHECK violation). Generations written before the
    declaration simply lack the column (ADD COLUMN semantics: they
    read as NULL); at 100 TB declaring a generator costs zero data
    movement, exactly like partition-spec evolution."""
    if int(div) < 1:
        raise ValueError(f"generated divisor must be >= 1, got {div}")
    if col == base:
        raise ValueError(f"generated column {col} cannot be its own base")
    if _RID in (col, base):
        raise ValueError(
            f"{_RID} is reserved for row tracking and cannot be "
            "generated or used as a generator base")
    for _ in range(max_retries):
        snap = tx_snapshot(table)
        gens = dict(snap.get("generated", {}))
        if base in gens:
            raise ValueError(
                f"{table}: base {base} is itself generated — chains "
                "would make derivation order-dependent")
        if snap["files"] and col in _logical_columns(table, snap):
            # declaring a generator over a column that already holds
            # data would certify nothing about the existing values —
            # derived pruning would be unsound from the first query
            # (ADVICE r9). Pre-declaration files simply LACKING the
            # column are fine: they record no bounds and read NULL.
            raise ValueError(
                f"{table}: column {col} already exists with data — a "
                "generator must be declared before the column is ever "
                "written (existing values are unvalidated)")
        gens[col] = {"base": base, "div": int(div)}
        try:
            return _commit(table, snap, snap["files"],
                           op="set-generated", generated=gens)
        except TxConflict:
            continue
    raise TxConflict(f"set-generated lost {max_retries} CAS races in {table}")


def _apply_generated(df: DataFrame, table: str, gens: dict) -> DataFrame:
    """Apply the generator map to a write: compute each generated
    column when absent; when the writer SUPPLIED it, validate equality
    (null-safe) and reject mismatches — Delta's generated-column
    contract. One filter+limit per enforcement, over the write only."""
    if not gens:
        return df
    for col, spec in sorted(gens.items()):
        base, k = spec["base"], int(spec["div"])
        if base not in df.columns:
            raise TxConstraintViolation(
                f"{table}: write lacks {base}, the base of generated "
                f"column {col}")
        expr = F.expr(f"{base} div {k}")
        if col in df.columns:
            bad = df.filter(~F.col(col).eqNullSafe(expr)).limit(1)
            if not bad.isEmpty():
                raise TxConstraintViolation(
                    f"{table}: supplied value for generated column "
                    f"{col} <> {base} div {k} — first offending row: "
                    f"{bad.first().asDict()}")
        else:
            df = df.withColumn(col, expr)
    return df
