"""Versioned datasets on plain parquet: time travel, rollback, vacuum —
and the ONE owner of the on-disk catalog format.

The table-format trio (Delta/Iceberg/Hudi) builds on one primitive:
writers create IMMUTABLE snapshots and readers follow a pointer — so
reads are repeatable (train/eval reproducibility), a bad load is
undone by moving the pointer, and storage is reclaimed explicitly.
This module rebuilds that primitive on a directory layout and owns
its format: every other module (the ManagedTable facade in
managed.py, the ``managed_changes`` and ``managed`` data sources)
takes the layout's names, and the marker, pointer, lineage, manifest,
stored-schema and change-feed logic, from here:

    path/_latest                 pointer file: the current version ("2")
    path/v=N/                    one immutable snapshot per version
      *.parquet, col=val/...     data files (Hive-style partition dirs)
      _COMMITTED                 marker; line 1 = op kind (write/append/
                                 compact/delete/update/merge, "" for
                                 plain snapshots), line 2 = "parent=P"
                                 (the version the commit was computed
                                 against; absent for initial snapshots
                                 and legacy markers)
      _manifest/*.parquet        one row per data file: file (relative
                                 name), size_bytes, home (the version
                                 directory physically storing it —
                                 older versions under the reference
                                 data plane)
      _SCHEMA                    the logical schema (StructType JSON)
      _PARTITION_COLS            partition columns (JSON list)
      _STREAM_BATCH              the micro-batch id that produced it
      _index/, _index_rg/        per-file / per-row-group skipping stats
      _cdf/                      recorded change rows of a DML version
      _HOMEONLY                  tombstone replacing _COMMITTED on a
                                 vacuumed directory that still homes
                                 referenced files
    path/_txn_<id>/, .txn_setup_<id>/  optimistic-writer staging
                                 (stamped with _RESERVED)

The plain :func:`write_version` / :func:`merge_into_versioned`
snapshots carry only data files and an empty marker; the managed
facade adds the rest. Every ``_``-prefixed entry is invisible to
Spark's parquet reader, so ``spark.read.parquet(path/v=N)`` of a
committed self-homed version is always correct.

Commit protocol: a snapshot directory is INVISIBLE until its
``_COMMITTED`` marker lands, and the pointer file is replaced
atomically (write-temp + rename, :func:`_flip_pointer` — the one
writer of ``_latest``) — a crash mid-write leaves a marker-less
directory that every reader and the next writer ignore, and a crash
before the pointer flip leaves ``_latest`` on the old snapshot. Same
failure story as the engine's crash-safe compaction.

Change feed: :func:`_feed_plan` decides, per version, where its
row-level changes come from (recorded ``_cdf`` store, all-inserts
initial snapshot, inserts derived from an append's new files against
its RECORDED parent, empty compaction) or raises — the one decision
shared by ``ManagedTable.changes`` and the ``managed_changes`` source.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from bigdatalab_spark.sources.locks import (
    ConcurrentWriteError,
    dataset_write_lock,
)

_POINTER = "_latest"
_MARKER = "_COMMITTED"
#: tombstone for a vacuumed version directory that must stay on disk
#: because surviving manifests still REFERENCE files homed in it (the
#: managed facade's reference data plane). The directory is no longer
#: a committed version (invisible to list_versions / rollback / time
#: travel); it is physical storage awaiting its last reference.
_HOMEONLY = "_HOMEONLY"
#: liveness stamp (pid + host) of an optimistic writer's staging dir
_RESERVED = "_RESERVED"
_MANIFEST_DIR = "_manifest"
_SCHEMA_FILE = "_SCHEMA"
_PARTCOLS_FILE = "_PARTITION_COLS"
_STREAM_BATCH = "_STREAM_BATCH"
_INDEX_DIR = "_index"
_INDEX_RG_DIR = "_index_rg"
_CDF_DIR = "_cdf"
#: grace period before vacuum treats a STAMPLESS ``.txn_setup_``
#: scratch dir as crash debris: a live optimistic writer is between
#: mkdir and its ``_RESERVED`` stamp write for microseconds — any
#: stampless dir older than this really did crash mid-setup.
_SETUP_GRACE_S = 60.0


def _version_dir(path: str, version: int) -> str:
    return os.path.join(path, f"v={version}")


def _own_version(vdir: str) -> int:
    return int(os.path.basename(vdir.rstrip("/"))[2:])


def list_versions(path: str) -> list[int]:
    """Committed snapshot versions, ascending (marker-less directories
    are in-flight or crashed writes and are not versions)."""
    try:
        entries = os.listdir(path)
    except FileNotFoundError:
        return []
    out = []
    for e in entries:
        if e.startswith("v=") and os.path.exists(
            os.path.join(path, e, _MARKER)
        ):
            out.append(int(e[2:]))
    return sorted(out)


def latest_version(path: str) -> int | None:
    """The pointer's target, or None for an empty dataset."""
    try:
        with open(os.path.join(path, _POINTER), encoding="utf-8") as fh:
            return int(fh.read().strip())
    except FileNotFoundError:
        return None


def _resolve_version(path: str, version: int | None) -> int:
    """``version`` (default: the pointer's target) if it is committed,
    else FileNotFoundError."""
    if version is None:
        version = latest_version(path)
        if version is None:
            raise FileNotFoundError(f"no committed versions under {path}")
    if version not in list_versions(path):
        raise FileNotFoundError(f"version {version} not committed under {path}")
    return version


def _next_version(path: str) -> int:
    """The next unused version number — counting crashed marker-less
    directories too, so their numbers are never reused."""
    os.makedirs(path, exist_ok=True)
    existing = [int(e[2:]) for e in os.listdir(path) if e.startswith("v=")]
    return max(existing, default=0) + 1


def _flip_pointer(path: str, version: int) -> None:
    """Atomically point ``_latest`` at ``version`` (write-temp +
    rename: a crash leaves the old pointer, never a torn file)."""
    tmp = os.path.join(path, f"{_POINTER}.tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(str(version))
    os.replace(tmp, os.path.join(path, _POINTER))


def _publish(
    path: str, version: int, op: str = "", parent: int | None = None
) -> None:
    """Commit a fully-written snapshot: land its marker (recording the
    op kind and the parent version, when given), then flip the
    pointer to it."""
    marker = os.path.join(_version_dir(path, version), _MARKER)
    with open(marker, "w", encoding="utf-8") as fh:
        fh.write(op)
        if parent is not None:
            fh.write(f"\nparent={parent}")
    _flip_pointer(path, version)


def _marker_lines(path: str, version: int) -> list[str]:
    marker = os.path.join(_version_dir(path, version), _MARKER)
    with open(marker, encoding="utf-8") as fh:
        return fh.read().strip().splitlines()


def _op_of(path: str, version: int) -> str:
    """Operation kind recorded in a committed version's marker ("" for
    plain snapshots and markers from before op recording existed)."""
    lines = _marker_lines(path, version)
    return lines[0].strip() if lines else ""


def _parent_of(path: str, version: int) -> int | None:
    """The version this commit was computed against (None for an
    initial snapshot). Markers from before parent recording fall back
    to the previous committed version — correct for every linear
    history, which is all that could exist then."""
    for line in _marker_lines(path, version)[1:]:
        if line.startswith("parent="):
            return int(line.split("=", 1)[1])
    prior = [c for c in list_versions(path) if c < version]
    return prior[-1] if prior else None


def _lineage(path: str, version: int) -> list[int]:
    """The pointer lineage ending at ``version``, oldest first: the
    walk follows each marker's recorded parent, so branches orphaned
    by a rollback are excluded. Stops at a vacuumed ancestor —
    loudness about the gap is the range readers' job (they know their
    bounds)."""
    committed = set(list_versions(path))
    chain = [version]
    while True:
        parent = _parent_of(path, chain[-1])
        if parent is None or parent not in committed:
            break
        chain.append(parent)
    return list(reversed(chain))


# ---- manifest and data files ---------------------------------------------


def _walk_data_files(vdir: str) -> list[str]:
    """Relative paths of a directory's parquet data files by LISTING
    (walk, so partitioned layouts work); ``_index`` and other
    _-prefixed entries are excluded the same way Spark's reader
    excludes them. Used for the delta (freshly-written files, no
    manifest yet) and as the legacy fallback — committed versions are
    planned from their manifest instead."""
    out = []
    for dirpath, dirnames, filenames in os.walk(vdir):
        dirnames[:] = [
            d for d in dirnames if not d.startswith(("_", "."))
        ]
        for f in filenames:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                out.append(
                    os.path.relpath(os.path.join(dirpath, f), vdir)
                )
    return sorted(out)


def _manifest_rows(vdir: str) -> list[dict] | None:
    """The version's committed ``_manifest`` as sorted dict rows
    ``{"file", "size_bytes", "home"}``, or None for versions committed
    before manifests existed (fall back to listing). ``home`` is the
    version whose DIRECTORY physically stores the file — the data
    plane's source of truth: hard-link commits self-home every row
    (the file was linked into this very directory), reference commits
    (``link_mode="reference"``) carry untouched files as rows pointing
    at the file's ORIGINAL version directory, the object-store data
    plane (no link syscall exists there). Manifests written before the
    column existed are self-homed by construction. Read driver-side
    with pyarrow — metadata-sized, no Spark job."""
    import pyarrow.parquet as pq

    d = os.path.join(vdir, _MANIFEST_DIR)
    if not os.path.isdir(d):
        return None
    own = _own_version(vdir)
    out: list[dict] = []
    for part in sorted(os.listdir(d)):
        if not part.endswith(".parquet"):
            continue
        t = pq.read_table(os.path.join(d, part))
        files = t.column("file").to_pylist()
        sizes = t.column("size_bytes").to_pylist()
        homes = (
            t.column("home").to_pylist()
            if "home" in t.column_names
            else [own] * len(files)
        )
        out.extend(
            {"file": f, "size_bytes": s, "home": h if h is not None else own}
            for f, s, h in zip(files, sizes, homes)
        )
    return sorted(out, key=lambda r: r["file"])


def _manifest_entries(vdir: str) -> list[tuple[str, int]] | None:
    """Compatibility view of :func:`_manifest_rows`: sorted
    ``(relative file, size_bytes)`` tuples (tooling + tests)."""
    rows = _manifest_rows(vdir)
    if rows is None:
        return None
    return [(r["file"], r["size_bytes"]) for r in rows]


def _write_manifest(vdir: str, rows: list[dict]) -> None:
    """Land the version's file manifest BEFORE its marker (same commit
    discipline as ``_index``): one row per data file with its size and
    its HOME version (the directory that physically stores it). The
    manifest — not a directory listing — is the planning source of
    truth for every read/DML of a committed version, so planning cost
    is one metadata-sized parquet read instead of an O(file-count)
    filesystem walk, and works identically on object stores that have
    no cheap recursive listing."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = sorted(rows, key=lambda r: r["file"])
    tbl = pa.table(
        {
            "file": [r["file"] for r in rows],
            "size_bytes": [r["size_bytes"] for r in rows],
            "home": [r["home"] for r in rows],
        },
        schema=pa.schema(
            [
                ("file", pa.string()),
                ("size_bytes", pa.int64()),
                ("home", pa.int64()),
            ]
        ),
    )
    d = os.path.join(vdir, _MANIFEST_DIR)
    os.makedirs(d, exist_ok=True)
    pq.write_table(tbl, os.path.join(d, "part-0.parquet"))


def _sized(vdir: str, rels: list[str]) -> list[dict]:
    """Stat the given files into self-homed manifest rows — called
    only on the DELTA (files this commit wrote into ``vdir``), never
    the whole snapshot."""
    own = _own_version(vdir)
    return [
        {
            "file": rel,
            "size_bytes": os.path.getsize(os.path.join(vdir, rel)),
            "home": own,
        }
        for rel in rels
    ]


def _data_files(vdir: str) -> list[str]:
    """Relative paths of the snapshot's parquet data files: from the
    committed ``_manifest`` when the version has one (metadata-sized
    parquet read — the source of truth), else by walking (legacy
    versions, and mid-commit directories whose manifest has not landed
    yet — exactly the delta the commit is discovering)."""
    m = _manifest_rows(vdir)
    if m is not None:
        return [r["file"] for r in m]
    return _walk_data_files(vdir)


def _resolved_rows(path: str, version: int) -> list[dict]:
    """The version's manifest rows with an ``abs`` key resolved
    through each row's HOME version directory — the one place the
    logical file set becomes physical paths. Legacy versions without a
    manifest are self-homed by construction (every file was written or
    linked into their own directory) and have ``size_bytes`` None."""
    vdir = _version_dir(path, version)
    rows = _manifest_rows(vdir)
    if rows is None:
        rows = [
            {"file": f, "size_bytes": None, "home": version}
            for f in _walk_data_files(vdir)
        ]
    for r in rows:
        r["abs"] = os.path.join(_version_dir(path, r["home"]), r["file"])
    return rows


def _stored_schema(path: str, version: int):
    """The version's committed logical schema (``_SCHEMA``) as a
    StructType, or None for snapshots committed before schema tracking
    existed."""
    import json

    from pyspark.sql.types import StructType

    p = os.path.join(_version_dir(path, version), _SCHEMA_FILE)
    if not os.path.exists(p):
        return None
    with open(p, encoding="utf-8") as fh:
        return StructType.fromJson(json.loads(fh.read()))


def _partition_values(rel: str) -> dict[str, str | None]:
    """Partition-column values encoded in a relative file path's
    directory segments (``k=3/tag=a/part-....parquet`` →
    ``{"k": "3", "tag": "a"}``), URL-decoded the way Spark encodes
    them; Hive's NULL sentinel decodes to None. Flat paths → {}."""
    from urllib.parse import unquote

    out: dict[str, str | None] = {}
    for seg in rel.replace(os.sep, "/").split("/")[:-1]:
        k, _, v = seg.partition("=")
        v = unquote(v)
        out[k] = None if v == "__HIVE_DEFAULT_PARTITION__" else v
    return out


# ---- change feed ---------------------------------------------------------


def _feed_plan(path: str, version: int) -> tuple[str | None, list[dict]]:
    """Where committed ``version``'s change feed comes from, as
    ``(change_type, rows)`` — ``rows`` carry ``file`` and ``abs``:

    - a DML version reads its recorded ``_cdf`` store:
      ``(None, its parquet files)`` — the rows carry the feed columns;
    - a TRUE initial snapshot (no recorded parent, op write/"") is
      all-inserts: ``("insert", every file)``. Gating on "first
      remaining committed version" instead would let a full replace
      whose ancestors were vacuumed masquerade as a bootstrap and
      silently drop its implicit deletes;
    - an append's inserts are the files new to it, diffed against its
      RECORDED parent (after a rollback the numerically previous
      version is an orphaned branch): ``("insert", new files)`` —
      FileNotFoundError when that parent was vacuumed;
    - a compaction is a physical-layout no-op: ``("insert", [])``;
    - anything else (a later full ``write()`` replace) has no
      row-level derivation: ValueError."""
    vdir = _version_dir(path, version)
    cdf = os.path.join(vdir, _CDF_DIR)
    if os.path.isdir(cdf):
        return None, [
            {"file": f, "abs": os.path.join(cdf, f)}
            for f in _walk_data_files(cdf)
        ]
    op = _op_of(path, version)
    parent = _parent_of(path, version)
    if parent is None and op in ("write", ""):
        return "insert", _resolved_rows(path, version)
    if op == "compact":
        return "insert", []
    if op == "append":
        if parent is None or parent not in list_versions(path):
            raise FileNotFoundError(
                f"cannot derive changes for append v={version}: its "
                "parent snapshot was vacuumed"
            )
        prev = set(_data_files(_version_dir(path, parent)))
        return "insert", [
            r for r in _resolved_rows(path, version) if r["file"] not in prev
        ]
    raise ValueError(
        f"no change feed for v={version} (op={op or 'unknown'}): a full "
        "snapshot replace has no row-level change derivation"
    )


# ---- plain versioned datasets --------------------------------------------


def write_version(
    df: DataFrame, path: str, partition_cols: tuple[str, ...] = ()
) -> int:
    """Write ``df`` as the next immutable snapshot and flip the pointer.
    Returns the new version number. Crash-safe: the snapshot is
    invisible until its marker lands, and the pointer replace is atomic.
    Concurrency-safe: the writer lock serializes version allocation and
    the flip, so two simultaneous writers cannot commit out of order
    (raises :class:`ConcurrentWriteError` instead of queueing)."""
    with dataset_write_lock(path, "write_version"):
        return _write_version_locked(df, path, partition_cols)


def _write_version_locked(
    df: DataFrame, path: str, partition_cols: tuple[str, ...] = ()
) -> int:
    version = _next_version(path)
    writer = df.write.mode("errorifexists")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(_version_dir(path, version))
    _publish(path, version)
    return version


def read_version(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Time travel: read a specific committed snapshot, or the pointer's
    target by default."""
    return spark.read.parquet(
        _version_dir(path, _resolve_version(path, version))
    )


def rollback(path: str, version: int) -> None:
    """Undo to an earlier snapshot by moving ONLY the pointer — the
    rolled-back-over versions stay readable (and vacuumable). Takes the
    writer lock: a rollback racing a merge would otherwise be silently
    undone by the merge's pointer flip (or worse, the merge commits a
    combine of the version the rollback just rejected)."""
    with dataset_write_lock(path, "rollback"):
        # Existence check must run UNDER the lock: a concurrent vacuum
        # (which holds the lock and deletes non-pointer-target versions)
        # could remove the target between an early check and the pointer
        # flip, leaving _latest pointing at a deleted snapshot.
        if version not in list_versions(path):
            raise FileNotFoundError(
                f"version {version} not committed under {path}"
            )
        _flip_pointer(path, version)


def vacuum(path: str, keep_last: int = 2) -> list[int]:
    """Reclaim storage: delete committed snapshots beyond the newest
    ``keep_last``, never the pointer's target, plus any crashed
    marker-less directories. Returns the versions removed.

    Takes the writer lock: "marker-less directory" is indistinguishable
    from a LIVE writer's snapshot mid-write — vacuuming while a merge
    is in flight would delete the files it is still producing. Under
    the lock, any marker-less dir really is crash debris."""
    with dataset_write_lock(path, "vacuum"):
        return _vacuum_locked(path, keep_last)


def _reserved_live(vdir: str) -> bool:
    """True when a marker-less dir carries a ``_RESERVED`` stamp from
    a LIVE same-host writer (an optimistic transaction mid-flight, not
    crash debris) or from a writer we cannot attribute (another host —
    conservative). Dead same-host stamps are debris: clean."""
    from bigdatalab_spark.sources.locks import _holder, _pid_gone
    import socket

    stamp = os.path.join(vdir, _RESERVED)
    if not os.path.exists(stamp):
        return False
    pid, host = _holder(stamp)
    if pid is None:
        return True  # unreadable stamp: never delete what we can't attribute
    if host and host != socket.gethostname():
        return True  # cross-host liveness is unknowable here
    return not _pid_gone(pid)


def _referenced_homes(path: str, retained: set[int]) -> set[int]:
    """Versions whose directories physically HOME files referenced by
    the RETAINED versions' manifests (the managed facade's reference
    data plane) — deleting those directories would destroy live data
    of surviving versions. Versions without a manifest, and rows
    predating the ``home`` column, are self-homed by construction and
    contribute nothing beyond their own (retained) version."""
    homes: set[int] = set()
    for v in retained:
        homes |= {
            r["home"]
            for r in _manifest_rows(_version_dir(path, v)) or ()
        }
    return homes


def _vacuum_locked(
    path: str,
    keep_last: int,
    protect: set[int] | None = None,
    extra_keep: set[int] | None = None,
) -> list[int]:
    """``protect`` names version directories that physically HOME
    files surviving manifests still reference (the managed facade's
    reference data plane) — deleting them would destroy live data of
    newer versions. The retained versions' manifest homes are ALWAYS
    added to the protect set here (``_referenced_homes``), so the bare
    module-level :func:`vacuum` is exactly as safe on a
    reference-plane managed table as the facade's own entry point;
    ``protect`` lets callers widen the set further. A protected
    directory beyond the retention window is DEMOTED instead of
    deleted: its ``_COMMITTED`` marker becomes a ``_HOMEONLY``
    tombstone, so it stops being a version (no time travel, no
    rollback target — the version IS vacuumed, and counts in the
    returned list) while its bytes stay on disk until the last
    referencing manifest is itself vacuumed."""
    import shutil
    import time

    committed = list_versions(path)
    keep = set(committed[-keep_last:]) if keep_last > 0 else set()
    if extra_keep:
        # time-based / policy retention from the caller (the managed
        # facade's keep_days); only committed versions can be kept
        keep |= set(extra_keep) & set(committed)
    current = latest_version(path)
    if current is not None:
        keep.add(current)
    protect = set(protect) if protect else set()
    protect |= _referenced_homes(path, keep) - keep
    removed = []
    for e in list(os.listdir(path)):
        if e.startswith(".txn_setup_"):
            # a crashed writer's mid-setup scratch (managed.py
            # _allocate_staging renames these into _txn_ once
            # stamped); same dead-pid attribution as _txn_ dirs. A
            # STAMPLESS dir younger than the grace period is a LIVE
            # writer between mkdir and its stamp write — skip it;
            # genuine crash debris ages past the grace and is swept
            # on a later vacuum.
            full = os.path.join(path, e)
            if _reserved_live(full):
                continue
            if not os.path.exists(os.path.join(full, "_RESERVED")):
                try:
                    age = time.time() - os.stat(full).st_mtime
                except FileNotFoundError:
                    continue  # renamed into _txn_ mid-scan: live
                if age < _SETUP_GRACE_S:
                    continue
            shutil.rmtree(full)
            continue
        if e.startswith("_txn_"):
            # an OPTIMISTIC transaction's staging dir: its writer is
            # alive and holds no lock during compute — not debris
            # unless its _RESERVED stamp names a dead same-host pid
            if not _reserved_live(os.path.join(path, e)):
                shutil.rmtree(os.path.join(path, e))
            continue
        if not e.startswith("v="):
            continue
        v = int(e[2:])
        committed = os.path.exists(os.path.join(path, e, _MARKER))
        if committed and v in keep:
            continue
        if v in protect:
            if committed:
                # demote: the version is vacuumed, the bytes are not
                os.replace(
                    os.path.join(path, e, _MARKER),
                    os.path.join(path, e, _HOMEONLY),
                )
                removed.append(v)
            # already-demoted (or just demoted) still-referenced home:
            # keep the directory
            continue
        shutil.rmtree(os.path.join(path, e))
        if committed:
            removed.append(v)
    return sorted(removed)


def merge_into_versioned(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: tuple[str, ...],
    partition_cols: tuple[str, ...],
    order_col: str | None = None,
) -> dict:
    """MERGE (upsert) composed with the versioned-dataset primitive —
    the answer to the in-place sink's hand-rolled crash story: every
    merge lands as a NEW immutable snapshot, so

    - a crash mid-merge leaves a marker-less directory the next writer
      and every reader ignore; the retry simply builds the next
      version — no recovery sweep, no staging protocol;
    - undoing a bad merge is :func:`rollback` — a pointer write — with
      the full history still readable via :func:`read_version`;
    - readers mid-merge keep seeing the old pointer target (snapshot
      isolation), where the in-place rewrite briefly hides partitions.

    Storage does NOT multiply by versions: untouched partitions are
    HARD-LINKED from the previous snapshot (file-level sharing, the
    physical twin of a table format's manifest reuse — same inode, new
    directory entry), and only the partitions present in ``updates``
    are written fresh. ``vacuum`` drops old snapshots' directory
    entries; shared files survive until their last link goes.

    Same contracts as ``merge_into_partitions``: key-unique updates,
    partition-stable keys; ``order_col`` makes the merge order-aware
    (stored-vs-update max, safe under out-of-order batches).

    Returns ``{"version", "partitions_rewritten", "partitions_linked"}``.

    Concurrency: the writer lock is held across the whole
    read-modify-write (read pointer → combine → link → flip), so two
    simultaneous merges cannot both build on the same base version and
    silently discard each other — the second raises
    :class:`ConcurrentWriteError` at entry (retry = re-read + re-merge).
    A pointer re-check immediately before the flip turns any bypass of
    the lock into a loud failure instead of a lost update.
    """
    if not key_cols or not partition_cols:
        raise ValueError(
            "merge_into_versioned requires key and partition columns"
        )
    with dataset_write_lock(path, "merge_into_versioned"):
        return _merge_into_versioned_locked(
            spark, path, updates, key_cols, partition_cols, order_col
        )


def _merge_into_versioned_locked(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: tuple[str, ...],
    partition_cols: tuple[str, ...],
    order_col: str | None,
) -> dict:
    from bigdatalab_spark.sources.sinks import (
        merge_frames,
        partition_prune_predicate,
    )

    current = latest_version(path)
    if current is None:
        version = _write_version_locked(updates, path, partition_cols)
        n_parts = updates.select(*partition_cols).distinct().count()
        return {
            "version": version,
            "partitions_rewritten": n_parts,
            "partitions_linked": 0,
        }

    affected = [
        tuple(r[c] for c in partition_cols)
        for r in updates.select(*partition_cols).distinct().collect()
    ]
    target = spark.read.parquet(_version_dir(path, current))
    if not affected:
        # empty batch: snapshot is the previous one — no new version
        return {
            "version": current,
            "partitions_rewritten": 0,
            "partitions_linked": 0,
        }
    merged = merge_frames(
        target.filter(partition_prune_predicate(affected, partition_cols)),
        updates,
        key_cols,
        order_col,
    )

    version = _next_version(path)
    vdir = _version_dir(path, version)
    # 1) write the rewritten partitions fresh into the invisible snapshot
    merged.write.mode("errorifexists").partitionBy(*partition_cols).parquet(vdir)
    # 2) hard-link every leaf partition of the previous snapshot that the
    # write did NOT produce (directory presence = rewritten): same bytes,
    # zero copy, old snapshot untouched
    prev = _version_dir(path, current)
    linked = 0
    for dirpath, _dirnames, filenames in os.walk(prev):
        parquet = [f for f in filenames if f.endswith(".parquet")]
        if not parquet:
            continue
        rel = os.path.relpath(dirpath, prev)
        if rel == ".":
            # unpartitioned files at the root only occur with no
            # partition_cols, which this sink requires
            continue
        dst = os.path.join(vdir, rel)
        if os.path.exists(dst):
            continue  # rewritten by the merge
        os.makedirs(dst, exist_ok=True)
        for f in parquet:
            os.link(os.path.join(dirpath, f), os.path.join(dst, f))
        linked += 1
    # 3) CAS: the merge was computed against `current`; if the pointer
    # moved (a writer bypassing the lock), committing would discard that
    # writer's merge. Abort BEFORE the marker lands so this snapshot
    # stays invisible crash-debris for vacuum.
    if latest_version(path) != current:
        raise ConcurrentWriteError(
            f"merge_into_versioned on {path}: pointer moved from "
            f"v={current} to v={latest_version(path)} mid-merge — a "
            "concurrent writer bypassed the writer lock; this merge was "
            "based on the old snapshot and is aborted (uncommitted). "
            "Retry to re-merge against the new current version."
        )
    # commit marker, then atomic pointer flip
    _publish(path, version)
    return {
        "version": version,
        "partitions_rewritten": len(affected),
        "partitions_linked": linked,
    }
