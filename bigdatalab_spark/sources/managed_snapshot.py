"""``managed`` — ManagedTable snapshots as a registered batch Spark
data source with PLAN-TIME index pruning, plus a temp-view helper so
plain ``spark.sql`` reads a pinned snapshot (the reference's catalog
read — ``spark.sql("select * from geo")``,
303-spark-sql/README.md:46-48 — upgraded to versioned semantics).

    df = (spark.read.format("managed")
          .option("versionAsOf", 3)        # default: the pointer
          .load(table_path)
          .filter("k BETWEEN 100 AND 200"))

Filter pushdown (Spark 4 Python DataSource ``pushFilters``):
comparison/equality/IN filters on single columns fold into per-column
[lo, hi] bounds; the planner consults the snapshot's committed
``_index`` parquet DRIVER-SIDE (pyarrow, metadata-sized — no Spark
job) and keeps only the files whose min/max stats cannot rule the
bounds out: one InputPartition per kept file. EVERY filter is
reported back to Spark as unhandled, so Spark re-applies it after the
scan — skipping is a performance contract, never a correctness one
(the same rule as ManagedTable.pruned_read). At 100 TB this is the
difference between planning a scan over ~10⁶ files and over the
handful a selective predicate touches, decided before any task
launches.

Data plane: each task STREAMS its parquet file with pyarrow
(iter_batches — bounded memory at real file sizes) and ships Arrow
RecordBatches zero-copy to the JVM (no row-at-a-time Python); files
that predate a schema evolution are padded with typed NULL columns to
the snapshot's stored schema, exactly like the facade's own reads.
Partitioned snapshots stamp each file's partition-column values from
its directory segments (cast to the stored types), and the folded
filter bounds partition-prune BEFORE index pruning — partition ∧
stats composition at plan time. Referenced files (the facade's
``link_mode='reference'`` data plane) resolve through their manifest
homes.

Scan-reuse sharp edge (observed on Spark 4.1): a loaded DataFrame's
relation keeps ONE cached partition list; every filtered query's
pushdown re-plans and OVERWRITES it, and later queries WITHOUT
pushable filters reuse whatever is cached — so a relation queried
with a filter once would serve that pruned file list to a later full
scan. Therefore: plan-time pruning is only enabled for the
one-relation-one-query pattern (a fresh ``load()`` per query, which
is how the engine's own surfaces call it). Long-lived relations
(``ManagedTable.create_view``) do not use this connector at all —
they register a NATIVE parquet scan over the manifest-resolved paths,
which gives bare SQL Catalyst column pruning + parquet filter
pushdown and has no per-relation cache hazard. The ``pruning=off``
option remains for any caller that must hold a long-lived connector
relation.

Projection: the Python DataSource API pushes FILTERS but not
projections, so a bare ``SELECT a`` through this connector reads
every column of the kept files. An EXPLICIT ``.option("columns",
"a,b")`` narrows the declared schema, and the task then decodes only
those parquet columns — the narrow-scan escape hatch until the API
grows projection pushdown (native-scan views don't need it).
"""

from __future__ import annotations

import os
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)

from bigdatalab_spark.sources.managed import (
    _cast_partition_value,
    _read_index_table,
)
from bigdatalab_spark.sources.managed_stream import (
    _align_batches,
    _required_schema,
)
from bigdatalab_spark.sources.versioned import (
    _INDEX_DIR,
    _data_files,
    _partition_values,
    _resolved_rows,
    _version_dir,
    latest_version,
    list_versions,
)


class _FilePartition(InputPartition):
    def __init__(self, path: str, constants: dict | None = None):
        self.path = path
        # partition-column values parsed from the file's directory
        # segments (partitioned snapshots carry them in the path)
        self.constants = constants or {}


def _fold_bounds(filters: list[Filter]) -> dict[str, tuple]:
    """Per-column [lo, hi] bounds from the pushable subset of the
    pushed filters (single-part column references only). Unbounded
    sides stay None; columns only touched by un-foldable filters
    (IsNull, Not, string matches, ...) contribute nothing — they are
    simply not pruned on, which is always sound."""
    bounds: dict[str, tuple] = {}

    def tighten(col: str, lo, hi) -> None:
        cur_lo, cur_hi = bounds.get(col, (None, None))
        if lo is not None and (cur_lo is None or lo > cur_lo):
            cur_lo = lo
        if hi is not None and (cur_hi is None or hi < cur_hi):
            cur_hi = hi
        bounds[col] = (cur_lo, cur_hi)

    for f in filters:
        attr = getattr(f, "attribute", None)
        if attr is None or len(attr) != 1:
            continue
        col = attr[0]
        if isinstance(f, EqualTo):
            tighten(col, f.value, f.value)
        elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
            tighten(col, f.value, None)
        elif isinstance(f, (LessThan, LessThanOrEqual)):
            tighten(col, None, f.value)
        elif isinstance(f, In) and f.values:
            try:
                tighten(col, min(f.values), max(f.values))
            except TypeError:
                pass  # mixed/unorderable values: no pruning
    return bounds


def _prune(vdir: str, files: list[str], bounds: dict[str, tuple]) -> list[str]:
    """Index-pruned file subset: a file is dropped only when, for some
    bounded column, its recorded stats PROVE no row can satisfy the
    bounds (max < lo or min > hi). NULL stats and files absent from
    the index stay candidates — same soundness argument as
    ManagedTable.candidate_files."""
    idx = _read_index_table(os.path.join(vdir, _INDEX_DIR))
    if idx is None or not bounds:
        return files
    by_col: dict[str, dict[str, dict]] = {}
    for r in idx.to_pylist():
        by_col.setdefault(r["col"], {})[r["file"]] = r
    keep = []
    for rel in files:
        dropped = False
        for col, (lo, hi) in bounds.items():
            stats = by_col.get(col, {}).get(rel)
            if stats is None:
                continue  # unindexed column or uncovered file: keep
            if isinstance(lo if lo is not None else hi, str):
                mn, mx = stats.get("min_str"), stats.get("max_str")
            else:
                mn, mx = stats.get("min_val"), stats.get("max_val")
            if mn is None:
                continue  # NULL stats: always a candidate
            if (hi is not None and mn > hi) or (lo is not None and mx < lo):
                dropped = True
                break
        if not dropped:
            keep.append(rel)
    return keep


def _pinned_version(path: str | None, options) -> int:
    """The ``versionAsOf`` option (default: the pointer), refused
    unless committed."""
    if not path:
        raise ValueError("managed requires .load(table_path)")
    committed = list_versions(path)
    if not committed:
        raise ValueError(f"no committed versions under {path}")
    v = options.get("versionasof")
    version = int(v) if v is not None else latest_version(path)
    if version not in committed:
        raise ValueError(
            f"managed: version {version} of {path} is not "
            "committed (vacuumed, rolled-back debris, or never "
            "existed) — pick one of the committed versions"
        )
    return version


class ManagedSnapshotReader(DataSourceReader):
    def __init__(self, options: dict, schema) -> None:
        self.path = options.get("path")
        self.version = _pinned_version(self.path, options)
        self.schema = schema
        self.bounds: dict[str, tuple] = {}
        self.pruning = str(options.get("pruning", "on")).lower() != "off"

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        # every filter is re-applied by Spark: index pruning narrows
        # the scan but never substitutes for the predicate. With
        # pruning=off (long-lived relations: temp views), fold nothing
        # — the module docstring's scan-reuse sharp edge makes a
        # pruned plan unsafe to cache on a reused relation.
        if self.pruning:
            self.bounds = _fold_bounds(filters)
        yield from filters

    def pruned_files(self) -> list[str]:
        """The plan-time candidate list (exposed for plan assertions
        in tests and tooling): partition pruning (exact — the value is
        in the directory name) composed with index pruning (stats
        bounds)."""
        vdir = _version_dir(self.path, self.version)
        files = _data_files(vdir)
        if self.bounds:
            kept = []
            for rel in files:
                consts = _partition_values(rel)
                drop = False
                for col, (lo, hi) in self.bounds.items():
                    raw = consts.get(col)
                    if raw is None:
                        continue  # not a partition col here, or NULL
                    probe = lo if lo is not None else hi
                    try:
                        # sound typed cast (bool("false") is True —
                        # never prune through the bool constructor)
                        val = _cast_partition_value(raw, probe)
                    except (TypeError, ValueError):
                        continue  # unparseable: stays a candidate
                    if (lo is not None and val < lo) or (
                        hi is not None and val > hi
                    ):
                        drop = True
                        break
                if not drop:
                    kept.append(rel)
            files = kept
        return _prune(vdir, files, self.bounds)

    def partitions(self) -> list[InputPartition]:
        # resolve each kept file through its manifest HOME (reference
        # data plane: carried files live in older version directories)
        rows = _resolved_rows(self.path, self.version)
        abs_of = {r["file"]: r["abs"] for r in rows}
        out = [
            _FilePartition(abs_of[rel], constants=_partition_values(rel))
            for rel in self.pruned_files()
        ]
        if not out:
            # pruning eliminated every file; the DataSource API does
            # not accept an empty plan — one sentinel task yields 0
            # batches
            out = [_FilePartition("")]
        return out

    def read(self, partition: _FilePartition) -> Iterator:
        from pyspark.sql.pandas.types import to_arrow_schema

        if not getattr(partition, "path", None):
            return  # sentinel for a fully-pruned plan: empty result
        yield from _align_batches(
            partition.path,
            to_arrow_schema(self.schema),
            getattr(partition, "constants", {}),
        )


class ManagedSnapshotDataSource(DataSource):
    """spark.read ``format("managed")`` — pinned-snapshot batch reads
    with plan-time index pruning."""

    @classmethod
    def name(cls) -> str:
        return "managed"

    def schema(self):
        from pyspark.sql.types import StructType

        path = self.options.get("path")
        version = _pinned_version(path, self.options)
        # pin the resolution: an unpinned read must resolve the
        # pointer ONCE — a commit landing between schema() and
        # reader() would otherwise serve the newer version's files
        # under this older version's stored schema
        self.options["versionasof"] = str(version)
        full = _required_schema(path, version)
        cols = self.options.get("columns")
        if not cols:
            return full
        # explicit projection: the Python DataSource API pushes
        # filters but not projections, so a narrow read must be
        # DECLARED — the reader then decodes only these columns
        want = [c.strip() for c in cols.split(",") if c.strip()]
        by_name = {f.name: f for f in full.fields}
        missing = [c for c in want if c not in by_name]
        if missing:
            raise ValueError(
                f"managed: columns {missing} not in v={version}'s "
                f"schema ({[f.name for f in full.fields]})"
            )
        return StructType([by_name[c] for c in want])

    def reader(self, schema) -> ManagedSnapshotReader:
        return ManagedSnapshotReader(self.options, schema)
