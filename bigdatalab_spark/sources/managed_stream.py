"""``managed_changes`` — the ManagedTable change feed as a registered
Spark data source (Spark 4 Python DataSource extension point, the same
surface as sources/pyds.py's ``fixedwidth``).

Batch::

    df = (spark.read.format("managed_changes")
          .option("startingVersion", 1)     # default: first committed
          .option("endingVersion", 4)       # default: latest
          .load(table_path))

Streaming (Delta's ``readChangeFeed`` shape)::

    q = (spark.readStream.format("managed_changes").load(table_path)
         .writeStream...)

The stream bootstraps from the initial snapshot (all-inserts) and then
tails every committed version's feed: recorded ``_cdf`` rows for DML
versions, inserts DERIVED from the files new to an append (no extra
write cost), nothing for compaction. Offsets are versions — committed
versions are immutable, so a restarted query replays its uncommitted
range bit-identically (exactly-once through the checkpoint, the same
argument as the fixed-width tail source). Vacuumed history and full
``write()`` replaces inside a requested range fail LOUDLY instead of
silently skipping changes.

Planning reads the catalog only through sources/versioned.py (which
states the layout): the lineage walk, version listing and pointer,
and the per-version feed decision :func:`versioned._feed_plan` shared
with ``ManagedTable.changes`` — this module adds the range contract
and the Arrow data plane.

Scale/role: one InputPartition per (version, parquet file), so a
backlog of many versions drains with file-granular executor
parallelism; each task reads its parquet file with pyarrow and ships
Arrow RecordBatches zero-copy back to the JVM — no row-at-a-time
Python in the data plane. Old files that predate a schema evolution
are padded with typed NULL columns to the stream's schema (the
table's stored schema at plan time).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from bigdatalab_spark.sources.versioned import (
    _SCHEMA_FILE,
    _feed_plan,
    _lineage,
    _parent_of,
    _partition_values,
    _stored_schema,
    latest_version,
    list_versions,
)


def _required_schema(path: str, v: int):
    """Version ``v``'s stored schema; the connectors refuse tables
    committed before schema tracking existed."""
    schema = _stored_schema(path, v)
    if schema is None:
        raise ValueError(
            "managed_changes requires a table with stored schemas "
            f"(no {_SCHEMA_FILE} in v={v} — commit once with the "
            "current engine to upgrade)"
        )
    return schema


class _ChangePartition(InputPartition):
    """One parquet file of one version's feed. ``change_type`` is None
    when the file already carries the feed columns (a ``_cdf`` store);
    otherwise the constant to stamp (derived inserts). ``constants``
    carries partition-column values parsed from the file's directory
    segments (partitioned snapshots store them in the path, not the
    file)."""

    def __init__(
        self,
        path: str,
        version: int,
        change_type: str | None,
        constants: dict | None = None,
    ):
        self.path = path
        self.version = version
        self.change_type = change_type
        self.constants = constants or {}


def _plan_partitions(
    path: str, lo: int, hi: int, start_version: int | None = None
) -> list[_ChangePartition]:
    """Partitions for every POINTER-LINEAGE version in (lo, hi] — the
    shared planner of the batch and streaming readers. The walk
    follows each commit's recorded parent, so versions orphaned by a
    rollback (committed, time-travelable, but not this history) are
    correctly excluded; each version's feed comes from
    ``versioned._feed_plan``, the decision ManagedTable.changes makes.
    Raises on vacuumed/off-lineage history and on non-initial full
    replaces.

    ``start_version`` is the USER-REQUESTED first version (the reader's
    startingVersion): when the first planned version IS that request,
    the range is valid even if version numbers are not consecutive
    along the lineage (a rollback from v1 straight to v4 makes
    ``startingVersion=4`` compute lo=3 with parent(4)=1 — a legitimate
    explicit range, exactly what ManagedTable.changes_between(4)
    serves). Offsets the STREAM generated are lineage versions, so a
    non-matching gap there still means vacuumed/orphaned history and
    still refuses."""
    if hi <= lo:
        return []
    if hi not in list_versions(path):
        raise ValueError(
            f"managed_changes: version {hi} of {path} is gone "
            "(vacuumed or never committed) — re-bootstrap from a "
            "snapshot read"
        )
    vers = [v for v in _lineage(path, hi) if lo < v <= hi]
    if not vers:
        return []
    first_parent = _parent_of(path, vers[0])
    if (
        first_parent is not None
        and first_parent != lo
        and vers[0] != start_version
    ):
        raise ValueError(
            f"managed_changes: the feed from v={lo} is gone (vacuumed "
            "lineage, or the offset is on an orphaned branch after a "
            "rollback) — re-bootstrap from a snapshot read"
        )
    out: list[_ChangePartition] = []
    for v in vers:
        try:
            change_type, rows = _feed_plan(path, v)
        except ValueError as exc:
            raise ValueError(f"managed_changes: {exc}") from None
        out.extend(
            _ChangePartition(
                r["abs"],
                v,
                change_type,
                # a _cdf store's files carry their columns; snapshot
                # files carry partition values in their directory names
                constants=_partition_values(r["file"]) if change_type else None,
            )
            for r in rows
        )
    return out


def _align_batches(
    path: str,
    arrow_schema,
    constants: dict | None = None,
    synthesized: dict | None = None,
) -> Iterator:
    """The Arrow alignment kernel of both managed connectors: STREAM
    the parquet file batch by batch (bounded task memory — a whole-file
    read_table would materialize multi-GB files per task at real
    scale) and align each batch to ``arrow_schema``, zero-copy.
    ``synthesized`` columns get one value per file, stored or not;
    ``constants`` (partition values from directory names, None = the
    Hive NULL sentinel) are cast from their string encoding; stored
    columns are cast on type mismatch; missing ones (pre-evolution
    files) are typed NULLs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    constants = constants or {}
    synthesized = synthesized or {}
    pf = pq.ParquetFile(path)
    present = set(pf.schema_arrow.names)
    needed = [
        f.name
        for f in arrow_schema
        if f.name in present
        and f.name not in constants
        and f.name not in synthesized
    ]
    for batch in pf.iter_batches(columns=needed):
        n = batch.num_rows
        cols = []
        for field in arrow_schema:
            if field.name in synthesized:
                cols.append(
                    pa.array([synthesized[field.name]] * n, type=field.type)
                )
            elif field.name in constants:
                val = constants[field.name]
                if val is None:
                    cols.append(pa.nulls(n, type=field.type))
                else:
                    cols.append(
                        pa.array([val] * n, type=pa.string()).cast(
                            field.type
                        )
                    )
            elif field.name in present:
                col = batch.column(field.name)
                if col.type != field.type:
                    col = col.cast(field.type)
                cols.append(col)
            else:
                cols.append(pa.nulls(n, type=field.type))
        yield pa.RecordBatch.from_arrays(cols, schema=arrow_schema)


def _read_partition(part: _ChangePartition, arrow_schema) -> Iterator:
    """Task body of the feed readers. ``_commit_version`` is always
    stamped from the version DIRECTORY, the authority: feeds are
    written before their number exists. ``_change_type`` is stamped
    for derived inserts."""
    synthesized = {"_commit_version": part.version}
    if part.change_type is not None:
        synthesized["_change_type"] = part.change_type
    yield from _align_batches(
        part.path,
        arrow_schema,
        getattr(part, "constants", {}),
        synthesized,
    )


def _feed_schema(path: str):
    """The stream's schema: the table's CURRENT stored schema plus the
    feed columns (matching ManagedTable.changes)."""
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    latest = latest_version(path)
    if latest is None:
        raise ValueError(f"no committed versions under {path}")
    data = _required_schema(path, latest)
    return StructType(
        list(data.fields)
        + [
            StructField("_change_type", StringType()),
            StructField("_commit_version", IntegerType()),
        ]
    )


class ManagedChangesReader(DataSourceReader):
    """Batch read of a version range's feed (Delta ``table_changes``)."""

    def __init__(self, options: dict, schema) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("managed_changes requires .load(table_path)")
        self.path = path
        self.schema = schema
        committed = list_versions(path)
        if not committed:
            raise ValueError(f"no committed versions under {path}")
        self.lo = int(options.get("startingversion", committed[0]))
        self.hi = int(options.get("endingversion", latest_version(path)))
        if self.lo > self.hi:
            # an explicit start beyond the range's end would plan zero
            # partitions and return an empty feed — silent data "loss"
            # from the consumer's perspective; refuse instead
            raise ValueError(
                f"managed_changes: startingVersion {self.lo} is after "
                f"the range end {self.hi} (the pointer, or the "
                "requested endingVersion) — nothing to read yet, or a "
                "rollback moved the pointer below the request"
            )

    def partitions(self) -> list[InputPartition]:
        return _plan_partitions(
            self.path, self.lo - 1, self.hi, start_version=self.lo
        )

    def read(self, partition: _ChangePartition) -> Iterator:
        from pyspark.sql.pandas.types import to_arrow_schema

        yield from _read_partition(partition, to_arrow_schema(self.schema))


class ManagedChangesStreamReader(DataSourceStreamReader):
    """Streaming tail of the feed. Offset model: ``{"v": N}`` = every
    version <= N is fully delivered. initialOffset bootstraps from the
    initial snapshot (or ``startingVersion - 1``); committed versions
    are immutable, so replaying an uncommitted offset range after a
    restart yields bit-identical batches (exactly-once through the
    query checkpoint)."""

    def __init__(self, options: dict, schema) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("managed_changes requires .load(table_path)")
        self.path = path
        self.schema = schema
        committed = list_versions(path)
        if not committed:
            raise ValueError(f"no committed versions under {path}")
        self.start = int(options.get("startingversion", committed[0]))

    def initialOffset(self) -> dict:
        return {"v": self.start - 1}

    def latestOffset(self) -> dict:
        latest = latest_version(self.path)
        return {"v": latest if latest is not None else self.start - 1}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        return _plan_partitions(
            self.path, start["v"], end["v"], start_version=self.start
        )

    def read(self, partition: _ChangePartition) -> Iterator:
        from pyspark.sql.pandas.types import to_arrow_schema

        yield from _read_partition(partition, to_arrow_schema(self.schema))

    def commit(self, end: dict) -> None:
        # offsets live in the query checkpoint; retention is vacuum's
        # job (and a vacuumed-but-unstreamed version fails loudly)
        pass


class ManagedChangesDataSource(DataSource):
    """spark.read / spark.readStream ``format("managed_changes")``."""

    @classmethod
    def name(cls) -> str:
        return "managed_changes"

    def schema(self):
        path = self.options.get("path")
        if not path:
            raise ValueError("managed_changes requires .load(table_path)")
        return _feed_schema(path)

    def reader(self, schema) -> ManagedChangesReader:
        return ManagedChangesReader(self.options, schema)

    def streamReader(self, schema) -> ManagedChangesStreamReader:
        return ManagedChangesStreamReader(self.options, schema)
