"""Workload definitions: each is a fixed list of ops run as one closed
loop (one client, the next op only after the previous completes).

An op has two timed phases. ``build`` makes the frame or arguments the
op needs (for a registry op: the registry function, which may already
run jobs); ``execute`` runs the op to a complete result — the engine
call, or draining the returned frame into a noop sink.

Correctness is checked once per run, in the untimed first pass: the
op's ``actual`` result (its collected output, or the state it left
behind) must equal its ``oracle``, a DuckDB query over the same
generated inputs — the registry's own oracle for registry ops, a
replay of the seeded batches for ingest ops.

The engine is reached only through its public entry points: the query
``REGISTRY``, ``sources.readers``, ``ManagedTable``, ``streaming.jobs``
and the ``scale.dedup`` index functions.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Any, Callable

#: Workload name -> (op names, why it was chosen). The curation ops are
#: registry query names.
WORKLOADS = {
    "curation": (
        (
            "dedup_exact",
            "dedup_minhash_lsh",
            "dedup_jaccard_prefix",
            "semantic_dedup",
            "ann_cosine_topk",
            "quality_scores",
        ),
        "LLM-data operators: few long ops dominated by self-join shuffles "
        "and Python/Arrow UDF workers over tiny scans; no storage or "
        "streaming code runs",
    ),
    "ingest": (
        (
            "table_write",
            "table_append",
            "table_delete_range",
            "table_merge_into",
            "table_compact",
            "table_read_agg",
            "stream_stateful",
            "stream_cdc_merge",
            "dedup_index_save",
            "dedup_index_append",
            "dedup_index_probe",
        ),
        "the only writer: commit protocol, fixed jobs per commit, fsync "
        "and the RocksDB state store dominate, with small scans beside "
        "the writes",
    ),
}


#: ingest ops whose execute phase is one durable-write call (commit_s_p50)
COMMIT_OPS = (
    "table_write", "table_append", "table_delete_range", "table_merge_into",
    "table_compact", "dedup_index_save", "dedup_index_append",
)

#: ingest stores (directories of a pass) -> the generated batches written
#: into them, for stored_bytes_per_user_byte; the probe batch is only read
INGEST_STORES = {
    "table": ("table_base", "table_append", "merge_source"),
    "stream_ckpt": ("stream_events",),
    "cdc_table": ("cdc_events",),
    "cdc_ckpt": (),
    "dedup_index": ("dedup_save", "dedup_append"),
}


@dataclass
class Ctx:
    """State one pass shares between its ops."""

    spark: Any
    data_dir: str
    pass_dir: str
    plan: dict
    objs: dict = field(default_factory=dict)

    def path(self, name: str) -> str:
        return os.path.join(self.pass_dir, name)


@dataclass(frozen=True)
class Op:
    name: str
    build: Callable[[Ctx], Any]
    execute: Callable[[Ctx, Any], Any]
    #: DuckDB SQL of the expected result; None = rows-only check
    oracle: Callable[[Ctx], str] | None = None
    #: the result to check, from the collected output (None when the op
    #: returns no frame) and the pass state
    actual: Callable[[Ctx, Any], Any] = lambda ctx, out: out
    #: compare with ``tools.oracle_check.compare_frames`` (exact cell
    #: renderings, the registry gate's rule) rather than as a multiset of
    #: rows in DuckDB — which is as exact and fast on 100k-row tables
    strict_frames: bool = False


# ---- curation: registry queries against their DuckDB oracles ---------------


def _registry_op(name: str) -> Op:
    from bigdatalab_spark.queries import REGISTRY

    spec = REGISTRY[name]
    return Op(
        name,
        build=lambda ctx: spec.fn(ctx.spark, ctx.data_dir),
        execute=lambda ctx, df: df,
        oracle=(lambda ctx: spec.oracle) if spec.oracle else None,
        strict_frames=True,
    )


# ---- ingest: the durable-write paths, replayed in DuckDB ---------------------


def _load(ctx: Ctx, name: str):
    from bigdatalab_spark.sources.readers import load_table

    return load_table(ctx.spark, ctx.data_dir, name)


def _file_stream(ctx: Ctx, name: str):
    """Replay a directory of generated parquet files as a stream, one
    file per micro-batch."""
    from bigdatalab_spark.sources.readers import normalize_ts_layout, read_parquet

    src = f"{ctx.data_dir}/{name}"
    schema = read_parquet(ctx.spark, f"{src}/part-000.parquet").schema
    raw = ctx.spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
    return normalize_ts_layout(raw.parquet(src))


def _new_table(ctx: Ctx, name: str):
    from bigdatalab_spark.sources.managed import ManagedTable

    t = ManagedTable(ctx.spark, ctx.path(name), index_cols=("user_id",))
    ctx.objs[name] = t
    return t


_TABLE_SQL = """
    WITH written AS (
        SELECT * FROM read_parquet(['{d}/table_base.parquet',
                                    '{d}/table_append.parquet'])
        WHERE user_id NOT BETWEEN {lo} AND {hi}
    ),
    src AS (SELECT * FROM '{d}/merge_source.parquet')
    SELECT * FROM written WHERE event_id NOT IN (SELECT event_id FROM src)
    UNION ALL
    SELECT * FROM src
"""


def _table_sql(ctx: Ctx) -> str:
    lo, hi = ctx.plan["delete_user_range"]
    return _TABLE_SQL.format(d=ctx.data_dir, lo=lo, hi=hi)


def _read_agg(ctx: Ctx, _):
    from pyspark.sql import functions as F

    return (
        ctx.objs["table"]
        .read()
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
    )


def _stateful_query(ctx: Ctx):
    from bigdatalab_spark.streaming.jobs import sentiment_style_state

    return sentiment_style_state(_file_stream(ctx, "stream_events").select("user_id", "value"))


def _stream_stateful(ctx: Ctx, result) -> None:
    from bigdatalab_spark.streaming.jobs import run_stream_to_memory, unique_sink_name

    name = unique_sink_name("perfbench_state")
    ctx.objs["sink"] = name
    run_stream_to_memory(
        result,
        name,
        checkpoint_dir=ctx.path("stream_ckpt"),
        output_mode="complete",
        state_input_bytes=ctx.plan["user_bytes"]["stream_events"],
    )


def _cdc_updates(ctx: Ctx):
    from pyspark.sql import functions as F

    _new_table(ctx, "cdc_table")
    return _file_stream(ctx, "cdc_events").select(
        "user_id",
        F.to_date(F.date_trunc("day", "ts")).cast("string").alias("day"),
        F.col("value").alias("last_value"),
        F.concat(
            F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
            F.lpad(F.col("event_id").cast("string"), 12, "0"),
        ).alias("seq"),
    )


def _stream_cdc_merge(ctx: Ctx, updates) -> None:
    from bigdatalab_spark.streaming.jobs import managed_merge_stream

    q = managed_merge_stream(
        updates,
        ctx.objs["cdc_table"],
        ("user_id", "day"),
        ctx.path("cdc_ckpt"),
        order_col="seq",
    )
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(f"CDC stream failed: {q.exception()}")


_CDC_SQL = """
    SELECT user_id, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
           value AS last_value
    FROM (SELECT *, row_number() OVER (
              PARTITION BY user_id, CAST(ts AS DATE)
              ORDER BY ts DESC, event_id DESC) AS rn
          FROM '{d}/cdc_events/*.parquet')
    WHERE rn = 1
"""


def _probe(ctx: Ctx, batch):
    from bigdatalab_spark.scale.dedup import incremental_dedup_from_index

    return incremental_dedup_from_index(ctx.spark, batch, ctx.path("dedup_index"))


def _probe_oracle(_ctx: Ctx) -> str:
    # the registry's oracle for a corpus of even doc ids probed by the
    # odd ones: the split the generator wrote into the three files the
    # ``documents`` view unions
    from bigdatalab_spark.queries import REGISTRY

    return REGISTRY["incremental_dedup_index_status"].oracle


def _save_index(ctx: Ctx, docs) -> None:
    from bigdatalab_spark.scale.dedup import save_dedup_index

    save_dedup_index(docs, ctx.path("dedup_index"))


def _append_index(ctx: Ctx, docs) -> None:
    from bigdatalab_spark.scale.dedup import append_to_dedup_index

    append_to_dedup_index(docs, ctx.path("dedup_index"))


def _ingest_ops() -> list[Op]:
    # engine functions are imported where they are called, never bound
    # here: the traced run re-binds them after the op list exists
    def table(ctx: Ctx):
        return ctx.objs["table"]

    def write_build(ctx: Ctx):
        _new_table(ctx, "table")
        base = _load(ctx, "table_base")
        return base.repartitionByRange(4, "user_id").sortWithinPartitions("user_id")

    return [
        Op("table_write", write_build, lambda ctx, df: table(ctx).write(df)),
        Op(
            "table_append",
            lambda ctx: _load(ctx, "table_append"),
            lambda ctx, df: table(ctx).append(df),
        ),
        Op(
            "table_delete_range",
            lambda ctx: ctx.plan["delete_user_range"],
            lambda ctx, r: table(ctx).delete_range("user_id", r[0], r[1]),
        ),
        Op(
            "table_merge_into",
            lambda ctx: _load(ctx, "merge_source"),
            lambda ctx, df: table(ctx).merge_into(df, "event_id"),
        ),
        Op(
            "table_compact",
            lambda ctx: None,
            lambda ctx, _: table(ctx).compact(),
            oracle=_table_sql,
            actual=lambda ctx, _: table(ctx).read().toPandas(),
        ),
        Op(
            "table_read_agg",
            lambda ctx: None,
            _read_agg,
            oracle=lambda ctx: (
                "SELECT event_type, count(*) AS n_events, sum(value) AS sum_value "
                f"FROM ({_table_sql(ctx)}) GROUP BY event_type"
            ),
        ),
        Op(
            "stream_stateful",
            _stateful_query,
            _stream_stateful,
            oracle=lambda ctx: (
                "SELECT user_id, count(*) AS n_events, sum(value) AS sum_value, "
                "avg(value) AS avg_value "
                f"FROM '{ctx.data_dir}/stream_events/*.parquet' GROUP BY user_id"
            ),
            actual=lambda ctx, _: ctx.spark.table(ctx.objs["sink"]).toPandas(),
        ),
        Op(
            "stream_cdc_merge",
            _cdc_updates,
            _stream_cdc_merge,
            oracle=lambda ctx: _CDC_SQL.format(d=ctx.data_dir),
            actual=lambda ctx, _: ctx.objs["cdc_table"]
            .read()
            .select("user_id", "day", "last_value")
            .toPandas(),
        ),
        Op(
            "dedup_index_save",
            lambda ctx: _load(ctx, "dedup_save"),
            _save_index,
        ),
        Op(
            "dedup_index_append",
            lambda ctx: _load(ctx, "dedup_append"),
            _append_index,
        ),
        Op(
            "dedup_index_probe",
            lambda ctx: _load(ctx, "dedup_probe"),
            _probe,
            oracle=_probe_oracle,
        ),
    ]


def ops_for(workload: str) -> list[Op]:
    if workload == "ingest":
        return _ingest_ops()
    return [_registry_op(n) for n in WORKLOADS[workload][0]]


def duck_views(workload: str) -> dict[str, str]:
    """DuckDB views the oracles read: view name -> parquet file list."""
    if workload == "ingest":
        return {
            "documents": "['{d}/dedup_save.parquet', '{d}/dedup_append.parquet', "
            "'{d}/dedup_probe.parquet']"
        }
    return {"documents": "'{d}/documents.parquet'", "embeddings": "'{d}/embeddings.parquet'"}


def compare(duck, op: Op, got, want) -> list[str]:
    """Problems found comparing an op's actual result with its oracle's."""
    if want is None:
        # no oracle: the registry gate's rows-only rule for a query; a
        # commit without output is checked through the state a later
        # op reads back
        return [] if got is None or len(got) else ["no rows"]
    if op.strict_frames:
        from tools.oracle_check import compare_frames

        return compare_frames(got, want)
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns: got {sorted(got.columns)} want {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"row count: got {len(got)} want {len(want)}"]
    cols = ", ".join(f'"{c}"' for c in sorted(got.columns))
    cur = duck.cursor()
    cur.register("got_rows", got)
    cur.register("want_rows", want)
    (diff,) = cur.execute(
        f"SELECT (SELECT count(*) FROM (SELECT {cols} FROM got_rows EXCEPT ALL "
        f"SELECT {cols} FROM want_rows))"
    ).fetchone()
    cur.close()
    return [f"{diff} of {len(got)} rows differ from the DuckDB replay"] if diff else []
