"""SparkSession factory with scale-aware defaults.

The reference pins deployment knobs by hand (``--num-executors 2
--executor-cores 3``, 4-8/16-32 partition heuristics —
302-spark-opt/README.md:102-105, ExerciseComplete.scala:53-57). Our engine
instead sets Catalyst/AQE defaults once and lets runtime adaptivity pick
partition counts, broadcast conversions, and skew splits: on a
1000-executor cluster the same session factory holds because nothing below
hard-codes cluster size except via ``SPARK_GRAFT_CPUS`` for local runs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def _local_cpus() -> int:
    """Local-mode core count: ``SPARK_GRAFT_CPUS`` when set, else the
    cores this process may run on (its CPU affinity set)."""
    raw = os.environ.get("SPARK_GRAFT_CPUS")
    if raw is None:
        return len(os.sched_getaffinity(0))
    return int(raw)


def _local_split_bytes(sf_dir: str | None = None, cpus: int | None = None) -> int:
    """Scale-adaptive LOCAL split size: total input bytes / (3 × cores),
    clamped to [4 MB, 128 MB] — about three scan-task waves per core at
    full parallelism instead of a constant tuned to one dataset size.
    At the gate scale factors (≤ ~20 MB of parquet) this resolves to
    the 4 MB floor, i.e. byte-identical splits to prior rounds; a
    replica-scaled dataset gets proportionally larger splits rather
    than thousands of 4 MB tasks (guide §6: fewer, larger map tasks
    also shrink every downstream shuffle's block matrix). Derived from
    the dataset the session is pointed at (``SPARK_GRAFT_SF_DIR``), not
    from the host; without one the 4 MB local floor stands. Cluster
    deployments never reach this code path (they keep Spark's 128 MB
    default)."""
    if sf_dir is None:
        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir or not os.path.isdir(sf_dir):
        return 4 << 20
    total = 0
    for dirpath, _dirnames, filenames in os.walk(sf_dir):
        for f in filenames:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    per = total // (3 * (cpus if cpus is not None else _local_cpus()))
    return min(max(per, 4 << 20), 128 << 20)


def get_session(
    app_name: str = "bigdatalab-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Defaults chosen for scale-out correctness and speed:

    - AQE on (coalesce shuffle partitions, skew-join splitting, runtime
      broadcast conversion) — replaces the reference's manual partition
      tuning.
    - Arrow execution for any pandas interchange (vectorized, not
      row-at-a-time pickling).
    - UTC session timezone so timestamp semantics are stable across
      driver/executor/oracle environments.
    """
    cpus = _local_cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # -Xlog:disable: JVM unified logging (GC warnings etc.) writes to
        # STDOUT and would corrupt single-JSON-line protocol outputs
        # (bench.py); application logs still go to stderr via log4j.
        .config(
            "spark.driver.extraJavaOptions", "-Duser.timezone=UTC -Xlog:disable"
        )
        .config(
            "spark.executor.extraJavaOptions", "-Duser.timezone=UTC -Xlog:disable"
        )
        # Parquet vectorized reader + filter/column pushdown are on by
        # default; keep codegen comment output available for plan audits.
        .config("spark.sql.parquet.filterPushdown", "true")
        # events.parquet carries TIMESTAMP(NANOS); reading nanos as long
        # is a no-op for every other table, so set it once here instead
        # of probing per-read (load_table rebuilds the ts column).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # RocksDB-backed streaming state: the default
        # HDFSBackedStateStoreProvider keeps every version of every state
        # map on the executor HEAP — at a 100 TB/day key space (dedup
        # keys, session windows) that is an OOM, not a tuning problem.
        # RocksDB spills state to local disk with changelog checkpointing
        # to the checkpoint location, bounding executor memory by the
        # block cache, not the key count. Ships with Spark (rocksdbjni);
        # exercised by the streaming test suite, incl. the bounded-state
        # dropDuplicatesWithinWatermark test.
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        .config("spark.ui.enabled", "false")
    )
    local_mode = bool(master and master.startswith("local")) or (
        not master and not os.environ.get("SPARK_MASTER")
    )
    if master:
        builder = builder.master(master)
    elif local_mode:
        builder = builder.master(f"local[{cpus}]")
    if local_mode:
        # Local single-file datasets are far below the 128 MB default
        # split size, which would serialize scans on one core; split
        # finer so all local cores participate — sized from the dataset
        # (see _local_split_bytes), not a constant. Cluster deployments
        # (SPARK_MASTER / explicit master) keep the HDFS-friendly default.
        builder = builder.config(
            "spark.sql.files.maxPartitionBytes", str(_local_split_bytes())
        )
        # In local mode the driver JVM IS the executor; the 1g default
        # driver heap fails broadcast builds at ~10x gate scale. Only
        # effective at JVM launch (first session in the process).
        builder = builder.config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
        )
        # Delta-sized outputs (e.g. the CDC changeset) are still 1000x
        # bigger at the x1000 replica scale; the parity harness collects
        # them, and the 1g maxResultSize default is the ceiling it hits
        # (found by the fourth-decade run). Raise for verification runs;
        # production queries never collect data-sized results.
        builder = builder.config(
            "spark.driver.maxResultSize",
            os.environ.get("SPARK_GRAFT_MAX_RESULT", "1g"),
        )
        # With a multi-GB single-JVM heap, broadcasting mid-size dims
        # (tens of MB) beats shuffling both join sides — measured ~20%
        # on the 3-way revenue join. Cluster deployments keep the
        # conservative 10 MB default.
        builder = builder.config("spark.sql.autoBroadcastJoinThreshold", "64m")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
