"""Benchmark harness: times the headline queries and prints one JSON line.

Usage: python bench.py
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
       SPARK_GRAFT_CPUS   (default: the cores in this process's affinity set)
       SPARK_GRAFT_BENCH_QUERIES (comma-separated registry names; default
           the headline set — the scale experiments use this to time the
           TPC-H completion suite with the same warm/min-of-3 method)
Output: {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is timed as a full pipeline execution into a noop sink: the
whole plan runs (shuffles, joins, every output column materialized) but
nothing is transferred to the driver, so the number measures the
pipeline, not driver-side result materialization. A warmup run first
amortizes JVM/session startup out of the numbers.

Per query the reported time is the MIN of 3 runs after one untimed
warm run, with the session cache cleared between runs: single-shot
timings on a shared box swing 2-10x with GC/load ordering effects
(measured in SCALE_NOTES round-3), and min-of-3 recovers the
reproducible pipeline cost the plan actually implies.

HYGIENE RULE (round-7 lesson, binding on whoever runs this): the bench
must run SOLO. If the emitted env block shows loadavg_start[0] above
~1.5, or sentinel_nation_count_sec above ~0.11 (solo reference
0.090-0.097 on this box), the measurement is load-polluted — discard
it and rerun with nothing else on the machine. Round 7's driver
artifact (10.70 s at loadavg 2.68, sentinel 0.1185) vs the solo rerun
(9.63 s, sentinel 0.0898) is the canonical example. Use
``python -m tools.bench_compare OLD.json NEW.json`` to compare rounds:
it normalizes per-query deltas by the CPU-sentinel ratio so
environment drift isn't misread as a plan regression.
"""

from __future__ import annotations

import json
import os
import sys
import time


def _run(df) -> None:
    """Execute the full pipeline without collecting to the driver."""
    df.write.format("noop").mode("overwrite").save()


def _noise_sentinel(spark, sf_dir: str) -> float | None:
    """Time a FIXED trivial pipeline (full nation scan+count into noop)
    the same way the real queries are timed (min of 3, cache-cleared).

    The sentinel's code never changes across rounds, so its timing
    isolates machine/env drift from plan regressions: if the sentinel
    moves by the same factor as the headline queries, the drift is the
    box, not the code (round-6 bench drifted 8.39→9.59 s uniformly with
    zero headline-query diffs and there was no in-artifact way to prove
    it; this field is that proof)."""
    if not os.path.exists(f"{sf_dir}/nation.parquet"):
        # partial replicas (--only=documents) carry no dims; a missing
        # sentinel must not kill the bench they're feeding
        return None
    best = float("inf")
    for _ in range(3):
        spark.catalog.clearCache()
        df = spark.read.parquet(f"{sf_dir}/nation.parquet").groupBy().count()
        t0 = time.perf_counter()
        _run(df)
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


def _scratch_dir(spark) -> str:
    """The filesystem Spark actually spills/shuffles to: the session's
    ``spark.local.dir`` when set, else the SPARK_LOCAL_DIRS env, else
    the system temp dir — measuring a different filesystem than the
    shuffle scratch would make the disk sentinel's attribution wrong."""
    import tempfile

    try:
        d = spark.conf.get("spark.local.dir", None)
    except Exception:
        d = None
    d = d or os.environ.get("SPARK_LOCAL_DIRS") or tempfile.gettempdir()
    d = d.split(",")[0]
    return d if os.path.isdir(d) else tempfile.gettempdir()


def _disk_sentinel(scratch: str, mb: int = 128) -> float:
    """Measured write+fsync throughput (MB/s) of the shuffle-scratch
    filesystem (``scratch`` — see :func:`_scratch_dir`). The CPU
    sentinel above misses disk drift — round-7's x1000 rerun moved the
    two most shuffle-heavy queries 1.6-1.8x with the CPU sentinel
    flat, which is exactly the signature of scratch I/O slowing down.
    Best of 2 so a single writeback stall doesn't masquerade as the
    disk."""
    import tempfile

    block = b"\x5a" * (1 << 20)
    best = 0.0
    for _ in range(2):
        with tempfile.NamedTemporaryFile(dir=scratch) as fh:
            t0 = time.perf_counter()
            for _i in range(mb):
                fh.write(block)
            fh.flush()
            os.fsync(fh.fileno())
            best = max(best, mb / (time.perf_counter() - t0))
    return round(best, 1)


def _adjudicate(result: dict, repo_dir: str) -> dict:
    """Self-adjudication (embedded so no human re-litigates raw
    seconds): stamp polluted=true when the run started under load or
    the fixed-code CPU sentinel is off its solo reference, and embed
    the sentinel-NORMALIZED comparison against the latest committed
    round artifact (BENCH_r{N}.json) via tools.bench_compare — the
    normalized ratios, not the raw totals, are the round-over-round
    story."""
    import glob
    import re

    env = result["env"]
    reasons = []
    la = env["loadavg_start"][0]
    if la > 1.5:
        reasons.append(f"loadavg_start {la} > 1.5")
    s = env["sentinel_nation_count_sec"]
    if s is not None and s > 0.11:
        reasons.append(f"cpu_sentinel {s} > 0.11 (solo ref 0.090-0.097)")
    verdict: dict = {"polluted": bool(reasons), "reasons": reasons}

    cands = []
    for p in glob.glob(os.path.join(repo_dir, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", p)
        if m:
            cands.append((int(m.group(1)), p))
    if not cands:
        verdict["vs_prev"] = None
        return verdict
    _, prev_path = max(cands)
    try:
        from tools.bench_compare import _load, compare

        prev = _load(prev_path)
        if str(prev.get("sf")) != str(result["sf"]) or not prev.get("queries"):
            verdict["vs_prev"] = {
                "artifact": os.path.basename(prev_path),
                "skipped": f"sf mismatch ({prev.get('sf')} vs {result['sf']})",
            }
            return verdict
        cmp_out = compare(prev, result)
        er = cmp_out["env_ratio"]
        verdict["vs_prev"] = {
            "artifact": os.path.basename(prev_path),
            "env_ratio": er,
            "old_total": cmp_out["old_total"],
            "new_total_normalized": (
                round(result["value"] / er, 3) if er else None
            ),
            "normalized_ratios": {
                q: v["normalized_ratio"] for q, v in cmp_out["queries"].items()
            },
            "regressions": cmp_out["regressions"],
        }
    except Exception as exc:  # adjudication must never kill the bench
        verdict["vs_prev"] = {"error": f"{type(exc).__name__}: {exc}"[:200]}
    return verdict


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from bigdatalab_spark.queries import REGISTRY
    from bigdatalab_spark.session import _local_cpus, get_session

    headline = [
        # relational core
        "pricing_summary",
        "sql_entrypoint_revenue",
        "lineitem_part_supplier",
        "preagg_revenue_join",
        "top_parts_per_year",
        # text / wordcount family
        "word_count",
        "inverted_index",
        # windows + streaming (real readStream run)
        "events_sliding_6h_2h",
        "streaming_cumulative_counts",
        # scale extensions
        "dedup_minhash_lsh",
        "ann_cosine_topk",
        "quality_scores",
        # storage facade commit plane (write → DELETE → MERGE → read;
        # round-11 anchor — trend-tracks the flagship beyond-reference
        # surface round over round)
        "managed_table_dml_read",
    ]
    override = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    if override:
        headline = [q.strip() for q in override.split(",") if q.strip()]
        unknown = [q for q in headline if q not in REGISTRY]
        if unknown:
            # a typo must not silently shorten the benchmark and report
            # success with some requested queries never run
            raise SystemExit(
                f"SPARK_GRAFT_BENCH_QUERIES names not in REGISTRY: {unknown}"
            )
    headline = [q for q in headline if q in REGISTRY]

    spark = get_session(app_name="bigdatalab-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Environment attribution: load average when the bench starts/ends,
    # CPU count, and a fixed noise-sentinel timing. A loadavg(1m) well
    # above ~1-2 at start means another process (pytest, a second Spark
    # session) is polluting the numbers — rerun solo.
    load_start = os.getloadavg()

    # Warmup: run the first query once so JVM/codegen startup is excluded.
    if headline and os.environ.get("SPARK_GRAFT_BENCH_WARMUP", "1") != "0":
        _run(REGISTRY[headline[0]].fn(spark, sf_dir))

    sentinel = _noise_sentinel(spark, sf_dir)
    scratch = _scratch_dir(spark)

    # SPARK_GRAFT_BENCH_RUNS: timed runs per query (default 3; min-of-N).
    # The x1000 decade runs set 1 — a single ~15-min query would blow any
    # sane timeout at min-of-3, and at that duration the run-to-run noise
    # min-of-3 guards against is amortized anyway. Recorded per run in
    # SCALE_NOTES when != 3.
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    # SPARK_GRAFT_BENCH_WARMUP=0 skips the per-query warm run: at decade
    # scale a single execution is minutes long (startup noise amortized)
    # and shuffle scratch from the warm run can exceed the sandbox disk
    # before the timed run starts.
    warmup = os.environ.get("SPARK_GRAFT_BENCH_WARMUP", "1") != "0"
    timings: dict[str, float] = {}
    for name in headline:
        spark.catalog.clearCache()
        if warmup:
            _run(REGISTRY[name].fn(spark, sf_dir))  # per-query warm run
        best = float("inf")
        for _ in range(n_runs):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            _run(REGISTRY[name].fn(spark, sf_dir))
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)

    total = round(sum(timings.values()), 3)
    # The headline total mixes the query-engine set with LIFECYCLE
    # anchors (multi-commit storage benches like the write → DELETE →
    # MERGE → read loop, dominated by fixed per-commit job overhead).
    # legacy_subtotal is the query-engine-only number — the one the
    # "within 2× of baseline" budget is checked against round over
    # round, so adding a new anchor never reads as a regression.
    lifecycle = sorted(
        q for q in timings if q in {"managed_table_dml_read"}
    )
    result = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "lifecycle_queries": lifecycle,
        "legacy_subtotal": round(
            sum(v for q, v in timings.items() if q not in lifecycle), 3
        ),
        "sf": sf,
        "env": {
            # The CONFIGURED core count (what local[N] actually runs with),
            # not os.cpu_count(): the driver's low-core scaling probe sets
            # SPARK_GRAFT_CPUS=8 and reads this field back to confirm the
            # bench honored it (round-12 false alarm: execution honored the
            # env var but this block reported the host's 32).
            "cpus": _local_cpus(),
            "host_cpus": os.cpu_count(),
            "master": spark.sparkContext.master,
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "loadavg_start": [round(x, 2) for x in load_start],
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            "sentinel_nation_count_sec": sentinel,
            "sentinel_disk_write_mb_s": _disk_sentinel(scratch),
            "sentinel_disk_path": scratch,
        },
    }
    result["adjudication"] = _adjudicate(
        result, os.path.dirname(os.path.abspath(__file__))
    )
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
