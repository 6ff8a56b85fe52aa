"""Benchmark entry point.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 1 --trace 0

One run: generate the workload's inputs from the seed (timed apart as
``gen_s``), start the engine's session and finish one warm op
(``setup_s``), then time one pass over the workload's op list
(``pass_s``) and check every op's result against DuckDB after it.

The timed pass is the first one in the process, JIT warm-up and
first-use costs included: a batch job in a fresh process pays them on
every run, so they are part of what its user waits for. The first pass
is also the steadiest measure on a 4-core box: across 10 seeds its
spread was half that of a second, warm pass. ``--seconds`` beyond the
first pass runs warm passes, reported apart as ``warm_pass_s``; every
pass takes longer than the 1 s BENCHMARK.json asks for.

With ``--trace 1`` the timed pass is traced instead and gives the
per-layer metrics (see tracing.py); a warm untraced pass and a warm
traced pass then measure the tracing overhead.

Everything the run writes lives under ``.bench_work/`` in the checkout
and is removed at exit. The last line on stdout is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``; the lines
before it report every metric with its unit and sample count, the
per-op latencies and the host (cpus, CPU model, load average).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _process_age() -> float:
    """Seconds since this process started (kernel clock, 10 ms ticks)."""
    with open("/proc/self/stat", encoding="ascii") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime", encoding="ascii") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _peak_rss_mb(*pids: int) -> float:
    """Sum of the peak resident set sizes (VmHWM) of ``pids``."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


def _host() -> dict:
    model = "unknown"
    with open("/proc/cpuinfo", encoding="utf-8") as fh:
        for line in fh:
            if line.startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    return {"cpus": len(os.sched_getaffinity(0)), "cpu_model": model, "loadavg": os.getloadavg()}


def _pin_environment(work: str, cpus: int) -> None:
    """Size the engine to this host and keep every scratch file inside
    the run's work directory."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable


def _duckdb(workload: str, data_dir: str, cpus: int):
    import duckdb

    from workloads import duck_views

    con = duckdb.connect()
    con.execute("SET memory_limit='2GB'")
    con.execute(f"SET threads={cpus}")
    con.execute(f"SET temp_directory='{os.environ['TMPDIR']}'")
    for view, files in duck_views(workload).items():
        con.execute(
            f"CREATE VIEW {view} AS SELECT * FROM read_parquet({files.format(d=data_dir)})"
        )
    return con


class Runner:
    """Runs passes of one workload's op list against one session."""

    def __init__(self, spark, workload: str, data_dir: str, work: str, plan: dict, duck):
        from workloads import ops_for

        self.spark = spark
        self.workload = workload
        self.data_dir = data_dir
        self.work = work
        self.plan = plan
        self.duck = duck
        self.ops = ops_for(workload)
        self.n_pass = 0
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.stored_ratios: list[float] = []
        self.result_rows: dict[str, int] = {}
        self.check_s: dict[str, float] = {}

    def run_pass(self, tracer, check: bool = False) -> tuple[float, dict[str, float]]:
        """One pass over the op list, each op timed from build to its
        complete result. Returns (pass wall seconds, {op: seconds}); an
        op that raises counts as failed and has no latency. With
        ``check``, every op's result is compared with its DuckDB oracle
        once the pass is over, outside the timing."""
        from pyspark.sql import DataFrame

        from workloads import Ctx

        self.n_pass += 1
        ctx = Ctx(self.spark, self.data_dir, os.path.join(self.work, f"pass{self.n_pass}"), self.plan)
        lat: dict[str, float] = {}
        outputs: dict[str, object] = {}
        t_pass = time.perf_counter()
        with tracer.span("pass", "pass"):
            for op in self.ops:
                self.attempted += 1
                t0 = time.perf_counter()
                try:
                    with tracer.span(op.name, "op"):
                        with tracer.span("build", "phase"):
                            obj = op.build(ctx)
                        with tracer.span("execute", "phase"):
                            out = op.execute(ctx, obj)
                            # a query's result is complete once the client
                            # holds it; a commit returns a version or meta
                            out = out.toPandas() if isinstance(out, DataFrame) else None
                    lat[op.name] = time.perf_counter() - t0
                    outputs[op.name] = out
                except Exception as exc:  # noqa: BLE001 — a failed op is a result
                    self.fail(op.name, [f"{type(exc).__name__}: {exc}"])
                self.spark.catalog.clearCache()
        pass_s = time.perf_counter() - t_pass
        if check:
            self._check(ctx, outputs)
        if self.workload == "ingest":
            from stats import stored_bytes_per_user_byte
            from workloads import INGEST_STORES

            stores = [ctx.path(s) for s in INGEST_STORES]
            user = sum(self.plan["user_bytes"][b] for bs in INGEST_STORES.values() for b in bs)
            self.stored_ratios.append(stored_bytes_per_user_byte(stores, user))
        shutil.rmtree(ctx.pass_dir, ignore_errors=True)
        return pass_s, lat

    def fail(self, op_name: str, problems: list[str]) -> None:
        self.failed += 1
        self.problems += [f"{op_name}: {p}" for p in problems]

    def _check(self, ctx, outputs: dict) -> None:
        """Compare each op's result with its oracle. The oracles run on a
        DuckDB cursor in a background thread while this thread reads the
        Spark side; ops that raised were already counted failed."""
        from concurrent.futures import ThreadPoolExecutor

        from workloads import compare

        cur = self.duck.cursor()
        with ThreadPoolExecutor(max_workers=1) as pool:
            want = {
                op.name: pool.submit(lambda q=op.oracle(ctx): cur.execute(q).fetchdf())
                for op in self.ops
                if op.oracle is not None and op.name in outputs
            }
            for op in self.ops:
                if op.name not in outputs:
                    continue
                t0 = time.perf_counter()
                out = outputs[op.name]
                if out is not None:
                    self.result_rows[op.name] = len(out)
                try:
                    expected = want[op.name].result() if op.name in want else None
                    bad = compare(self.duck, op, op.actual(ctx, out), expected)
                except Exception as exc:  # noqa: BLE001 — a failed check is a result
                    bad = [f"check raised {type(exc).__name__}: {exc}"]
                self.check_s[op.name] = time.perf_counter() - t0
                if bad:
                    self.fail(op.name, bad)
        cur.close()

    def timed_passes(self, tracer, seconds: float) -> list[tuple[float, dict]]:
        """Passes until ``seconds`` have passed (at least one)."""
        out = []
        t0 = time.perf_counter()
        while not out or time.perf_counter() - t0 < seconds:
            out.append(self.run_pass(tracer))
        return out


def _stop(spark) -> None:
    """Stop the session and wait for the Spark JVM to exit (it exits
    when its stdin closes), so no process outlives the run."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _metric(name, value, unit, note, report):
    report.append(f"metric {name} = {value!r} {unit} ({note})")
    return name, {"value": value, "unit": unit}


def end_to_end(setup_s, cold, warm, runner, report) -> dict:
    """The gated metrics, plus the diagnostics a run also prints: op
    latency percentiles (one pass has too few ops for a steady tail),
    for ingest the commit latency and storage amplification, and the
    warm passes ``--seconds`` asked for beyond the timed cold pass."""
    from stats import median, tail_percentile
    from workloads import COMMIT_OPS

    pass_s, lat = cold
    metrics = dict(
        [
            _metric("setup_s", setup_s, "s", "one cold start", report),
            _metric("pass_s", pass_s, "s", "the first pass after set-up", report),
        ]
    )
    op_times = list(lat.values())
    p90, q, n = tail_percentile(op_times)
    report.append(f"info op_s_p50 = {median(op_times)!r} s (median of {n} ops)")
    report.append(f"info op_s_p90 = {p90!r} s (p{q * 100:.0f} of {n} ops)")
    if runner.workload == "ingest":
        commits = [lat[o] for o in COMMIT_OPS if o in lat]
        report.append(f"info commit_s_p50 = {median(commits)!r} s (median of {len(commits)} commit ops)")
        report.append(f"info stored_bytes_per_user_byte = {runner.stored_ratios[0]!r} ratio (1 pass)")
    if warm:
        report.append(f"info warm_pass_s = {median([p for p, _ in warm])!r} s (median of {len(warm)})")
    for op in runner.ops:
        report.append(
            f"op {op.name} = {lat.get(op.name, float('nan'))!r} s "
            f"(check {runner.check_s.get(op.name, 0.0):.3f} s)"
        )
    return metrics


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path[:0] = [HERE, ROOT]
    try:
        import bigdatalab_spark  # noqa: F401 — the program under test
        import gen
        from workloads import WORKLOADS
    except ImportError as exc:
        print(f"perfbench: cannot import the engine: {exc}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    host = _host()
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(work)
    _pin_environment(work, host["cpus"])
    spark = None
    try:
        data_dir = os.path.join(work, "data")
        t0 = time.perf_counter()
        plan = gen.GENERATORS[args.workload](args.seed, data_dir)
        gen_s = time.perf_counter() - t0

        from bigdatalab_spark.session import get_session
        from bigdatalab_spark.sources.readers import load_table

        t_session = time.perf_counter()
        spark = get_session(
            app_name="perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            },
        )
        session_s = time.perf_counter() - t_session
        spark.sparkContext.setLogLevel("ERROR")
        first = sorted(f for f in os.listdir(data_dir) if f.endswith(".parquet"))[0]
        load_table(spark, data_dir, first[: -len(".parquet")]).count()  # the warm op
        setup_s = _process_age() - gen_s

        import tracing

        runner = Runner(spark, args.workload, data_dir, work, plan, _duckdb(args.workload, data_dir, host["cpus"]))
        tracer = tracing.Tracer(spark, args.workload, host["cpus"]) if args.trace else tracing.NULL
        with tracer.installed():
            cold = runner.run_pass(tracer, check=True)
        report = [
            f"run workload={args.workload} seed={args.seed} trace={args.trace} "
            f"cpus={host['cpus']} cpu_model={host['cpu_model']!r} loadavg_start={host['loadavg']}",
            f"info gen_s = {gen_s!r} s (input generation, not in setup_s)",
            f"info session_start_s = {session_s!r} s",
            f"info inputs = {json.dumps(plan)}",
        ]
        if runner.failed:
            metrics = {}
        elif args.trace:
            # tracing overhead: a warm untraced pass against a warm traced
            # one, after one more pass has finished warming the JVM
            runner.run_pass(tracing.NULL)
            untraced = runner.run_pass(tracing.NULL)
            with tracer.installed():
                traced = runner.run_pass(tracer)
            metrics = tracer.per_layer(cold, untraced, traced, session_s, runner, report)
        else:
            warm = runner.timed_passes(tracing.NULL, args.seconds - cold[0]) if args.seconds > cold[0] else []
            metrics = end_to_end(setup_s, cold, warm, runner, report)
        rss = _peak_rss_mb(os.getpid(), spark.sparkContext._gateway.proc.pid)
        if args.trace and metrics:
            metrics["session.peak_rss_mb"] = {"value": rss, "unit": "MB"}
        report.append(f"info peak_rss_mb = {rss!r} MB (Spark driver JVM + Python, VmHWM)")
        report.append(
            f"info failed_frac = {runner.failed / runner.attempted!r} ratio "
            f"({runner.failed}/{runner.attempted} ops)"
        )
        report.append(f"info loadavg_end = {os.getloadavg()}")
        for p in runner.problems:
            report.append(f"FAIL {p}")
            print(f"perfbench: FAIL {p}", file=sys.stderr)
        correct = runner.failed == 0
        print("\n".join(report))
        print(
            json.dumps(
                {
                    "correct": correct,
                    "attempted": runner.attempted,
                    "failed": runner.failed,
                    "metrics": metrics,
                }
            ),
            flush=True,
        )
        return 0 if correct else 1
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
