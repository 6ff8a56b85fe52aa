"""Traced passes: spans around the engine's public calls, Spark jobs
attributed to them, and the per-layer metrics read back from Spark's
own status stores.

Spans nest pass -> op -> phase (build, execute) -> wrapped public call.
Each span sets a Spark job group (``spark.jobGroup.id``, never the job
description, which ``sources/managed.py`` owns) so jobs map back to it;
a job submitted from a thread that did not inherit the group (the
``ThreadPoolExecutor`` in ``scale/dedup.py:_overlap_jobs``) is mapped
by its submission time to the deepest span open at that moment. Spans
stay in memory; the status stores are read after the traced passes, so
nothing is added to the timed region beyond setting the group.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import sys
import threading
import time
from collections import Counter
from dataclasses import dataclass, field

from stats import attribute_jobs, median, parse_sql_metric, self_time

GROUP = "spark.jobGroup.id"
MB = 1 << 20

#: public engine calls the traced run wraps: (module, attribute); a
#: ``Class.method`` attribute wraps the method on the class.
WRAPPED = (
    ("bigdatalab_spark.sources.readers", "load_table"),
    ("bigdatalab_spark.sources.managed", "ManagedTable.write"),
    ("bigdatalab_spark.sources.managed", "ManagedTable.append"),
    ("bigdatalab_spark.sources.managed", "ManagedTable.delete_range"),
    ("bigdatalab_spark.sources.managed", "ManagedTable.merge_into"),
    ("bigdatalab_spark.sources.managed", "ManagedTable.compact"),
    ("bigdatalab_spark.sources.managed", "ManagedTable.read"),
    ("bigdatalab_spark.streaming.jobs", "run_stream_to_memory"),
    ("bigdatalab_spark.streaming.jobs", "managed_merge_stream"),
    ("bigdatalab_spark.streaming.jobs", "managed_merge_batch"),
    ("bigdatalab_spark.scale.dedup", "exact_dedup_groups"),
    ("bigdatalab_spark.scale.dedup", "minhash_near_dups"),
    ("bigdatalab_spark.scale.dedup", "prefix_filter_jaccard_pairs"),
    ("bigdatalab_spark.scale.dedup", "save_dedup_index"),
    ("bigdatalab_spark.scale.dedup", "append_to_dedup_index"),
    ("bigdatalab_spark.scale.dedup", "incremental_dedup_from_index"),
    ("bigdatalab_spark.scale.similarity", "semantic_dedup"),
    ("bigdatalab_spark.scale.similarity", "brute_force_topk"),
)

#: wrapped calls each workload must reach at least once per traced run;
#: zero calls means the wrapper missed a binding, not that the op is fast
MUST_CALL = {
    "curation": (
        "load_table", "exact_dedup_groups", "minhash_near_dups",
        "prefix_filter_jaccard_pairs", "semantic_dedup", "brute_force_topk",
    ),
    "ingest": (
        "load_table", "ManagedTable.write", "ManagedTable.append",
        "ManagedTable.delete_range", "ManagedTable.merge_into",
        "ManagedTable.compact", "ManagedTable.read", "run_stream_to_memory",
        "managed_merge_stream", "managed_merge_batch", "save_dedup_index",
        "append_to_dedup_index", "incremental_dedup_from_index",
    ),
}

DURABLE_WRITES = (
    "ManagedTable.write", "ManagedTable.append", "ManagedTable.delete_range",
    "ManagedTable.merge_into", "ManagedTable.compact", "save_dedup_index",
    "append_to_dedup_index",
)
MANAGED_WRITES = DURABLE_WRITES[:5]
LOADS = ("load_table", "ManagedTable.read")
#: calls whose result is a set of verified near-duplicate pairs
PAIR_CALLS = ("minhash_near_dups", "prefix_filter_jaccard_pairs")


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    kind: str  # pass | op | phase | call
    depth: int
    t0: float = 0.0
    t1: float = 0.0
    children: list = field(default_factory=list)

    @property
    def group(self) -> str:
        return f"perfbench-{self.id}"


class NullTracer:
    """Stands in for the tracer in untraced passes: spans cost nothing."""

    def span(self, name: str, kind: str):
        return contextlib.nullcontext()

    def installed(self):
        return contextlib.nullcontext()


NULL = NullTracer()


class Tracer:
    def __init__(self, spark, workload: str, cpus: int):
        self.spark = spark
        self.sc = spark.sparkContext
        self.workload = workload
        self.cpus = cpus
        self.spans: list[Span] = []
        self.calls: Counter = Counter()
        self.progress: list[dict] = []
        self._lock = threading.Lock()
        self._main = threading.current_thread()
        self._main_stack: list[Span] = []
        self._local = threading.local()

    # ---- spans -------------------------------------------------------------

    def _stack(self) -> list[Span]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, kind: str):
        stack = self._stack()
        # a span opened on an engine callback thread (foreachBatch)
        # hangs under whatever the main thread is running
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            sp = Span(
                len(self.spans), parent.id if parent else None, name, kind,
                parent.depth + 1 if parent else 0,
            )
            self.spans.append(sp)
            if parent:
                parent.children.append(sp.id)
        prev = self.sc.getLocalProperty(GROUP)
        self.sc.setLocalProperty(GROUP, sp.group)
        stack.append(sp)
        sp.t0 = time.time()
        try:
            yield sp
        finally:
            sp.t1 = time.time()
            stack.pop()
            self.sc.setLocalProperty(GROUP, prev)

    # ---- wrapping public calls --------------------------------------------

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer._lock:
                tracer.calls[name] += 1
            with tracer.span(name, "call"):
                return fn(*args, **kwargs)

        return wrapper

    @contextlib.contextmanager
    def installed(self):
        """Wrap every public call in WRAPPED for the duration, and
        listen to streaming progress. Functions are re-bound in EVERY
        engine module that imported them by name (``from ... import
        load_table``), not just where they are defined — patching only
        the defining module would silently record nothing."""
        import importlib

        from pyspark.sql.streaming import StreamingQueryListener

        undo = []
        for mod_name, attr in WRAPPED:
            mod = importlib.import_module(mod_name)
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                orig = cls.__dict__[meth]
                setattr(cls, meth, self._wrap(attr, orig))
                undo.append((cls, meth, orig))
                continue
            orig = getattr(mod, attr)
            wrapper = self._wrap(attr, orig)
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith(("bigdatalab_spark", "workloads")):
                    for k, v in list(vars(m).items()):
                        if v is orig:
                            setattr(m, k, wrapper)
                            undo.append((m, k, orig))

        tracer = self

        class _Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                tracer.progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        listener = _Progress()
        self.spark.streams.addListener(listener)
        try:
            yield self
        finally:
            self.spark.streams.removeListener(listener)
            for obj, k, orig in reversed(undo):
                setattr(obj, k, orig)

    # ---- reading the status stores -----------------------------------------

    def _jobs(self, lo: float, hi: float) -> list[dict]:
        """Jobs submitted in [lo, hi] (epoch seconds), with their stages."""
        store = self.sc._jsc.sc().statusStore()
        out = []
        it = store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            sub = j.submissionTime()
            if not sub.isDefined():
                continue
            t = sub.get().getTime() / 1000
            if not lo <= t <= hi:
                continue
            grp = j.jobGroup()
            stages = []
            sit = j.stageIds().iterator()
            while sit.hasNext():
                stages.append(self._stage(store, sit.next()))
            out.append(
                {
                    "id": j.jobId(),
                    "group": grp.get() if grp.isDefined() else None,
                    "submitted": t,
                    "stages": [s for s in stages if s is not None],
                }
            )
        return out

    @staticmethod
    def _stage(store, stage_id: int) -> dict | None:
        try:
            s = store.lastStageAttempt(stage_id)
        except Exception:  # noqa: BLE001 — evicted from the store
            return None
        if s.status().toString() not in ("COMPLETE", "FAILED"):
            return None  # skipped: its output was reused, nothing ran
        run = []
        tit = store.taskList(stage_id, s.attemptId(), 100_000).iterator()
        while tit.hasNext():
            tm = tit.next().taskMetrics()
            if tm.isDefined():
                run.append(tm.get().executorRunTime())
        return {
            "id": stage_id,
            "tasks": s.numCompleteTasks(),
            "failed_tasks": s.numFailedTasks(),
            "run_s": s.executorRunTime() / 1e3,
            "cpu_s": s.executorCpuTime() / 1e9,
            "gc_s": s.jvmGcTime() / 1e3,
            "input_b": s.inputBytes(),
            "shuffle_read_b": s.shuffleReadBytes(),
            "shuffle_write_b": s.shuffleWriteBytes(),
            "spill_b": s.diskBytesSpilled(),
            "task_run_ms": run,
        }

    def _executions(self, lo: float, hi: float) -> list[dict]:
        """SQL executions submitted in [lo, hi] with the metrics the
        layers use, summed over the plan's nodes."""
        sq = self.spark._jsparkSession.sharedState().statusStore()
        out = []
        it = sq.executionsList().iterator()
        while it.hasNext():
            e = it.next()
            t = e.submissionTime() / 1000
            if not lo <= t <= hi:
                continue
            eid = e.executionId()
            vals = sq.executionMetrics(eid)
            m = Counter()
            pair_aggs = {}
            nit = sq.planGraph(eid).allNodes().iterator()
            while nit.hasNext():
                node = nit.next()
                name, desc = node.name(), node.desc()
                mit = node.metrics().iterator()
                while mit.hasNext():
                    metric = mit.next()
                    v = vals.get(metric.accumulatorId())
                    value = parse_sql_metric(v.get() if v.isDefined() else None)
                    key = metric.name()
                    if key == "scan time" and name.startswith("Scan"):
                        m["scan_s"] += value
                    elif key == "time to run Python workers":
                        m["python_s"] += value
                    elif key == "number of written files":
                        m["files_written"] += value
                    elif key == "written output":
                        m["bytes_written"] += value
                    elif (
                        key == "number of output rows"
                        and name == "HashAggregate"
                        and _is_pair_distinct(desc)
                        and desc not in pair_aggs  # final, not its partial
                    ):
                        pair_aggs[desc] = value
            m["candidate_pairs"] = sum(pair_aggs.values())
            jobs = [int(k) for k in _keys(e.jobs())]
            out.append({"id": eid, "submitted": t, "jobs": jobs, "m": m})
        return out

    # ---- per-layer metrics ---------------------------------------------------

    def _ancestor(self, sid: int, kinds: tuple[str, ...]) -> Span | None:
        sp = self.spans[sid]
        while sp is not None:
            if sp.kind in kinds:
                return sp
            sp = self.spans[sp.parent] if sp.parent is not None else None
        return None

    def _outermost_calls(self, names, within: Span) -> list[Span]:
        out, todo = [], list(within.children)
        while todo:
            sp = self.spans[todo.pop()]
            if sp.kind == "call" and sp.name in names:
                out.append(sp)
            else:
                todo.extend(sp.children)
        return out

    def _pass_metrics(self, pass_span: Span, pair_rows: dict) -> tuple[dict, dict]:
        # the store keeps submission times in whole milliseconds
        lo, hi = pass_span.t0 - 0.002, pass_span.t1 + 0.002
        jobs = self._jobs(lo, hi)
        execs = self._executions(lo, hi)
        inside = [self.spans[i] for i in range(pass_span.id, len(self.spans))
                  if self._ancestor(i, ("pass",)) is pass_span]
        owner, lost = attribute_jobs(
            ((j["id"], j["group"], j["submitted"]) for j in jobs),
            ((s.id, s.group, s.t0, s.t1, s.depth) for s in inside),
        )
        groups = {s.group for s in inside}
        grouped = sum(1 for j in jobs if j["group"] in groups)
        ops = [self.spans[i] for i in pass_span.children]
        op_of = {}
        for j in jobs:
            if j["id"] in owner:
                op_of[j["id"]] = self._ancestor(owner[j["id"]], ("op",))
        build_jobs = sum(
            1 for jid, sid in owner.items()
            if (ph := self._ancestor(sid, ("phase",))) is not None and ph.name == "build"
        )
        managed_jobs = sum(
            1 for jid, sid in owner.items()
            if self._ancestor_call(sid, MANAGED_WRITES)
        )
        stages = [s for j in jobs for s in j["stages"]]
        run_s = sum(s["run_s"] for s in stages)
        cpu_s = sum(s["cpu_s"] for s in stages)
        op_wall = sum(o.t1 - o.t0 for o in ops)

        def phase_total(name):
            return sum(
                self.spans[c].t1 - self.spans[c].t0
                for o in ops for c in o.children if self.spans[c].name == name
            )

        skews = []
        for o in ops:
            mine = [s for j in jobs if op_of.get(j["id"]) is o for s in j["stages"]]
            longest = max(mine, key=lambda s: s["run_s"], default=None)
            if longest and len(longest["task_run_ms"]) > 1:
                med = median(longest["task_run_ms"])
                skews.append(max(longest["task_run_ms"]) / med if med > 0 else 1.0)
        job_span = {j["id"]: owner.get(j["id"]) for j in jobs}
        managed_execs = [
            e for e in execs
            if any(job_span.get(jid) is not None and self._ancestor_call(job_span[jid], MANAGED_WRITES)
                   for jid in e["jobs"])
        ]
        pair_ops = {
            o.name for o in ops if self._outermost_calls(PAIR_CALLS, o)
        }
        pair_execs = [
            e for e in execs
            if any(op_of.get(jid) is not None and op_of[jid].name in pair_ops for jid in e["jobs"])
        ]
        candidates = sum(e["m"]["candidate_pairs"] for e in pair_execs)
        pairs_out = sum(pair_rows.get(n, 0) for n in pair_ops)
        scan_stages = [s["tasks"] for s in stages if s["input_b"] > 0]
        progress = [
            p for p in self.progress
            if lo <= _epoch(p["timestamp"]) <= hi
        ]
        last = {}
        for p in progress:
            last[p["id"]] = p
        trig = [p["durationMs"].get("triggerExecution", 0) / 1e3 for p in progress]
        rows_in = sum(p.get("numInputRows", 0) for p in progress)
        sum_ex = Counter()
        for e in execs:
            sum_ex.update(e["m"])
        m = {
            "queries.build_s": (phase_total("build"), "s"),
            "queries.build_jobs": (build_jobs, "count"),
            "queries.exec_s": (phase_total("execute"), "s"),
            "queries.jobs": (len(jobs), "count"),
            "queries.stages": (len(stages), "count"),
            "queries.tasks": (sum(s["tasks"] for s in stages), "count"),
            "queries.failed_tasks": (sum(s["failed_tasks"] for s in stages), "count"),
            "queries.run_s": (run_s, "s"),
            "queries.cpu_s": (cpu_s, "s"),
            "queries.gc_s": (sum(s["gc_s"] for s in stages), "s"),
            "queries.core_util": (run_s / (op_wall * self.cpus) if op_wall else 0.0, "ratio"),
            "queries.cpu_per_run": (cpu_s / run_s if run_s else 0.0, "ratio"),
            "sources.load_s": (
                sum(s.t1 - s.t0 for o in ops for s in self._outermost_calls(LOADS, o)), "s"
            ),
            "sources.scan_s": (sum_ex["scan_s"], "s"),
            "sources.input_mb": (sum(s["input_b"] for s in stages) / MB, "MB"),
            "sources.scan_tasks_per_stage": (median(scan_stages) if scan_stages else 0.0, "count"),
            "sources.managed.commit_jobs": (managed_jobs, "count"),
            "sources.managed.files_written": (
                sum(e["m"]["files_written"] for e in managed_execs), "count"
            ),
            "sources.managed.bytes_written_mb": (
                sum(e["m"]["bytes_written"] for e in managed_execs) / MB, "MB"
            ),
            "operators.shuffle_write_mb": (sum(s["shuffle_write_b"] for s in stages) / MB, "MB"),
            "operators.shuffle_read_mb": (sum(s["shuffle_read_b"] for s in stages) / MB, "MB"),
            "operators.spill_mb": (sum(s["spill_b"] for s in stages) / MB, "MB"),
            "operators.task_skew": (max(skews, default=0.0), "ratio"),
            "functions.python_s": (sum_ex["python_s"], "s"),
            "scale.dedup.candidate_pairs": (candidates, "count"),
            "scale.dedup.pairs_out": (pairs_out, "count"),
            "scale.dedup.verify_yield": (pairs_out / candidates if candidates else 0.0, "ratio"),
            "streaming.batches": (len(progress), "count"),
            "streaming.rows_per_s": (rows_in / sum(trig) if sum(trig) else 0.0, "1/s"),
            "streaming.state_rows": (
                sum(op.get("numRowsTotal", 0) for p in last.values() for op in p["stateOperators"]),
                "count",
            ),
            "streaming.state_mb": (
                sum(op.get("memoryUsedBytes", 0) for p in last.values() for op in p["stateOperators"]) / MB,
                "MB",
            ),
            "streaming.commit_s": (
                sum(
                    (p["durationMs"].get("walCommit", 0) + p["durationMs"].get("commitOffsets", 0)) / 1e3
                    for p in progress
                ),
                "s",
            ),
            "trace.unattributed_jobs": (len(lost), "count"),
            "trace.jobs_by_time": (len(owner) - grouped, "count"),
        }
        samples = {
            "commit_s": [s.t1 - s.t0 for o in ops for s in self._outermost_calls(DURABLE_WRITES, o)],
            "batch_s": trig,
            "op_spans_s": op_wall,
        }
        return m, samples

    def _ancestor_call(self, sid: int, names) -> bool:
        sp = self.spans[sid]
        while sp is not None:
            if sp.kind == "call" and sp.name in names:
                return True
            sp = self.spans[sp.parent] if sp.parent is not None else None
        return False

    def per_layer(self, cold, untraced, traced, session_s: float, runner, report) -> dict:
        """Per-layer metrics of the traced cold pass, the tracing
        overhead (warm traced minus warm untraced pass), and the
        coverage guard. Writes the spans to ``.bench_work/traces/``.
        ``cold``, ``untraced`` and ``traced`` are (pass seconds,
        {op: seconds})."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        cold_span = next(s for s in self.spans if s.kind == "pass")
        m, samples = self._pass_metrics(cold_span, runner.result_rows)
        out = {"session.start_s": (session_s, "s")}
        out.update(m)
        extra = {
            "sources.managed.commit_s_p50": (
                median(samples["commit_s"]) if samples["commit_s"] else 0.0, "s",
                f"median of {len(samples['commit_s'])} durable-write calls",
            ),
            "sources.managed.stored_bytes_per_user_byte": (
                runner.stored_ratios[0] if runner.stored_ratios else 0.0, "ratio", "1 pass",
            ),
            "streaming.batch_s_p50": (
                median(samples["batch_s"]) if samples["batch_s"] else 0.0, "s",
                f"median of {len(samples['batch_s'])} micro-batches",
            ),
            "trace.pass_s": (cold[0], "s", "the traced first pass"),
            "trace.overhead_s": (
                traced[0] - untraced[0], "s", "warm traced minus warm untraced pass",
            ),
            "trace.op_span_gap_s": (
                cold[0] - samples["op_spans_s"], "s",
                "traced pass_s minus the sum of its op spans",
            ),
        }
        for name, (v, unit, note) in extra.items():
            out[name] = (v, unit)
            report.append(f"metric {name} = {v!r} {unit} ({note})")
        for name, (v, unit) in out.items():
            if name not in extra:
                report.append(f"metric {name} = {v!r} {unit} (traced first pass)")
        missing = [n for n in MUST_CALL[self.workload] if self.calls[n] == 0]
        if missing:
            runner.fail("trace coverage", [f"no calls recorded for {missing}"])
        report.append("info wrapped calls " + json.dumps(dict(sorted(self.calls.items()))))
        self._write_spans(runner, report)
        return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}

    def _write_spans(self, runner, report) -> None:
        root = os.path.join(os.path.dirname(runner.work), "traces")
        os.makedirs(root, exist_ok=True)
        path = os.path.join(root, os.path.basename(runner.work) + ".json")
        rows = [
            {
                "id": s.id, "parent": s.parent, "name": s.name, "kind": s.kind,
                "start": s.t0, "end": s.t1,
                "self_s": self_time((s.t0, s.t1), [(self.spans[c].t0, self.spans[c].t1) for c in s.children]),
            }
            for s in self.spans
        ]
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(rows, fh)
        report.append(f"info spans written to {os.path.relpath(path)}")


def _is_pair_distinct(desc: str) -> bool:
    """A DISTINCT over exactly two id columns: the candidate-pair set
    every near-duplicate pipeline builds before verification."""
    head = "HashAggregate(keys=["
    if not desc.startswith(head) or not desc.endswith("functions=[])"):
        return False
    keys = desc[len(head):].split("]", 1)[0].split(", ")
    return len(keys) == 2


def _keys(jmap):
    it = jmap.keySet().iterator()
    while it.hasNext():
        yield it.next()


def _epoch(iso: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()
