"""Measure ManagedTable's COMMIT metadata cost against live file count.

sources/managed.py's manifest plane claims commit metadata cost is
proportional to the files a commit TOUCHES, never to the table's live
file count: each commit composes its child ``_manifest`` from the
parent's rows + its own delta, and planning (file lists, candidate
sets, history sizes) reads the manifest instead of walking the
version directory. Before the manifest, every commit os.walked the
snapshot and re-stat'ed every file — O(live-file-count) driver inode
work per commit, the scaling wall at ~10⁶ files/version.

This tool pins the claim by growing the live FILE COUNT (the rows per
file stay fixed and small, so the data plane is constant) while
holding the DML delta fixed:

- ``delete``: delete_range touching ~1 file, at 8 / 80 / 800 live
  files — wall time should stay ~flat (the link loop is µs-scale
  syscalls; the former walk+stat was the driver-side cost).
- ``append``: a fixed 1-file append against the same grid — composes
  the manifest from the parent's rows, stats only the new file.
- ``plan_ms``: time to produce the latest version's file list
  (manifest read) — metadata-sized at every N.

Round 11 adds the REFERENCE data plane (link_mode='reference'): the
same grid runs with manifest-pointer carries (zero per-file syscalls
per commit) and additionally times the OPTIMISTIC commit critical
section — the claim is that with references the section does only
O(delta) work, so its wall time is flat while live files grow 100x.

Usage: python -m tools.manifest_bench [--grid=8,80,800]
       [--rows-per-file=50] [--modes=hardlink,reference]
Output: one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time


def main() -> int:
    from pyspark.sql import functions as F

    from bigdatalab_spark.session import get_session
    from bigdatalab_spark.sources.managed import ManagedTable, _data_files
    from bigdatalab_spark.sources.versioned import _resolved_rows

    grid = [8, 80, 800]
    rows_per_file = 50
    modes = ["hardlink", "reference"]
    for arg in sys.argv[1:]:
        if arg.startswith("--grid="):
            grid = [int(x) for x in arg.split("=", 1)[1].split(",")]
        elif arg.startswith("--rows-per-file="):
            rows_per_file = int(arg.split("=", 1)[1])
        elif arg.startswith("--modes="):
            modes = arg.split("=", 1)[1].split(",")

    spark = get_session(app_name="manifest-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # time the optimistic commit critical section from the inside
    import contextlib

    orig_section = ManagedTable._commit_section
    section_secs: list[float] = []

    @contextlib.contextmanager
    def timed_section(self, what, timeout=None):
        t0 = time.perf_counter()
        with orig_section(self, what, timeout):
            yield
        section_secs.append(time.perf_counter() - t0)

    ManagedTable._commit_section = timed_section

    scratch = tempfile.mkdtemp(prefix="manifest_bench_")
    results = {}
    try:
      for mode in modes:
        results[mode] = {}
        for n_files in grid:
            root = os.path.join(scratch, f"t_{mode}_{n_files}")
            t = ManagedTable(
                spark, root, index_cols=("k",), link_mode=mode
            )
            n_rows = n_files * rows_per_file
            base = (
                spark.range(n_rows)
                .select(
                    F.col("id").alias("k"),
                    (F.col("id") * 2.0).alias("score"),
                )
                .repartitionByRange(n_files, "k")
                .sortWithinPartitions("k")
            )
            t.write(base)
            live = len(_data_files(os.path.join(root, "v=1")))

            t0 = time.perf_counter()
            t.delete_range("k", 0, rows_per_file // 2)
            delete_sec = time.perf_counter() - t0
            prev = os.path.join(root, "v=1")
            prev_inodes = {
                os.stat(os.path.join(prev, f)).st_ino
                for f in _data_files(prev)
            }
            # resolve through the manifest homes: under the reference
            # plane carried files live in their ORIGINAL version dirs
            fresh = [
                r["file"]
                for r in _resolved_rows(root, t.latest())
                if os.stat(r["abs"]).st_ino not in prev_inodes
            ]

            one = (
                spark.range(n_rows, n_rows + rows_per_file)
                .select(
                    F.col("id").alias("k"),
                    (F.col("id") * 2.0).alias("score"),
                )
                .coalesce(1)
            )
            t1 = time.perf_counter()
            t.append(one)
            append_sec = time.perf_counter() - t1

            t2 = time.perf_counter()
            files = _data_files(os.path.join(root, f"v={t.latest()}"))
            plan_ms = (time.perf_counter() - t2) * 1000

            # optimistic delete: the critical section should be
            # O(delta) — with references, zero per-file syscalls
            topt = ManagedTable(
                spark, root, index_cols=("k",),
                concurrency="optimistic", link_mode=mode,
            )
            section_secs.clear()
            topt.delete_range(
                "k", rows_per_file, rows_per_file + rows_per_file // 2
            )
            commit_section_sec = sum(section_secs)

            # retention vacuum: protect-set computation (one manifest
            # column per retained version) + demote/delete — must be
            # metadata-sized, flat while live files grow 100x
            t3 = time.perf_counter()
            removed = topt.vacuum(keep_last=1)
            vacuum_sec = time.perf_counter() - t3

            results[mode][str(n_files)] = {
                "live_files": live,
                "delete_sec": round(delete_sec, 3),
                "files_rewritten": len(fresh),
                "append_sec": round(append_sec, 3),
                "plan_ms": round(plan_ms, 2),
                "planned_files": len(files),
                "optimistic_commit_section_sec": round(
                    commit_section_sec, 4
                ),
                "vacuum_sec": round(vacuum_sec, 3),
                "vacuum_removed": len(removed),
            }
    finally:
        ManagedTable._commit_section = orig_section
        shutil.rmtree(scratch, ignore_errors=True)

    lo, hi = str(grid[0]), str(grid[-1])
    summary = {"metric": "managed_commit_vs_live_file_count"}
    for mode in modes:
        r = results[mode]
        summary[mode] = {
            "grid": r,
            "delete_ratio_hi_over_lo": round(
                r[hi]["delete_sec"] / r[lo]["delete_sec"], 2
            ),
            "append_ratio_hi_over_lo": round(
                r[hi]["append_sec"] / r[lo]["append_sec"], 2
            ),
            "commit_section_ratio_hi_over_lo": round(
                r[hi]["optimistic_commit_section_sec"]
                / max(r[lo]["optimistic_commit_section_sec"], 1e-9),
                2,
            ),
            "file_count_ratio": round(
                r[hi]["live_files"] / r[lo]["live_files"], 1
            ),
        }
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
