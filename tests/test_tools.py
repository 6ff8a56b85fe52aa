"""Smoke gates for the measurement tools.

The scale ledger's numbers come from tools/ (pipeline_bench,
variant_bench, ann_serve_bench); a tool that silently rots between
rounds poisons the next round's measurements. Each smoke runs the tool
in-process at sf0.001 and asserts the output contract (keys present,
counts consistent), not timings.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

# every test here shells out a fresh Spark process per tool run —
# 940 s of the full suite's 54 min; smoke-gates the measurement
# tools, not the engine, so it lives in the slow tier
pytestmark = pytest.mark.slow

ROOT = Path(__file__).resolve().parent.parent
SF = "/root/testdata/sf0.001"


def _run_tool(module: str, *args: str) -> dict:
    proc = subprocess.run(
        [sys.executable, "-m", module, *args],
        cwd=str(ROOT),
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_pipeline_bench_smoke(tmp_path):
    out = _run_tool("tools.pipeline_bench", SF)
    assert set(out["stages"]) == {
        "scan",
        "exact_dedup",
        "lsh_pairs",
        "connected_components",
        "quality_filter",
        "split_agg",
    }
    assert out["rows"]["scan"] > 0
    # stage row counts must be internally consistent: dedup keeps <= scan,
    # CC assigns every keeper a cluster
    assert out["rows"]["exact_dedup"] <= out["rows"]["scan"]
    assert out["rows"]["connected_components"] == out["rows"]["exact_dedup"]
    assert sum(n for n, _t in out["splits"].values()) == out["rows"]["quality_filter"]


def test_variant_bench_smoke(tmp_path):
    out = _run_tool("tools.variant_bench", SF, str(tmp_path / "vb"))
    assert out["n_rows"] > 0
    assert out["results_match"] is True  # A/B timing is meaningless otherwise
    for k in (
        "ingest_string_sec",
        "ingest_variant_sec",
        "query_string_reparse_sec",
        "query_variant_extract_sec",
    ):
        assert out[k] > 0


def test_ann_serve_bench_rejects_unknown_family():
    proc = subprocess.run(
        [sys.executable, "-m", "tools.ann_serve_bench", SF, "5", "nope"],
        cwd=str(ROOT),
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode != 0
    assert "nope" in (proc.stderr + proc.stdout)


def test_bench_compare_normalizes_by_sentinel(tmp_path):
    """bench_compare must (a) divide out the sentinel ratio, (b) flag
    only normalized regressions, (c) accept both raw bench lines and
    the driver's {parsed: ...} wrapper, (d) report added/removed."""
    old = {
        "metric": "headline_queries_total", "value": 10.0, "unit": "sec",
        "queries": {"q_a": 1.0, "q_b": 2.0, "q_gone": 1.0}, "sf": "0.1",
        "env": {"sentinel_nation_count_sec": 0.10},
    }
    # machine 1.5x slower (sentinel 0.15): q_a's 1.5 s is pure
    # environment (normalized 1.0); q_b's 4.5 s is a real 1.5x
    # regression on top of it
    new = {
        "parsed": {
            "metric": "headline_queries_total", "value": 12.0, "unit": "sec",
            "queries": {"q_a": 1.5, "q_b": 4.5, "q_new": 0.5}, "sf": "0.1",
            "env": {"sentinel_nation_count_sec": 0.15},
        }
    }
    a, b = tmp_path / "a.json", tmp_path / "b.json"
    a.write_text(json.dumps(old))
    b.write_text(json.dumps(new))
    proc = subprocess.run(
        [sys.executable, "-m", "tools.bench_compare", str(a), str(b)],
        cwd=str(ROOT), capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 1, proc.stderr  # exactly one regression
    out = json.loads(proc.stdout.strip())
    assert out["env_ratio"] == 1.5
    assert out["queries"]["q_a"]["normalized_ratio"] == 1.0
    assert out["queries"]["q_b"]["normalized_ratio"] == 1.5
    assert out["regressions"] == ["q_b"]
    assert out["added"] == ["q_new"] and out["removed"] == ["q_gone"]

    # threshold override clears the flag -> exit 0
    proc2 = subprocess.run(
        [sys.executable, "-m", "tools.bench_compare", str(a), str(b),
         "--threshold=1.6"],
        cwd=str(ROOT), capture_output=True, text=True, timeout=120,
    )
    assert proc2.returncode == 0


def test_bench_compare_legacy_subtotal(tmp_path):
    """The legacy (query-engine-only) subtotal must exclude lifecycle
    anchors declared by EITHER side (plus the default set covering
    pre-field artifacts) and report raw + sentinel-normalized ratios —
    the one-number 2x-budget check."""
    old = {
        "value": 11.0,
        "queries": {"q_a": 2.0, "q_b": 3.0, "managed_table_dml_read": 6.0},
        "sf": "0.1",
        "env": {"sentinel_nation_count_sec": 0.10},
    }
    new = {
        "value": 12.5,
        "queries": {"q_a": 2.0, "q_b": 3.0, "managed_table_dml_read": 6.5,
                    "life_x": 1.0},
        "lifecycle_queries": ["managed_table_dml_read", "life_x"],
        "sf": "0.1",
        "env": {"sentinel_nation_count_sec": 0.10},
    }
    a, b = tmp_path / "a.json", tmp_path / "b.json"
    a.write_text(json.dumps(old))
    b.write_text(json.dumps(new))
    proc = subprocess.run(
        [sys.executable, "-m", "tools.bench_compare", str(a), str(b)],
        cwd=str(ROOT), capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    out = json.loads(proc.stdout.strip())
    legacy = out["legacy_subtotal"]
    assert set(legacy["lifecycle_queries"]) == {
        "managed_table_dml_read", "life_x"
    }
    assert legacy["old"] == 5.0 and legacy["new"] == 5.0
    assert legacy["raw_ratio"] == 1.0
    assert legacy["normalized_ratio"] == 1.0


def test_dedup_serve_bench_smoke():
    out = _run_tool("tools.dedup_serve_bench", SF, "50")
    assert out["n_corpus"] > 0 and out["n_batch"] == 50
    for k in ("self_contained_sec", "index_build_sec", "serve_sec"):
        assert out[k] > 0
    assert out["serve_speedup_vs_self_contained"] > 0


def test_fuzz_oracle_generator_is_deterministic():
    from tools.fuzz_oracle import generate_query

    qs = [generate_query(s) for s in range(50)]
    assert qs == [generate_query(s) for s in range(50)]  # seed-stable
    assert len(set(qs)) > 25  # the grammar actually varies
    # every LIMIT is governed by a total order on the key (the one
    # shape where cross-engine equality needs it)
    for q in qs:
        if "LIMIT" in q:
            assert "ORDER BY" in q
    # no order-dependent float accumulation ever generated
    for q in qs:
        assert "sum(" not in q or "AS BIGINT" in q
        assert "round(" not in q.lower()


def test_fuzz_oracle_differential_smoke():
    """25 seeds, driver-strict comparison, at sf0.001 — the pytest gate
    for the randomized differential harness; the tool itself runs
    unbounded seed ranges."""
    proc = subprocess.run(
        [sys.executable, "-m", "tools.fuzz_oracle", SF, "--seeds=25"],
        cwd=str(ROOT), capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["n_pass"] == 25 and out["failed_seeds"] == []


def test_zorder_bench_smoke():
    out = _run_tool("tools.zorder_bench", SF, "4")
    assert set(out["layouts"]) == {"zorder", "linear", "unsorted"}
    for name, st in out["layouts"].items():
        for p in ("x_only", "y_only", "both"):
            assert 0 < st[p]["scanned_bytes_ratio"] <= 1.0
    # identical predicate results across layouts (layout is I/O only)
    ms = {st["n_match"] for st in out["layouts"].values()}
    assert len(ms) == 1
    # unsorted prunes nothing; zorder must beat it on the 2-D predicate
    assert out["layouts"]["unsorted"]["worst_ratio"] == 1.0


def test_ann_recall_bench_smoke():
    out = _run_tool("tools.ann_recall_bench", SF, "5", "3", "quick")
    assert out["k"] == 3 and out["n_queries"] == 5
    assert set(out["grid"]) == {
        f"probe{p}_rerank{r}" for p in (1, 2) for r in (0, 20)
    }
    for v in out["grid"].values():
        assert 0.0 <= v["recall"] <= 1.0 and v["serve_sec"] > 0
    # rerank can only help at fixed n_probe (exact re-scoring of a
    # superset shortlist) — allow equality, forbid degradation
    for p in (1, 2):
        r0 = out["grid"][f"probe{p}_rerank0"]["recall"]
        r20 = out["grid"][f"probe{p}_rerank20"]["recall"]
        assert r20 >= r0


def test_forget_bench_smoke():
    out = _run_tool("tools.forget_bench", SF, "50", "200")
    assert out["n_corpus"] > 0 and out["n_tombstoned"] == 50
    assert out["n_purged"] == 50
    for k in (
        "index_build_sec",
        "serve_pre_sec",
        "remove_sec",
        "serve_logical_sec",
        "purge_sec",
        "serve_purged_sec",
    ):
        assert out[k] > 0


def test_spill_bench_smoke():
    # small enough to run fast; the contract is keys + matching answers
    # (the 30M-row SCALE_NOTES run is where the spill itself is proven)
    out = _run_tool("tools.spill_bench", "500000", "1500m", "16")
    assert out["answers_match"] is True
    assert out["tight"]["partitions"] == 2
    assert out["sized"]["partitions"] == 16
    for run in (out["tight"], out["sized"]):
        assert run["elapsed_sec"] > 0
        assert run["disk_spill_mb"] >= 0
    assert out["tight"]["first_row"] == out["sized"]["first_row"]


def test_state_bench_smoke():
    out = _run_tool("tools.state_bench", SF)
    assert out["n_input_rows"] == 1000
    for regime in ("user_counts", "user_day", "event_dedup"):
        r = out[regime]
        assert r["exact"] is True
        assert r["n_state_rows"] > 0
        assert r["state_read_sec"] > 0
    # dedup state is one row per distinct input row
    assert out["event_dedup"]["n_state_rows"] == 1000
    # change feed: one insert mutation per distinct id
    cf = out["dedup_change_feed"]
    assert cf["exact"] is True and cf["n_change_rows"] == 1000


def test_quantile_bench_smoke():
    out = _run_tool("tools.quantile_bench", SF)
    assert out["metric"] == "quantile_hist_bench"
    assert out["raw_rows"] == 1000
    assert 0 < out["hist_rows"] <= out["raw_rows"]
    # the two estimators must stay within one bin's relative width
    assert out["max_rel_diff_vs_approx"] <= 1.0 / 16 + 0.01
    for k in ("build_s", "serve_s", "rescan_s"):
        assert out[k] >= 0


def test_skipping_bench_smoke():
    out = _run_tool("tools.skipping_bench", SF, "--files=8")
    assert out["metric"] == "skipping_bench"
    assert out["files_read"] <= out["files_total"] == 8
    assert out["matched_rows"] > 0


def test_cogroup_bench_smoke():
    out = _run_tool("tools.cogroup_bench", SF)
    assert out["metric"] == "cogroup_bench"
    assert out["purchases"] > 0
    assert out["join_s"] is not None  # all three formulations agreed


def test_bench_self_adjudication_unit(tmp_path):
    """bench.py._adjudicate stamps polluted-ness from its own env block
    and embeds the sentinel-normalized comparison against the latest
    BENCH_r{N}.json — so the committed artifact carries its own verdict
    and nobody re-litigates raw seconds by hand."""
    sys.path.insert(0, str(ROOT))
    try:
        from bench import _adjudicate
    finally:
        sys.path.pop(0)

    prev = {
        "parsed": {
            "metric": "headline_queries_total",
            "value": 10.0,
            "queries": {"q1": 4.0, "q2": 6.0},
            "sf": "0.1",
            "env": {"sentinel_nation_count_sec": 0.10},
        }
    }
    (tmp_path / "BENCH_r03.json").write_text(json.dumps(prev))
    # an older round must NOT be picked
    (tmp_path / "BENCH_r02.json").write_text("not json")

    # clean run, machine 2x slower (sentinel 0.20 -> flagged polluted,
    # but the NORMALIZED ratios come out flat: raw 2x / env 2x = 1.0)
    res = {
        "value": 20.0,
        "queries": {"q1": 8.0, "q2": 12.0},
        "sf": "0.1",
        "env": {
            "loadavg_start": [0.2],
            "sentinel_nation_count_sec": 0.20,
        },
    }
    adj = _adjudicate(res, str(tmp_path))
    assert adj["polluted"] is True  # sentinel over 0.11
    assert adj["vs_prev"]["artifact"] == "BENCH_r03.json"
    assert adj["vs_prev"]["env_ratio"] == 2.0
    assert adj["vs_prev"]["new_total_normalized"] == 10.0
    assert adj["vs_prev"]["normalized_ratios"] == {"q1": 1.0, "q2": 1.0}
    assert adj["vs_prev"]["regressions"] == []

    # solo run, same machine speed, q2 genuinely 2x slower -> regression
    res2 = {
        "value": 16.0,
        "queries": {"q1": 4.0, "q2": 12.0},
        "sf": "0.1",
        "env": {
            "loadavg_start": [0.3],
            "sentinel_nation_count_sec": 0.10,
        },
    }
    adj2 = _adjudicate(res2, str(tmp_path))
    assert adj2["polluted"] is False
    assert adj2["vs_prev"]["regressions"] == ["q2"]

    # sf mismatch -> comparison explicitly skipped, never cross-scale
    res3 = dict(res2, sf="0.001")
    adj3 = _adjudicate(res3, str(tmp_path))
    assert "skipped" in adj3["vs_prev"]

    # no prior artifact -> vs_prev None, still a valid verdict
    adj4 = _adjudicate(res2, str(tmp_path / "empty"))
    assert adj4["vs_prev"] is None and adj4["polluted"] is False


def test_managed_bench_smoke():
    out = _run_tool("tools.managed_bench", SF, "--files=8")
    assert out["metric"] == "managed_bench"
    vs = out["versions"]
    assert len(vs) == 3
    # base snapshot prunes; compaction restores pruning after the
    # unclustered append diluted it
    v1, v2, v3 = (vs[k] for k in sorted(vs))
    assert v1["files_read"] < v1["files_total"]
    assert v3["files_read"] < v3["files_total"]
    assert v3["matched_rows"] == v2["matched_rows"] > 0


def test_rowgroup_bench_smoke():
    out = _run_tool("tools.rowgroup_bench", SF, "--files=4", "--block=2048")
    assert out["metric"] == "rowgroup_bench"
    fl, rl = out["file_level"], out["rowgroup_level"]
    assert fl["files_read"] <= fl["files_total"]
    assert rl["rowgroups_read"] < rl["rowgroups_total"]
    # the finer index never reads MORE than the file level
    assert rl["bytes_read"] <= fl["bytes_read"]
    assert out["matched_rows"] > 0


def test_fuzz_curation_smoke():
    """25-seed metamorphic smoke over the curation operators (split/mix/
    dedup/shuffle/pack/chunk invariances) — the pytest gate for the
    larger seeded campaigns recorded in SCALE_NOTES."""
    out = _run_tool("tools.fuzz_curation", "--seeds=25")
    assert out["metric"] == "fuzz_curation"
    assert out["ok"] is True, out["failures"]
    assert out["properties"] == 6


def test_soak_bench_smoke():
    """Bounded 3-cycle variant of the ingest->forget->restart soak:
    every cycle restarts the streaming queries on their checkpoints,
    tombstones live docs, and asserts (a) no forgotten doc resurrects,
    (b) index serve == from-scratch rebuild, (c) file drift bounded.
    The 20-cycle campaign is recorded in SCALE_NOTES."""
    out = _run_tool("tools.soak_bench", SF, "--cycles=3")
    assert out["metric"] == "soak_bench"
    assert out["ok"] is True, out["failures"]
    assert len(out["table"]) == 3
    assert out["table"][-1]["forgotten"] > 0


def test_dml_bench_smoke():
    out = _run_tool("tools.dml_bench", SF, "--files=8")
    assert out["metric"] == "dml_bench"
    d, m = out["delete"], out["merge"]
    # copy-on-write: the fixed-size ops rewrite a strict subset
    assert 0 < d["files_rewritten"] < out["files_total"]
    assert 0 < m["files_rewritten"] < out["files_total"]
    assert m["files_linked"] == out["files_total"] - m["files_rewritten"]
    assert d["rows_deleted"] > 0
    assert m["cdf"]["insert"] == m["batch_rows"] // 2
    assert m["cdf"]["update_preimage"] == m["cdf"]["update_postimage"]


def test_managed_soak_smoke():
    out = _run_tool("tools.managed_soak", SF, "--cycles=3")
    assert out["metric"] == "managed_soak"
    assert out["cycles"] == 3
    # bounded drift even in the short run
    assert out["max_files"] <= 16
    assert out["final_live_keys"] > 0


def test_fuzz_managed_smoke():
    out = _run_tool("tools.fuzz_managed", "--seeds=2", "--ops=8")
    assert out["metric"] == "fuzz_managed"
    assert out["n_fail"] == 0 and out["n_pass"] == 2


def test_manifest_bench_smoke():
    """The tool times the optimistic commit section by wrapping
    ManagedTable._commit_section; every grid row must have measured
    it (a zero means the wrapper no longer sees the section)."""
    out = _run_tool(
        "tools.manifest_bench", "--grid=4,8", "--modes=hardlink,reference"
    )
    assert out["metric"] == "managed_commit_vs_live_file_count"
    for mode in ("hardlink", "reference"):
        rows = out[mode]["grid"]
        assert set(rows) == {"4", "8"}
        for row in rows.values():
            assert row["optimistic_commit_section_sec"] > 0, (mode, row)
