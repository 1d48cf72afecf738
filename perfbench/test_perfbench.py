"""The benchmark's own tests.

    python3 -m pytest perfbench -q

The end-to-end cases run the real command in quick mode (tiny inputs,
a short covid history) and take a few minutes in total.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import gen
from perfbench.stats import summarize, tail_rank
from perfbench.workloads import canon_rows, compare

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)
TOL = {m["name"]: m["bound"] for m in BENCH["end_to_end"]}


def _run(*args: str, cwd: str = ROOT) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )
    return proc.returncode, proc.stdout.strip().splitlines()


def _quick(workload: str, trace: int, *extra: str) -> dict:
    code, lines = _run("--workload", workload, "--seed", "7", "--seconds", "1", "--trace", str(trace), "--quick", *extra)
    assert code == 0, lines[-5:]
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    return result


def _assert_metrics(result: dict, declared: list[dict]) -> None:
    metrics = result["metrics"]
    assert set(metrics) == {m["name"] for m in declared}
    for m in declared:
        got = metrics[m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


# --- end to end, quick mode -------------------------------------------------


def test_covid_end_to_end_metrics_and_injected_failure():
    r = _quick("covid_etl", 0, "--inject-failure")
    _assert_metrics(r, BENCH["end_to_end"])
    m = r["metrics"]
    # the injected day counts as attempted and failed; later days still run
    assert r["failed"] == 1 and r["attempted"] >= 2 and not r["correct"], r
    assert m["success_ratio"]["value"] == pytest.approx((r["attempted"] - 1) / r["attempted"])
    for name in ("setup_s", "latency_p50_s", "latency_tail_s", "rows_per_s", "queries_per_s", "stored_bytes_per_row"):
        assert m[name]["value"] > 0, (name, r)


def test_covid_per_layer_metrics():
    r = _quick("covid_etl", 1)
    assert r["correct"] and r["failed"] == 0
    _assert_metrics(r, BENCH["per_layer"])
    m = {k: v["value"] for k, v in r["metrics"].items()}
    for name in ("bronze.ingest_s", "bronze.jobs", "bronze.files_added", "etl.run_s", "etl.jobs",
                 "etl.input_rows", "etl.silver_files", "gold.refresh_s", "gold.jobs", "exec.tasks"):
        assert m[name] > 0, name
    assert m["etl.input_rows_per_loaded_row"] > 1  # every run re-reads all of Bronze
    assert m["kernel.python_total_s"] == 0 and m["build.jobs"] == 0


def test_registry_end_to_end_metrics():
    r = _quick("registry", 0)
    assert r["correct"] and r["failed"] == 0
    _assert_metrics(r, BENCH["end_to_end"])
    assert r["metrics"]["success_ratio"]["value"] == 1.0
    assert all(v["value"] > 0 for v in r["metrics"].values())


def test_registry_per_layer_metrics_and_injected_failure():
    r = _quick("registry", 1, "--inject-failure")
    _assert_metrics(r, BENCH["per_layer"])
    m = {k: v["value"] for k, v in r["metrics"].items()}
    # one missing entry per pass: counted, never dropped, never fatal
    assert r["attempted"] == 4 * 19 and r["failed"] == 4, r  # traced runs make four passes
    for name in ("build.jobs", "exec.jobs", "exec.stages", "plan.optimization_ms",
                 "kernel.python_total_s", "kernel.rows_received", "session.peak_rss_mb"):
        assert m[name] > 0, name
    assert m["bronze.jobs"] == 0 and m["etl.jobs"] == 0 and m["gold.jobs"] == 0


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    code, lines = _run("--workload", "registry", "--seed", "1", "--seconds", "1", "--trace", "0", cwd=str(tmp_path))
    assert code != 0
    assert not any(line.startswith("{") for line in lines)


# --- units ------------------------------------------------------------------


def test_inputs_depend_only_on_seed(tmp_path):
    a, b, c = (gen.make_tables(s, 0.001) for s in (5, 5, 6))
    assert all(a[t].equals(b[t]) for t in gen.TABLES)
    assert not a["orders"].equals(c["orders"])
    paths = []
    for i, seed in enumerate((5, 5)):
        feed = gen.CovidFeed(seed, 200)
        paths.append(str(tmp_path / f"d{i}.csv"))
        feed.write_day(paths[-1], 3)
    assert open(paths[0]).read() == open(paths[1]).read()


def test_covid_feed_expected_counts_valid_rows(tmp_path):
    feed = gen.CovidFeed(1, 500)
    written = feed.write_day(str(tmp_path / "d.csv"), 2)
    exp = feed.expected
    assert 0 < exp.rows < written  # bad dates and unparsable measures are dropped
    assert exp.max_date == "2020-03-02"
    assert sum(exp.deaths_by_state.values()) > 0


def test_tail_rank_keeps_ten_samples_beyond():
    assert tail_rank(100) == 89
    assert tail_rank(36) == 25
    assert tail_rank(8) == 3  # too short: falls back to the median rank


def test_placement_flags_a_rank_between_disjoint_bands():
    # two entries, far apart; the median falls exactly between them
    split = [("a", 1.0 + i * 0.01) for i in range(5)] + [("b", 2.0 + i * 0.01) for i in range(5)]
    assert not summarize(split, TOL)["checks"]["latency_p50_s"]["ok"]
    # interleaved bands: no boundary however the samples fall
    mixed = [("a" if i % 2 else "b", 1.0 + i * 0.01) for i in range(10)]
    assert summarize(mixed, TOL)["checks"]["latency_p50_s"]["ok"]


def test_compare_is_order_insensitive_and_strict_on_values():
    names = ["k", "v"]
    exp = (names, canon_rows(names, [(1, 0.5), (2, 1.25)]))
    assert compare(exp, ["v", "k"], [(1.25, 2), (0.5, 1)]) is None
    assert compare(exp, names, [(1, 0.5)]) is not None
    assert compare(exp, names, [(1, 0.5), (2, 1.26)]) is not None
