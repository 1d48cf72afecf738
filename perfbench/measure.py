"""The timed window and the metrics computed from it."""

from __future__ import annotations

import json
import os
import statistics
import time

from perfbench.stats import median_or_zero, summarize

MIN_PASSES = 2

E2E_UNITS = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "rows_per_s": "rows/s",
    "queries_per_s": "queries/s",
    "success_ratio": "ratio",
    "stored_bytes_per_row": "B/row",
}


class Measurement:
    def __init__(self, workload, tracer, args, bounds: dict[str, float]):
        self.w = workload
        self.tracer = tracer
        self.args = args
        self.bounds = bounds

    # -- phases ----------------------------------------------------------------

    def run(self, start_s: float) -> dict:
        t0 = time.perf_counter()
        self.w.setup()
        setup_work_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        warm = self.w.warmup()
        warmup_s = time.perf_counter() - t0
        ops, passes = self._window()
        final_error = self.w.final_check()
        if final_error and ops:
            ops[-1]["ok"], ops[-1]["error"] = False, final_error
        return {
            "stored_bytes_per_row": self.w.stored_bytes_per_row(),
            "session": {"start_s": start_s, "setup_work_s": setup_work_s, "warmup_s": warmup_s, "warmup_ops_s": warm},
            "ops": ops,
            "passes": passes,
        }

    def _window(self) -> tuple[list[dict], list[dict]]:
        """A fixed number of whole passes, sized to take about --seconds
        on the reference host, so every run issues the same ops and its
        percentiles sit at the same ranks.  With tracing, passes run
        untraced/traced in an ABBA order (at least four passes), so the
        overhead is measured in the same process and a slow drift of the
        pass times cancels out of it.  Each pass records the machine's
        busy and steal shares, so a run that shared its host shows it."""
        n_passes = max(MIN_PASSES, round(self.args.seconds / self.w.cfg["reference_pass_s"]))
        if self.args.trace:
            n_passes = max(4, n_passes)
        ops: list[dict] = []
        passes: list[dict] = []
        for idx in range(n_passes):
            self.tracer.enabled = bool(self.args.trace) and idx % 4 in (1, 2)
            keys = self.w.next_pass()
            cpu0 = _host_cpu()
            p0 = time.perf_counter()
            for key in keys:
                rec = self.w.run_op(key)
                rec["pass"], rec["traced"] = idx, self.tracer.enabled
                ops.append(rec)
            passes.append(
                {"pass": idx, "traced": self.tracer.enabled, "s": time.perf_counter() - p0, **_cpu_share(cpu0, _host_cpu())}
            )
        self.tracer.enabled = False
        return ops, passes

    # -- metrics -----------------------------------------------------------------

    def end_to_end(self, result: dict, ops: list[dict]) -> tuple[dict, dict]:
        ok = [o for o in ops if o["ok"]]
        busy = sum(o["latency_s"] for o in ops) or float("nan")
        lat = summarize([(o["entry"], o["latency_s"]) for o in ok], self.bounds)
        s = result["session"]
        m = {
            "setup_s": s["start_s"] + s["setup_work_s"] + s["warmup_s"],
            "latency_p50_s": lat.get("p50"),
            "latency_tail_s": lat.get("tail"),
            "success_ratio": len(ok) / len(ops) if ops else 0.0,
        }
        m["rows_per_s"] = sum(o["rows"] for o in ok) / busy
        m["queries_per_s"] = sum(o["queries"] for o in ok) / busy
        m["stored_bytes_per_row"] = result["stored_bytes_per_row"]
        return m, lat

    def per_layer(self, result: dict, traced: list[dict], untraced: list[dict]) -> dict:
        s = result["session"]
        by_pass: dict[int, list[dict]] = {}
        for o in traced:
            by_pass.setdefault(o["pass"], []).append(o)

        def layer(o, name):
            return o.get("layers", {}).get(name, {})

        def op_median(f):
            return median_or_zero(f(o) for o in traced)

        def pass_sum(f):
            return median_or_zero(sum(f(o) for o in ops) for ops in by_pass.values())

        def exec_sum(o, key):
            return sum(v.get(key, 0) for k, v in o.get("layers", {}).items() if k != "build")

        plan = lambda o, k: o.get("plan", {}).get(k, 0)  # noqa: E731
        m = {
            "session.start_s": s["start_s"],
            "session.warmup_s": s["warmup_s"],
            "session.peak_rss_mb": None,  # filled in by the runner
            "bronze.ingest_s": op_median(lambda o: layer(o, "bronze").get("s", 0)),
            "bronze.jobs": pass_sum(lambda o: layer(o, "bronze").get("jobs", 0)),
            "bronze.files_added": pass_sum(lambda o: layer(o, "bronze").get("files_added", 0)),
            "etl.run_s": op_median(lambda o: layer(o, "etl").get("s", 0)),
            "etl.jobs": pass_sum(lambda o: layer(o, "etl").get("jobs", 0)),
            "etl.input_rows": pass_sum(lambda o: layer(o, "etl").get("input_rows", 0)),
            "etl.input_rows_per_loaded_row": op_median(
                lambda o: layer(o, "etl").get("input_rows", 0) / o["rows"] if o["rows"] else 0
            ),
            "etl.shuffle_bytes": pass_sum(lambda o: layer(o, "etl").get("shuffle_write_bytes", 0)),
            "etl.silver_files": traced[-1]["layers"].get("etl", {}).get("silver_files", 0) if traced else 0,
            "gold.refresh_s": op_median(lambda o: layer(o, "gold").get("s", 0)),
            "gold.jobs": pass_sum(lambda o: layer(o, "gold").get("jobs", 0)),
            "gold.input_rows": pass_sum(lambda o: layer(o, "gold").get("input_rows", 0)),
            "build.s": op_median(lambda o: layer(o, "build").get("s", 0)),
            "build.jobs": pass_sum(lambda o: layer(o, "build").get("jobs", 0)),
            "plan.analysis_ms": op_median(lambda o: plan(o, "analysis_ms")),
            "plan.optimization_ms": op_median(lambda o: plan(o, "optimization_ms")),
            "plan.planning_ms": op_median(lambda o: plan(o, "planning_ms")),
            "exec.s": op_median(lambda o: o["latency_s"] - layer(o, "build").get("s", 0)),
            "exec.jobs": pass_sum(lambda o: exec_sum(o, "jobs")),
            "exec.stages": pass_sum(lambda o: exec_sum(o, "stages")),
            "exec.tasks": pass_sum(lambda o: exec_sum(o, "tasks")),
            "exec.failed_tasks": pass_sum(lambda o: exec_sum(o, "failed_tasks")),
            "exec.input_rows": pass_sum(lambda o: exec_sum(o, "input_rows")),
            "exec.shuffle_write_bytes": pass_sum(lambda o: exec_sum(o, "shuffle_write_bytes")),
            "exec.shuffle_read_bytes": pass_sum(lambda o: exec_sum(o, "shuffle_read_bytes")),
            "exec.spill_bytes": pass_sum(lambda o: exec_sum(o, "spill_disk_bytes")),
            "exec.executor_run_s": pass_sum(lambda o: exec_sum(o, "executor_run_ms")) / 1e3,
            "exec.executor_cpu_s": pass_sum(lambda o: exec_sum(o, "executor_cpu_ns")) / 1e9,
            "exec.gc_s": pass_sum(lambda o: exec_sum(o, "gc_ms")) / 1e3,
            "kernel.python_total_s": pass_sum(lambda o: plan(o, "python_total_ms")) / 1e3,
            "kernel.python_boot_s": pass_sum(lambda o: plan(o, "python_boot_ms")) / 1e3,
            "kernel.python_init_s": pass_sum(lambda o: plan(o, "python_init_ms")) / 1e3,
            "kernel.bytes_sent": pass_sum(lambda o: plan(o, "bytes_sent")),
            "kernel.bytes_received": pass_sum(lambda o: plan(o, "bytes_received")),
            "kernel.rows_received": pass_sum(lambda o: plan(o, "rows_received")),
            "cache.persisted_rdds": traced[-1].get("persisted_rdds", 0) if traced else 0,
            "trace.overhead_share": _overhead_share(traced, untraced),
        }
        return m

    # -- output ------------------------------------------------------------------

    def report(self, result: dict, out_dir: str) -> int:
        args = self.args
        ops = result["ops"]
        timed = [o for o in ops if not o["traced"]]
        traced = [o for o in ops if o["traced"] and o["ok"]]
        e2e, lat = self.end_to_end(result, timed)
        checks_ok = all(c["ok"] for c in lat["checks"].values())
        env = result["env"]
        detail = {
            "workload": args.workload,
            "end_to_end": {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()},
            "samples": lat["n"],
            "tail_percentile": lat.get("tail_pct"),
            "tail_beyond": lat.get("tail_beyond"),
            "percentile_placement": lat["checks"],
            "passes": len(result["passes"]),
            "host": result["passes"],
            "session": result["session"],
            "errors": sorted({o["error"] for o in ops if o["error"]}),
            "env": env,
        }
        family = getattr(self.w, "family", None)
        if family:
            detail["families"] = {}
            for fam in sorted(set(family.values())):
                sub = [o for o in timed if family.get(o["entry"]) == fam]
                ok = [o for o in sub if o["ok"]]
                lat_f = summarize([(o["entry"], o["latency_s"]) for o in ok], self.bounds)
                detail["families"][fam] = {
                    "latency_p50_s": lat_f.get("p50"),
                    "latency_tail_s": lat_f.get("tail"),
                    "tail_percentile": lat_f.get("tail_pct"),
                    "queries_per_s": len(ok) / max(1e-9, sum(o["latency_s"] for o in sub)),
                    "samples": len(ok),
                }
        attempted = len(ops)
        failed = sum(not o["ok"] for o in ops)
        if args.trace:
            metrics = self.per_layer(result, traced, timed)
            metrics["session.peak_rss_mb"] = env["peak_rss_mb"]
            units = _layer_units()
            metrics = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
            detail["per_layer"] = metrics
        else:
            metrics = detail["end_to_end"]
        os.makedirs(out_dir, exist_ok=True)
        trace_path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
        with open(trace_path, "w") as f:
            json.dump({"detail": detail, "passes": result["passes"], "ops": ops, "spans": self.tracer.spans}, f)
        _print_table(detail, metrics, trace_path)
        line = {
            "correct": failed == 0 and checks_ok and all(m["value"] is not None for m in metrics.values()),
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }
        print(json.dumps(line))
        return 0


def _host_cpu() -> list[int]:
    """Cumulative CPU ticks of the machine (user, nice, system, idle,
    iowait, irq, softirq, steal), or [] where /proc/stat is absent."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return []


def _cpu_share(a: list[int], b: list[int]) -> dict:
    """Busy and stolen shares of the CPU time between two readings: a
    pass that ran while the hypervisor took CPU away shows here."""
    if not a or not b:
        return {}
    d = [y - x for x, y in zip(a, b)]
    total = sum(d) or 1
    return {"cpu_busy": round(1 - (d[3] + d[4]) / total, 3), "cpu_steal": round(d[7] / total, 3)}


def _overhead_share(traced: list[dict], untraced: list[dict]) -> float:
    """Median over entries of traced/untraced median latency, minus 1."""
    ratios = []
    for e in {o["entry"] for o in traced}:
        a = [o["latency_s"] for o in traced if o["entry"] == e]
        b = [o["latency_s"] for o in untraced if o["entry"] == e and o["ok"]]
        if a and b:
            ratios.append(statistics.median(a) / statistics.median(b) - 1.0)
    return median_or_zero(ratios)


def _layer_units() -> dict[str, str]:
    with open(os.path.join(os.path.dirname(os.path.dirname(__file__)), "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def _print_table(detail: dict, metrics: dict, trace_path: str) -> None:
    env = detail["env"]
    print(
        f"perfbench {detail['workload']} seed={env['seed']} seconds={env['seconds']} trace={env['trace']} "
        f"nproc={env['nproc']} cpus={env['cpus']} heap={env['driver_heap_mb']}m "
        f"loadavg={env['loadavg_start'][0]:.2f}->{env['loadavg_end'][0]:.2f} "
        f"commit={env['commit']} src={env['source_sha']} spark={env['spark']} python={env['python']}"
    )
    print(
        f"  {detail['samples']} ok samples over {detail['passes']} passes; tail = p{detail['tail_percentile']} "
        f"({detail['tail_beyond']} samples beyond); host steal per pass {[p.get('cpu_steal') for p in detail['host']]}"
    )
    for k, c in detail["percentile_placement"].items():
        print(f"  placement {k}: {'ok' if c['ok'] else 'UNSTABLE'} entries={c['entries']} gap={c['gap']}")
    for fam, f in detail.get("families", {}).items():
        print(
            f"  family {fam}: p50 {f['latency_p50_s']:.4f} s, tail {f['latency_tail_s']:.4f} s "
            f"(p{f['tail_percentile']}, n={f['samples']}), {f['queries_per_s']:.3f} queries/s"
        )
    for e in detail["errors"]:
        print(f"  error: {e}")
    for k, v in metrics.items():
        val = v["value"]
        print(f"  {k:32s} {val if val is None else round(val, 6):>14} {v['unit']}")
    print(f"  trace file: {os.path.relpath(trace_path)}")
