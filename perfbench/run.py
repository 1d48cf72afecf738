#!/usr/bin/env python3
"""Closed-loop benchmark of the engine: covid_etl, dataprep, warehouse.

    python3 perfbench/run.py --workload covid_etl --seed 1 --seconds 20 --trace 0

Run from the repository root.  One process, one Spark driver at
``local[nproc]``, one client.  The run generates its inputs from
``--seed``, sets the engine up, warms it up with a fixed amount of work,
then issues ops back to back for ``--seconds`` (whole passes only) and
checks every op's result against an oracle outside the timed span.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
traced and untraced passes and prints the per-layer metrics, including
the tracing overhead measured between the two.  The last line of stdout
is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
Everything the run writes stays under ``.perfbench_work/`` (removed at
exit) and ``.perfbench_out/`` (the per-op trace file).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.join(ROOT, "perfbench")
T0 = time.perf_counter()


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _physical_mb() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20


def _pin_process_shape(work: str) -> dict:
    """Fix the engine's process shape before pyspark is imported: one
    Spark core per CPU, a driver heap well below physical memory, and
    every scratch path inside the run's work directory."""
    cpus = len(os.sched_getaffinity(0))
    heap_mb = min(2048, _physical_mb() // 4)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
            "SPARK_LOCAL_DIRS": tmp,
            "TMPDIR": tmp,
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
        }
    )
    return {"cpus": cpus, "driver_heap_mb": heap_mb}


def _spark_conf(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def _commit() -> str | None:
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, env=env, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None if out.returncode == 0 else None


def _source_sha() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "coviddatapipeline_spark")
    for d, _, names in sorted(os.walk(pkg)):
        for n in sorted(names):
            if n.endswith(".py"):
                with open(os.path.join(d, n), "rb") as f:
                    h.update(n.encode() + f.read())
    return h.hexdigest()[:16]


def _peak_rss_mb(spark) -> float:
    """Driver JVM peak RSS plus this process's peak RSS."""
    import resource

    total_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    try:
        pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    except OSError:
        pass
    return total_kb / 1024.0


def _stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM (and with it the
    Python worker daemon) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _make_workload(cfg: dict, work: str, seed: int, inject: bool):
    from perfbench import gen
    from perfbench.workloads import CovidEtlWorkload, RegistryWorkload

    if cfg["kind"] == "covid":
        return CovidEtlWorkload(cfg, work, seed, inject)
    sf_dir = os.path.join(work, "tables")
    gen.write_tables(gen.make_tables(seed, cfg["sf"]), sf_dir)
    return RegistryWorkload(cfg, sf_dir, seed, inject)


def run(args) -> int:
    spec = _load_json(os.path.join(HERE, "spec.json"))
    bench = _load_json(os.path.join(ROOT, "BENCHMARK.json"))
    if args.workload not in spec["workloads"]:
        return _fail(f"unknown workload {args.workload!r}")
    if not os.path.isfile(os.path.join(ROOT, "coviddatapipeline_spark", "__init__.py")):
        return _fail("coviddatapipeline_spark/ not found next to perfbench/: run from a full checkout")
    cfg = dict(spec["workloads"][args.workload])
    cfg.update(cfg.pop("quick") if args.quick else {})
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "quick": args.quick,
        "nproc": os.cpu_count(),
        "loadavg_start": os.getloadavg(),
        "commit": _commit(),
        "source_sha": _source_sha(),
        "python": platform.python_version(),
        **_pin_process_shape(work),
    }
    sys.path.insert(0, ROOT)
    spark = None
    try:
        import pyspark

        from perfbench.measure import Measurement
        from perfbench.trace import Tracer

        env["spark"] = pyspark.__version__
        import coviddatapipeline_spark

        if not os.path.abspath(coviddatapipeline_spark.__file__).startswith(ROOT + os.sep):
            return _fail("imported the engine from outside this checkout")
        from coviddatapipeline_spark.session import get_spark

        # Inputs and oracle results are benchmark work, not setup_s.  The
        # oracles (DuckDB, two threads) overlap the driver JVM's launch.
        workload = _make_workload(cfg, work, args.seed, args.inject_failure)
        with ThreadPoolExecutor(1) as pool:
            oracles = pool.submit(workload.compute_oracles)
            t0 = time.perf_counter()
            spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=_spark_conf(work))
            start_s = time.perf_counter() - t0
            oracles.result()
        env["inputs_s"] = time.perf_counter() - T0 - start_s
        tracer = Tracer(spark, enabled=False)
        workload.attach(spark, tracer)
        measurement = Measurement(workload, tracer, args, bounds)
        result = measurement.run(start_s)
        result["env"] = env
        env["peak_rss_mb"] = _peak_rss_mb(spark)
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    env["loadavg_end"] = os.getloadavg()
    env["wall_s"] = time.perf_counter() - T0
    return measurement.report(result, os.path.join(ROOT, ".perfbench_out"))


def _load_json(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--quick", action="store_true", help="tiny inputs, for the benchmark's own tests")
    p.add_argument("--inject-failure", action="store_true", help="add one op per pass that must fail")
    args = p.parse_args(argv)
    try:
        return run(args)
    except FileNotFoundError as exc:
        return _fail(str(exc))


if __name__ == "__main__":
    sys.exit(main())
