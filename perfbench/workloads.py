"""The three closed-loop workloads.

Each workload exposes the same small surface to the runner:

- ``setup()``     program work that must precede the timed window
                  (counted in ``setup_s``);
- ``warmup()``    a fixed amount of program work, identical on every
                  commit, that brings the JVM and the Python workers to
                  steady state (counted in ``setup_s``);
- ``next_pass()`` the op keys of one pass;
- ``run_op(key)`` one timed op; returns its record, with the result
                  checked outside the timed span on the rows the op
                  already collected (nothing is executed twice).

One client issues ops back to back: the next op starts when the previous
one has returned (closed loop).
"""

from __future__ import annotations

import datetime as dt
import math
import os
import re
import time
from decimal import Decimal

import numpy as np

from perfbench import gen


def first_line(exc: BaseException) -> str:
    text = f"{type(exc).__name__}: {exc}".strip()
    return text.splitlines()[0][:300] if text else type(exc).__name__


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, ignoring checksum/marker files."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


# --- registry workloads -----------------------------------------------------


def _canon(v):
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        return 0.0 if v == 0 else v
    if isinstance(v, dt.datetime):
        v = v.replace(tzinfo=None)
        return v.date().isoformat() if v.time() == dt.time(0) else v.isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, (np.integer, np.floating, np.bool_)):
        return _canon(v.item())
    return v


def _sort_key(row):
    def k(v):
        if v is None:
            return (0, "")
        if isinstance(v, float):
            return (1, f"{v:.5g}") if math.isfinite(v) else (1, repr(v))
        if isinstance(v, tuple):
            return (2, tuple(k(x) for x in v))
        return (3, repr(v))

    return tuple(k(v) for v in row)


def canon_rows(names: list[str], rows) -> list[tuple]:
    """Columns ordered by name, cells canonicalised, rows sorted."""
    order = sorted(range(len(names)), key=lambda i: names[i])
    out = [tuple(_canon(r[i]) for i in order) for r in rows]
    out.sort(key=_sort_key)
    return out


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None or isinstance(a, (str, tuple)) or isinstance(b, (str, tuple)):
            return False
        return math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-9) or (math.isnan(a) and math.isnan(b))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def compare(expected: tuple[list[str], list[tuple]], df_columns: list[str], rows) -> str | None:
    """None when the Spark rows match the oracle (row count, column
    names, order-insensitive values), else a one-line reason."""
    names, exp = expected
    if sorted(df_columns) != sorted(names):
        return f"columns {sorted(df_columns)} != oracle {sorted(names)}"
    if len(rows) != len(exp):
        return f"{len(rows)} rows != oracle {len(exp)}"
    got = canon_rows(df_columns, rows)
    for i, (g, e) in enumerate(zip(got, exp)):
        if not _same(g, e):
            return f"row {i}: {str(g)[:120]} != oracle {str(e)[:120]}"
    return None


class Workload:
    spark = tracer = None

    def attach(self, spark, tracer) -> None:
        """Hand over the session once it exists (inputs and oracles are
        prepared before it starts)."""
        self.spark, self.tracer = spark, tracer


class RegistryWorkload(Workload):
    """Passes over a fixed list of registry entries, each op one builder
    call plus ``collect()``, checked against the entry's DuckDB twin."""

    INJECTED = "perfbench_injected_missing_entry"

    def __init__(self, cfg: dict, sf_dir: str, seed: int, inject_failure: bool):
        from coviddatapipeline_spark.queries import catalog

        self.catalog = catalog
        self.cfg = cfg
        self.family = {e: fam for fam, entries in cfg["families"].items() for e in entries}
        self.entries = list(self.family)
        self.tables: dict[str, list[str]] = {}
        self.sf_dir = sf_dir
        self.rng = np.random.default_rng([seed, 3])
        self.inject_failure = inject_failure
        self.expected: dict[str, tuple[list[str], list[tuple]]] = {}
        self.table_rows: dict[str, int] = {}
        self.table_bytes: dict[str, int] = {}

    def compute_oracles(self) -> None:
        """DuckDB twin results on the generated tables (benchmark work,
        not part of setup_s)."""
        import duckdb
        import pyarrow.parquet as pq

        con = duckdb.connect(config={"threads": 2})
        try:
            for t in gen.TABLES:
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
                self.table_rows[t] = pq.ParquetFile(path).metadata.num_rows
                self.table_bytes[t] = os.path.getsize(path)
            for e in self.entries:
                sql = self.catalog.get(e).oracle
                # the twin reads the same tables as the entry
                self.tables[e] = [t for t in gen.TABLES if re.search(rf"\b{t}\b", sql)]
                cur = con.execute(sql)
                names = [d[0] for d in cur.description]
                self.expected[e] = (names, canon_rows(names, cur.fetchall()))
        finally:
            con.close()

    def setup(self) -> None:
        self.catalog.all_queries()  # import every operator module once

    def warmup(self) -> list[float]:
        """One pass over every entry, in a seeded order."""
        return [self._warm_one(e) for e in self._shuffled()]

    def _warm_one(self, entry: str) -> float:
        t0 = time.perf_counter()
        self.catalog.get(entry).fn(self.spark, self.sf_dir).collect()
        return time.perf_counter() - t0

    def _shuffled(self) -> list[str]:
        return [self.entries[i] for i in self.rng.permutation(len(self.entries))]

    def next_pass(self) -> list[str]:
        keys = self._shuffled()
        if self.inject_failure:
            keys.insert(1, self.INJECTED)
        return keys

    def run_op(self, entry: str) -> dict:
        tr = self.tracer
        tr.start_op(entry)
        rec: dict = {"entry": entry, "ok": False, "error": None}
        o0 = tr.overhead_s
        t0 = time.perf_counter()
        df = rows = None
        try:
            with tr.span("build", entry=entry) as b:
                df = self.catalog.get(entry).fn(self.spark, self.sf_dir)
            with tr.span("exec", entry=entry) as x:
                rows = df.collect()
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, never fatal
            rec["error"] = first_line(exc)
        rec["latency_s"] = time.perf_counter() - t0 - (tr.overhead_s - o0)
        if rows is not None:
            rec["error"] = compare(self.expected[entry], df.columns, rows)
            rec["ok"] = rec["error"] is None
            rec["result_rows"] = len(rows)
            # work done: rows of the tables the entry reads, one query
            rec["rows"] = sum(self.table_rows[t] for t in self.tables[entry])
            rec["queries"] = 1
        if tr.enabled and rows is not None:
            rec["layers"] = {"build": _span_counts(b), "exec": _span_counts(x)}
            rec["plan"] = tr.plan_metrics(df)
            rec["persisted_rdds"] = tr.persisted_rdds()
        return rec

    def final_check(self) -> str | None:
        return None

    def stored_bytes_per_row(self) -> float:
        """Footprint of the tables the entries read (they write nothing)."""
        read = {t for e in self.entries for t in self.tables[e]}
        return sum(self.table_bytes[t] for t in read) / sum(self.table_rows[t] for t in read)


# --- covid_etl --------------------------------------------------------------


class CovidEtlWorkload(Workload):
    """The reference pipeline's own loop over a preloaded history: each
    op lands one report day as CSV, appends it to Bronze, runs the
    incremental ETL into Silver and refreshes the five gold queries."""

    def __init__(self, cfg: dict, work_dir: str, seed: int, inject_failure: bool):
        from coviddatapipeline_spark.pipeline import etl

        self.cfg = cfg
        self.paths = etl.default_paths(os.path.join(work_dir, "lake"))
        self.landing = os.path.join(work_dir, "landing")
        self.feed = gen.CovidFeed(seed, cfg["rows_per_day"])
        self.inject_failure = inject_failure
        self.day_no = 0
        self.ops_run = 0
        self.loaded_rows = 0
        self.last_gold: list | None = None

    def compute_oracles(self) -> None:
        pass  # the feed tracks the expected result as it writes days

    def _land(self, n_days: int = 1) -> str:
        path = os.path.join(self.landing, f"day_{self.day_no:05d}.csv")
        self.day_no += 1
        self.feed.write_day(path, n_days)
        return path

    def setup(self) -> None:
        """Preload the history: one multi-day landing, one ETL run."""
        from coviddatapipeline_spark.pipeline.bronze import ingest_csv_to_bronze
        from coviddatapipeline_spark.pipeline.etl import run_incremental_etl

        p = self.paths
        csv_path = self._land(self.cfg["history_days"])
        ingest_csv_to_bronze(self.spark, csv_path, p["bronze"], mode="overwrite")
        self.loaded_rows = run_incremental_etl(self.spark, p["bronze"], p["silver"], p["checkpoint"]).rows_loaded

    def warmup(self) -> None:
        for _ in range(self.cfg["warmup_days"]):
            rec = self.run_op("day")
            if not rec["ok"]:
                raise RuntimeError(f"warm-up day failed: {rec['error']}")

    def next_pass(self) -> list[str]:
        return ["day"]

    def run_op(self, key: str) -> dict:
        from coviddatapipeline_spark.pipeline import gold
        from coviddatapipeline_spark.pipeline.bronze import ingest_csv_to_bronze
        from coviddatapipeline_spark.pipeline.etl import run_incremental_etl, silver_table

        tr, p = self.tracer, self.paths
        before_rows = self.feed.expected.rows
        self.ops_run += 1
        if self.inject_failure and self.ops_run == 1 + self.cfg["warmup_days"]:
            csv_path = os.path.join(self.landing, "never_landed.csv")
        else:
            csv_path = self._land()
        tr.start_op(os.path.basename(csv_path))
        rec: dict = {"entry": "day", "ok": False, "error": None}
        traced = tr.enabled
        files0 = dir_bytes(p["bronze"])[1] if traced else 0
        o0 = tr.overhead_s
        t0 = time.perf_counter()
        try:
            with tr.span("bronze") as b:
                landed = ingest_csv_to_bronze(self.spark, csv_path, p["bronze"], mode="append")
            with tr.span("etl") as e:
                res = run_incremental_etl(self.spark, p["bronze"], p["silver"], p["checkpoint"])
            with tr.span("gold") as g:
                cases = silver_table(self.spark, p["silver"])
                frames = [
                    gold.q1_total_count(cases),
                    gold.q2_latest_date(cases),
                    gold.q3_browse(cases),
                    gold.q4_cases_by_county_topk_other(cases),
                    gold.q5_deaths_by_state(cases),
                ]
                results = [f.collect() for f in frames]
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, never fatal
            rec["error"] = first_line(exc)
            results = None
        rec["latency_s"] = time.perf_counter() - t0 - (tr.overhead_s - o0)
        if results is None:
            return rec
        exp = self.feed.expected
        # work done: rows landed in Silver, gold queries answered
        rec["csv_rows"] = landed
        rec["rows"] = res.rows_loaded
        rec["queries"] = len(frames)
        rec["error"] = self._check(results, res.rows_loaded, exp.rows - before_rows)
        rec["ok"] = rec["error"] is None
        self.loaded_rows += res.rows_loaded
        self.last_gold = results
        if traced:
            rec["layers"] = {"bronze": _span_counts(b), "etl": _span_counts(e), "gold": _span_counts(g)}
            rec["layers"]["bronze"]["files_added"] = dir_bytes(p["bronze"])[1] - files0
            rec["layers"]["etl"]["silver_files"] = dir_bytes(p["silver"])[1]
            plans = [tr.plan_metrics(f) for f in frames]
            rec["plan"] = {k: sum(pm[k] for pm in plans) for k in plans[0]}
            rec["persisted_rdds"] = tr.persisted_rdds()
        return rec

    def _check(self, results, rows_loaded: int, expected_loaded: int) -> str | None:
        exp = self.feed.expected
        n = results[0][0]["n"]
        if rows_loaded != expected_loaded:
            return f"etl loaded {rows_loaded} rows, expected {expected_loaded}"
        if n != exp.rows:
            return f"gold q1 count {n} != expected {exp.rows}"
        latest = str(results[1][0]["latest_date"])
        if latest != exp.max_date:
            return f"gold q2 latest date {latest} != expected {exp.max_date}"
        if len(results[2]) != min(2000, exp.rows):
            return f"gold q3 returned {len(results[2])} rows"
        cases = sum(r["cases"] for r in results[3])
        if cases != exp.cases:
            return f"gold q4 total cases {cases} != expected {exp.cases}"
        return None

    def final_check(self) -> str | None:
        """Gold q5 per-state deaths of the last op against the feed."""
        if self.last_gold is None:
            return "no op completed"
        got = {r["state"]: r["deaths"] for r in self.last_gold[4]}
        if got != self.feed.expected.deaths_by_state:
            diff = sorted(set(got.items()) ^ set(self.feed.expected.deaths_by_state.items()))[:3]
            return f"gold q5 deaths by state differ: {diff}"
        return None

    def stored_bytes_per_row(self) -> float:
        """Bronze + Silver bytes on disk per Silver row."""
        stored = dir_bytes(self.paths["bronze"])[0] + dir_bytes(self.paths["silver"])[0]
        return stored / max(1, self.loaded_rows)


def _span_counts(span: dict) -> dict:
    out = {k: v for k, v in span.items() if k not in ("id", "name", "parent", "op", "start", "end", "entry")}
    out["s"] = span["end"] - span["start"]
    return out
