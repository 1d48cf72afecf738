"""Seeded input generators.

Everything the benchmark feeds the engine is made here from the run's
``--seed``: the ten registry tables (the TPC-H-ish star schema, the
``events`` stream and the LLM-data ``documents``/``embeddings`` tables,
with the same schemas and value domains as the tables in TESTDATA.md) and the
covid report-day CSVs.  The same seed gives byte-identical inputs.

The covid generator also returns, per day, what a correct pipeline must
load from it (valid rows, cases, deaths per state), so the benchmark can
check the gold dashboard without asking the engine twice.
"""

from __future__ import annotations

import csv
import datetime as dt
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts at sf=1; tables below a floor keep the floor (the TESTDATA.md
# tables do the same for documents/embeddings).
_SF1_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
_FLOOR = {"documents": 500, "embeddings": 500}

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
_PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
_PART_TYPES = ["SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD", "PROMO"]
_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
_LANGS = np.array(["en", "en", "en", "de", "fr", "es", "zh"])
_WORDS = (
    "query row stream the part column order scan a slow agg key window table "
    "merge vector join spark line small fast group customer batch sort value "
    "hash filter big data"
).split()
_EMBED_DIM = 64
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def table_rows(name: str, sf: float) -> int:
    return max(_FLOOR.get(name, 1), int(round(_SF1_ROWS[name] * sf)))


def _days(rng, n, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _strs(fmt: str, keys: np.ndarray) -> list[str]:
    return [fmt % k for k in keys.tolist()]


def _documents(rng, n: int) -> pa.Table:
    """Random-word documents; 5% are near-copies of an earlier document
    (a few words swapped, ``dup`` appended) and 0.5% exact copies, so the
    dedup/LSH/contamination entries find real candidate pairs."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.005:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 10 and r < 0.055:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)).tolist():
                words[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            texts.append(" ".join(words + ["dup"]))
            continue
        k = int(rng.integers(10, 101))
        texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k).tolist()))
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": _LANGS[rng.integers(0, len(_LANGS), n)].tolist(),
            "source": _strs("src%d", ids % 20),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    """Unit vectors; 3% are small perturbations of an earlier vector
    (near-duplicate pairs for the cosine-dedup entries)."""
    x = rng.standard_normal((n, _EMBED_DIM))
    src = rng.integers(0, n, n)
    near = (rng.random(n) < 0.03) & (src < np.arange(n))
    x[near] = x[src[near]] + 0.05 * rng.standard_normal((int(near.sum()), _EMBED_DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.astype(np.float32).reshape(-1))
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, (n + 1) * _EMBED_DIM, _EMBED_DIM, dtype=np.int32)), flat
            ),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten registry tables at scale ``sf`` (TESTDATA.md schemas)."""
    rng = np.random.default_rng([seed, 1])
    n = {k: table_rows(k, sf) for k in _SF1_ROWS}
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    nk = np.arange(25, dtype=np.int32)
    out["nation"] = pa.table(
        {"n_nationkey": nk, "n_name": _strs("NATION_%d", nk), "n_regionkey": nk % 5}
    )
    ck = np.arange(n["customer"], dtype=np.int64)
    out["customer"] = pa.table(
        {
            "c_custkey": ck,
            "c_name": _strs("Customer#%09d", ck),
            "c_nationkey": rng.integers(0, 25, len(ck)).astype(np.int32),
            "c_acctbal": _money(rng, len(ck), -999.99, 9999.99),
            "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, len(ck)).tolist()],
        }
    )
    sk = np.arange(n["supplier"], dtype=np.int64)
    out["supplier"] = pa.table(
        {
            "s_suppkey": sk,
            "s_name": _strs("Supplier#%09d", sk),
            "s_nationkey": rng.integers(0, 25, len(sk)).astype(np.int32),
            "s_acctbal": _money(rng, len(sk), -999.99, 9999.99),
        }
    )
    pk = np.arange(n["part"], dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": [
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, len(pk)).tolist(), rng.integers(0, 8, len(pk)).tolist())
            ],
            "p_brand": _strs("Brand#%d", rng.integers(1, 26, len(pk))),
            "p_type": [_PART_TYPES[i] for i in rng.integers(0, 6, len(pk)).tolist()],
            "p_size": rng.integers(1, 51, len(pk)).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
        }
    )
    ok = np.arange(n["orders"], dtype=np.int64)
    out["orders"] = pa.table(
        {
            "o_orderkey": ok,
            "o_custkey": rng.integers(0, len(ck), len(ok)).astype(np.int64),
            "o_orderstatus": [("O", "F", "P")[i] for i in rng.integers(0, 3, len(ok)).tolist()],
            "o_totalprice": _money(rng, len(ok), 1000.0, 500000.0),
            "o_orderdate": _days(rng, len(ok), "1995-01-01", "2001-08-01"),
            "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, len(ok)).tolist()],
        }
    )
    nl = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, len(ok), nl).astype(np.int64),
            "l_partkey": rng.integers(0, len(pk), nl).astype(np.int64),
            "l_suppkey": rng.integers(0, len(sk), nl).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl).tolist()],
            "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, nl).tolist()],
            "l_shipdate": _days(rng, nl, "1995-01-02", "2001-11-04"),
        }
    )
    ne = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(start + rng.integers(0, 30 * 86_400_000_000, ne).astype("timedelta64[us]"))
    out["events"] = pa.table(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, max(1, ne // 67), ne).astype(np.int64),
            "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, ne).tolist()],
            "value": np.round(rng.lognormal(3.5, 1.0, ne).clip(0, 560.21), 2),
            "props": _strs('{"k": %d}', rng.integers(0, 100, ne)),
        }
    )
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def write_tables(tables: dict[str, pa.Table], sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))


# --- covid report days ------------------------------------------------------

_STATES = (
    "Alabama Alaska Arizona Arkansas California Colorado Connecticut Delaware "
    "Florida Georgia Hawaii Idaho Illinois Indiana Iowa Kansas Kentucky "
    "Louisiana Maine Maryland Massachusetts Michigan Minnesota Mississippi "
    "Missouri Montana Nebraska Nevada Ohio Oklahoma Oregon Pennsylvania "
    "Tennessee Texas Utah Vermont Virginia Washington Wisconsin Wyoming"
).split() + ["New York", "New Jersey", "North Carolina", "South Dakota"]
_COUNTY_STEMS = (
    "Adams Baker Bradley Clark Dallas Franklin Greene Jackson Lincoln Madison "
    "Marion Monroe Obrien Polk Union Warren Wayne Butler Carroll Douglas"
).split()
CSV_HEADER = [
    "REPORT_DATE",
    "PROVINCE_STATE_NAME",
    "COUNTY_NAME",
    "PEOPLE_POSITIVE_NEW_CASES_COUNT",
    "PEOPLE_DEATH_NEW_COUNT",
    "CONTINENT_NAME",
    "DATA_SOURCE_NAME",
    "PEOPLE_POSITIVE_CASES_COUNT",
    "COUNTY_FIPS_NUMBER",
]


@dataclass
class Expected:
    """What a correct pipeline loads from the files written so far."""

    rows: int = 0
    cases: int = 0
    max_date: str | None = None
    deaths_by_state: dict[str, int] = field(default_factory=dict)

    def add(self, date: str, state: str, cases: int, deaths: int) -> None:
        self.rows += 1
        self.cases += cases
        self.max_date = date if self.max_date is None or date > self.max_date else self.max_date
        self.deaths_by_state[state] = self.deaths_by_state.get(state, 0) + deaths


class CovidFeed:
    """Seeded stream of county report days, written as CSV files.

    Each day has ``rows_per_day`` county rows carrying the reference
    CSV's dirt: state/county case and whitespace noise, missing and
    empty dimensions, empty measures (load as 0), unparsable measures
    and bad dates (row dropped), plus late rows re-reporting the
    previous day (the same-date watermark path).  ``expected`` tracks
    the clean result of everything written.
    """

    LATE_SHARE = 0.02

    def __init__(self, seed: int, rows_per_day: int, first_day: str = "2020-03-01"):
        self.rng = np.random.default_rng([seed, 2])
        self.rows_per_day = rows_per_day
        self.day = dt.date.fromisoformat(first_day)
        n_counties = max(1, rows_per_day // len(_STATES))
        self.places = [
            (s, f"{_COUNTY_STEMS[c % len(_COUNTY_STEMS)]} {c // len(_COUNTY_STEMS) + 1}")
            for s in _STATES
            for c in range(n_counties)
        ][:rows_per_day]
        self.expected = Expected()
        self.prev_rows: list[tuple[str, str, int, int]] = []

    def _dirty(self, name: str) -> str | None:
        r = self.rng.random()
        if r < 0.01:
            return None
        if r < 0.02:
            return ""
        if r < 0.15:
            return f" {name.lower()} "
        if r < 0.25:
            return name.upper()
        if r < 0.30:
            return name.replace("Obrien", "O'BRIEN") if "Obrien" in name else name
        return name

    @staticmethod
    def _clean(raw: str | None) -> str:
        """The Silver dimension rule: trim, then capitalise each
        space-separated word and lower-case the rest (Spark initcap)."""
        words = (raw or "").strip().split(" ")
        return " ".join(w[:1].upper() + w[1:].lower() for w in words)

    def _measure(self, hi: int) -> tuple[str, int | None]:
        r = self.rng.random()
        v = int(self.rng.integers(0, hi + 1))
        if r < 0.02:
            return "", 0
        if r < 0.03:
            return "N/A", None
        if r < 0.08:
            return f" {v} ", v
        return str(v), v

    def write_day(self, path: str, n_days: int = 1) -> int:
        """Write the next ``n_days`` report days (plus late rows for the
        day before the first of them) to one CSV; returns rows written."""
        rows: list[list[str | None]] = []
        for _ in range(n_days):
            date = self.day.isoformat()
            late = [p for p in self.prev_rows if self.rng.random() < self.LATE_SHARE]
            today: list[tuple[str, str, int, int]] = []
            for state, county in self.places:
                cases_s, cases = self._measure(500)
                deaths_s, deaths = self._measure(50)
                d = date
                bad_date = self.rng.random() < 0.01
                if bad_date:
                    d = ("N/A", "", "2020/13/01", "soon")[int(self.rng.integers(0, 4))]
                st_raw, co_raw = self._dirty(state), self._dirty(county)
                rows.append(
                    [d, st_raw, co_raw, cases_s, deaths_s, "America", "JHU",
                     str(int(self.rng.integers(0, 100_000))), str(int(self.rng.integers(1000, 57000)))]
                )
                if not bad_date and cases is not None and deaths is not None:
                    rec = (date, self._clean(st_raw), cases, deaths)
                    today.append(rec)
            for prev_date, st, cases, deaths in late:
                rows.append(
                    [prev_date, st, "Late County", str(cases), str(deaths), "America", "JHU", "0", "0"]
                )
                self.expected.add(prev_date, st, cases, deaths)
            for rec in today:
                self.expected.add(*rec)
            self.prev_rows = today
            self.day += dt.timedelta(days=1)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(CSV_HEADER)
            w.writerows(rows)
        return len(rows)
