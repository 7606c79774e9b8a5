"""Seeded inputs for the benchmark workloads.

Two kinds of input, both written as parquet under a work directory:

- ``write_star_tables``: the star-schema tables the suite queries read
  (region, nation, customer, orders, lineitem, documents), in the shape
  of the repository's ``sf0.01`` fixtures: the same row counts and
  parquet column types, uniform join keys, the same value ranges and
  vocabulary (``fixtures.py`` compares the two). The suite workload
  generates them from a fixed table seed, so every run checks its
  outputs against the same oracle data; the run's ``--seed`` permutes
  the operation order instead.
- ``write_traces``: the paper's trace data. One sweep per
  (temperature, field, trace) key, sampled at jittered ``delay`` points,
  with lock-in channels ``X``/``Y`` = s(t)·(cos θ, sin θ) for a smooth
  s(t) and one global phase θ. The analytic s(t) is kept so outputs can
  be checked without the library.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the sf0.01 fixtures.
N_CUSTOMER = 1_500
N_ORDERS = 15_000
N_LINEITEM = 60_000
N_DOCUMENTS = 500

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_LANGS = ["en", "zh", "de", "fr", "es"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _days(rng: np.random.Generator, start: dt.date, end: dt.date, n: int) -> pa.Array:
    span = (end - start).days
    days = rng.integers(0, span + 1, n)
    base = np.datetime64(start.isoformat(), "us")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("us"))


def _write(path: str, cols: dict) -> int:
    table = pa.table(cols)
    pq.write_table(table, path)
    return table.nbytes


def _documents(rng: np.random.Generator) -> dict:
    """Random texts over the fixtures' 30-word vocabulary; as there, about
    one in twenty is an earlier text plus the word ``dup``."""
    texts: list[str] = []
    for i in range(N_DOCUMENTS):
        if i >= 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(8, 100))
            texts.append(" ".join(rng.choice(_WORDS, n)))
    return {
        "doc_id": pa.array(np.arange(N_DOCUMENTS), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_LANGS, N_DOCUMENTS, p=_LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCUMENTS)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def write_star_tables(out_dir: str, seed: int) -> int:
    """Write the star-schema tables to ``out_dir``; returns their Arrow
    size in bytes."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    nbytes = 0

    def put(name: str, cols: dict) -> None:
        nonlocal nbytes
        nbytes += _write(os.path.join(out_dir, f"{name}.parquet"), cols)

    put(
        "region",
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
    )
    put(
        "nation",
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
    )
    put(
        "customer",
        {
            "c_custkey": pa.array(np.arange(N_CUSTOMER), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
            "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMER), 2),
            "c_mktsegment": rng.choice(_SEGMENTS, N_CUSTOMER),
        },
    )
    put(
        "orders",
        {
            "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, N_ORDERS), 2),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), N_ORDERS),
            "o_orderpriority": rng.choice(_PRIORITIES, N_ORDERS),
        },
    )
    put(
        "lineitem",
        {
            "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINEITEM), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 2000, N_LINEITEM), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, 100, N_LINEITEM), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), pa.int32()),
            "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, N_LINEITEM), 2),
            "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
            "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], N_LINEITEM),
            "l_linestatus": rng.choice(["F", "O"], N_LINEITEM),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), N_LINEITEM),
        },
    )
    put("documents", _documents(rng))
    return nbytes


@dataclass
class Traces:
    """The generated sweeps and what is needed to check results."""

    path: str
    keys: np.ndarray  # (n_traces, 3): temperature, field, trace
    delay: np.ndarray  # (n_traces, points), sorted per trace
    amp: np.ndarray
    freq: np.ndarray
    phase: np.ndarray
    theta: float
    grid: np.ndarray
    nbytes: int

    def signal(self, i: int, t: np.ndarray) -> np.ndarray:
        """The analytic in-phase signal s(t) of trace ``i``."""
        return self.amp[i] * np.sin(2 * np.pi * self.freq[i] * t + self.phase[i]) * np.exp(-t / 20.0)


def write_traces(path: str, seed: int, n_traces: int, points: int, grid_points: int) -> Traces:
    """Write ``n_traces`` jittered sweeps of ``points`` samples each."""
    rng = np.random.default_rng(seed)
    span = 10.0
    step = span / (points - 1)
    base = np.linspace(0.0, span, points)
    delay = base + rng.uniform(-0.4, 0.4, (n_traces, points)) * step
    delay.sort(axis=1)
    idx = np.arange(n_traces)
    keys = np.stack([10.0 + 5.0 * (idx // 50), 0.1 * (idx % 50 // 10), idx.astype(np.float64)], axis=1)
    amp = rng.uniform(0.5, 2.0, n_traces)
    freq = rng.uniform(0.2, 1.0, n_traces)
    phase = rng.uniform(0.0, 2 * np.pi, n_traces)
    theta = float(rng.uniform(0.2, 1.2))
    s = amp[:, None] * np.sin(2 * np.pi * freq[:, None] * delay + phase[:, None]) * np.exp(-delay / 20.0)
    lo, hi = delay[:, 0].max(), delay[:, -1].min()
    grid = np.linspace(lo, hi, grid_points)
    cols = {
        "temperature": np.repeat(keys[:, 0], points),
        "field": np.repeat(keys[:, 1], points),
        "trace": np.repeat(idx.astype(np.int64), points),
        "delay": delay.ravel(),
        "X": (s * np.cos(theta)).ravel(),
        "Y": (s * np.sin(theta)).ravel(),
    }
    nbytes = _write(path, cols)
    return Traces(path, keys, delay, amp, freq, phase, theta, grid, nbytes)
