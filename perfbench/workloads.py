"""The benchmark's workloads: a fixed operation list each, and the check
that proves every operation's output correct.

An operation is a call into one public function of the library that
returns a DataFrame; the benchmark times it until a ``noop`` write of
that DataFrame returns. Suite operations are the repository's query
functions (``polars_dataset_spark.suite.QUERIES``), checked against their
DuckDB oracles (``suite.ORACLES``) with ``normalize``/``compare`` from
``tests/run_oracle_check.py``. Trace operations call ``Dataset.regrid``,
``fourier_transform`` and ``autophase`` and are checked against numpy.
"""

from __future__ import annotations

import importlib.util
import math
import os
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np

from inputs import Traces, write_star_tables, write_traces

# Suite tables come from one fixed seed: the oracles see the same data in
# every run, and the run's seed permutes the operation order instead.
TABLE_SEED = 42

TRACES_N = 100
TRACES_POINTS = 500
TRACES_GRID = 256
TRACES_SAMPLED = 4

# The suite workload's query-name prefixes, in their unpermuted order.
# q01/q06/q65: executor and shuffle do the work (hash aggregate, star join,
# salted join), no Python stage and no build jobs. q155: a Structured
# Streaming query with staged state swaps, run while its DataFrame is
# built. q224: a JSONL write and read back through sources, with a pin.
SUITE = ["q01", "q06", "q65", "q155", "q224"]
WORKLOADS = ["traces", "suite"]


@dataclass
class Op:
    name: str
    build: Callable[[], object]  # returns a DataFrame (or a Dataset)
    check: Callable[[object], list[str]]  # problems found in the result


def as_frame(out):
    """The DataFrame behind an operation's result."""
    return getattr(out, "df", out)


def _load_oracle_check(root: str):
    path = os.path.join(root, "tests", "run_oracle_check.py")
    spec = importlib.util.spec_from_file_location("run_oracle_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class SuiteWorkload:
    """Suite queries over seeded star-schema tables."""

    def __init__(self, work: str, root: str, rng: np.random.Generator):
        import duckdb

        from polars_dataset_spark import suite

        self.sf_dir = os.path.join(work, "tables")
        self.input_bytes = write_star_tables(self.sf_dir, TABLE_SEED)
        by_prefix = {q.split("_")[0]: q for q in suite.QUERIES}
        names = [by_prefix[p] for p in SUITE]
        self.order = [names[i] for i in rng.permutation(len(names))]
        self._queries = suite.QUERIES
        self._oracles = suite.ORACLES
        self._oc = _load_oracle_check(root)
        self._duck = duckdb.connect()
        for t in os.listdir(self.sf_dir):
            view = t.removesuffix(".parquet")
            self._duck.execute(f"CREATE VIEW {view} AS SELECT * FROM '{self.sf_dir}/{t}'")

    def ops(self, spark) -> list[Op]:
        return [Op(q, self._builder(spark, q), self._checker(q)) for q in self.order]

    def _builder(self, spark, q: str):
        fn, sf_dir = self._queries[q], self.sf_dir
        return lambda: fn(spark, sf_dir)

    def _checker(self, q: str):
        def check(df) -> list[str]:
            got = df.toPandas()
            want = self._duck.sql(self._oracles[q]).df()
            return self._oc.compare(q, got, want)

        return check

    def warm(self, spark) -> None:
        """Read every table once: file listing, footer and scan code."""
        for t in os.listdir(self.sf_dir):
            spark.read.parquet(os.path.join(self.sf_dir, t)).count()

    def close(self) -> None:
        self._duck.close()


class TracesWorkload:
    """The paper's regrid → Fourier / autophase pipeline on seeded sweeps."""

    ID_VARS = ["temperature", "field", "trace"]

    def __init__(self, work: str, rng: np.random.Generator, seed: int):
        os.makedirs(work, exist_ok=True)
        self.t: Traces = write_traces(
            os.path.join(work, "traces.parquet"), seed, TRACES_N, TRACES_POINTS, TRACES_GRID
        )
        self.input_bytes = self.t.nbytes
        self.sampled = sorted(int(i) for i in rng.choice(TRACES_N, TRACES_SAMPLED, replace=False))
        self._regridded = None  # regrid output of the sampled traces, set by its check

    def dataset(self, spark):
        from polars_dataset_spark import Dataset

        return Dataset(spark.read.parquet(self.t.path), index="delay", id_vars=self.ID_VARS)

    def ops(self, spark) -> list[Op]:
        grid = self.t.grid
        ds = lambda: self.dataset(spark)  # noqa: E731
        return [
            Op("regrid", lambda: ds().regrid(grid), self._check_regrid),
            Op("autophase", lambda: ds().autophase("X", "Y"), self._check_autophase),
            Op(
                "chain",
                lambda: ds().regrid(grid).autophase("X", "Y").fourier_transform(),
                self._check_chain,
            ),
        ]

    def warm(self, spark) -> None:
        """Read the input once: file listing, footer and scan code."""
        self.dataset(spark).df.count()

    def close(self) -> None:
        pass

    # -- checks ---------------------------------------------------------------

    def _collect(self, out, per_trace: int, order_col: str) -> tuple[list[str], dict]:
        """Collect an output once: its row-count problems and the sampled
        traces' rows, sorted by ``order_col``."""
        pdf = as_frame(out).toPandas()
        want = TRACES_N * per_trace
        problems = [] if len(pdf) == want else [f"rows {len(pdf)} != {want}"]
        pdf = pdf[pdf["trace"].isin(self.sampled)]
        return problems, {i: g.sort_values(order_col) for i, g in pdf.groupby("trace")}

    def _phi(self, x: np.ndarray, y: np.ndarray) -> float:
        """The closed-form autophase angle, recomputed in numpy."""
        sxx, syy, sxy = float(x @ x), float(y @ y), float(x @ y)
        phi = 0.5 * math.atan2(-2.0 * sxy, sxx - syy)

        def f(p: float) -> float:
            s, c = math.sin(p), math.cos(p)
            return s * s * sxx + 2 * s * c * sxy + c * c * syy

        alt = phi + math.pi / 2.0
        return phi if f(phi) <= f(alt) else alt

    def _check_regrid(self, out) -> list[str]:
        problems, rows = self._collect(out, TRACES_GRID, "delay")
        self._regridded = {}
        t = self.t
        for i in self.sampled:
            g = rows.get(i)
            if g is None or len(g) != TRACES_GRID:
                problems.append(f"trace {i}: missing grid rows")
                continue
            if not np.array_equal(g["delay"].to_numpy(), t.grid):
                problems.append(f"trace {i}: output index is not the grid")
            s = t.signal(i, t.grid)
            for col, w in (("X", math.cos(t.theta)), ("Y", math.sin(t.theta))):
                err = np.max(np.abs(g[col].to_numpy() - s * w))
                if not err < 1e-4:
                    problems.append(f"trace {i} {col}: spline error {err:.3g} vs analytic")
            self._regridded[i] = g
        return problems + self._check_knots(as_frame(out).sparkSession, self.sampled[0])

    def _check_knots(self, spark, i: int) -> list[str]:
        """Regridding a trace onto its own knots reproduces its samples."""
        import pandas as pd

        from polars_dataset_spark import Dataset

        t = self.t
        knots = t.delay[i]
        sig = t.signal(i, knots)
        pdf = pd.DataFrame(
            {
                "temperature": t.keys[i, 0],
                "field": t.keys[i, 1],
                "trace": i,
                "delay": knots,
                "X": sig * math.cos(t.theta),
                "Y": sig * math.sin(t.theta),
            }
        )
        ds = Dataset(spark.createDataFrame(pdf), index="delay", id_vars=self.ID_VARS)
        got = ds.regrid(knots).df.toPandas().sort_values("delay")
        if not np.array_equal(got["delay"].to_numpy(), knots):
            return [f"trace {i}: knot regrid changed the index"]
        return [
            f"trace {i} {c}: knot regrid does not reproduce the input"
            for c in ("X", "Y")
            if not np.allclose(got[c].to_numpy(), pdf[c].to_numpy(), rtol=1e-9, atol=1e-12)
        ]

    def _check_autophase(self, out) -> list[str]:
        problems, rows = self._collect(out, TRACES_POINTS, "delay")
        t = self.t
        x = np.concatenate([t.signal(i, t.delay[i]) for i in range(TRACES_N)])
        phi = self._phi(x * math.cos(t.theta), x * math.sin(t.theta))
        c, s = math.cos(phi), math.sin(phi)
        for i in self.sampled:
            g = rows.get(i)
            if g is None:
                problems.append(f"trace {i}: missing")
                continue
            sig = t.signal(i, t.delay[i])
            x0, y0 = sig * math.cos(t.theta), sig * math.sin(t.theta)
            for col, want in (("X", x0 * c - y0 * s), ("Y", x0 * s + y0 * c)):
                if not np.allclose(g[col].to_numpy(), want, rtol=1e-9, atol=1e-9):
                    problems.append(f"trace {i} {col}: rotation mismatch")
            if not np.max(np.abs(g["Y"].to_numpy())) < 1e-9:
                problems.append(f"trace {i}: quadrature not removed")
        return problems

    def _check_chain(self, out) -> list[str]:
        """regrid → autophase → Fourier: each spectrum is ``np.fft.rfft`` of
        the regridded X/Y rotated by the autophase angle, so the quadrature
        spectrum vanishes."""
        problems, rows = self._collect(out, TRACES_GRID // 2 + 1, "frequency")
        if not self._regridded:
            return problems + ["regrid check did not run first"]
        t = self.t
        # X and Y are proportional in the input and the spline is linear in
        # the values, so the phase fitted on the regridded frame is the one
        # fitted on the single direction (cos θ, sin θ)
        phi = self._phi(np.array([math.cos(t.theta)]), np.array([math.sin(t.theta)]))
        c, s = math.cos(phi), math.sin(phi)
        freqs = np.fft.rfftfreq(TRACES_GRID, d=float(np.median(np.diff(t.grid))))
        for i, g in self._regridded.items():
            f = rows.get(i)
            if f is None:
                problems.append(f"trace {i}: missing")
                continue
            if not np.allclose(f["frequency"].to_numpy(), freqs, rtol=1e-12, atol=0.0):
                problems.append(f"trace {i}: frequency axis differs from np.fft.rfftfreq")
            x, y = g["X"].to_numpy(), g["Y"].to_numpy()
            for col, v in (("X", x * c - y * s), ("Y", x * s + y * c)):
                spec = np.fft.rfft(v)
                got = f[f"{col}_re"].to_numpy() + 1j * f[f"{col}_im"].to_numpy()
                if not np.allclose(got, spec, rtol=1e-6, atol=1e-6 * max(1.0, np.abs(spec).max())):
                    problems.append(f"trace {i} {col}: spectrum differs from np.fft.rfft")
        return problems


def make(name: str, work: str, root: str, seed: int):
    rng = np.random.default_rng(seed)
    if name == "traces":
        return TracesWorkload(os.path.join(work, "traces"), rng, seed)
    return SuiteWorkload(work, root, rng)
