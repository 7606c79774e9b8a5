"""Per-layer attribution for the traced run, from outside the library.

Sources, all Spark's own:

- the event log (``spark.eventLog.*``, set through the launcher): every
  job, stage and task with its metrics, and the SQL metrics of the
  Python exec nodes;
- the benchmark's phase spans (build, plan, exec per operation): a job
  belongs to the phase during which it was *submitted*. Job descriptions
  are not used, because Structured Streaming overwrites them with its
  run id;
- a ``StreamingQueryListener`` for micro-batch counts and durations;
- ``SparkContext.getRDDStorageInfo`` for what is persisted.
"""

from __future__ import annotations

import bisect
import json
import os
import threading
from collections import defaultdict

PHASES = ("build", "plan", "exec")

# Python exec-node SQL metrics, by the names the event log gives them.
_PY_METRICS = {
    "time to start Python workers": "python.start_ms",
    "time to initialize Python workers": "python.init_ms",
    "time to run Python workers": "python.run_ms",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}


class Spans:
    """Phase spans kept in memory: (start, end, operation, phase), epoch
    seconds. Spans never overlap: the benchmark runs one phase at a time."""

    def __init__(self) -> None:
        self.rows: list[tuple[float, float, str, str]] = []

    def add(self, t0: float, t1: float, op: str, phase: str) -> None:
        self.rows.append((t0, t1, op, phase))

    def at(self, t: float) -> tuple[str, str] | None:
        """The (operation, phase) running at epoch time ``t``."""
        i = bisect.bisect_right(self.rows, (t, float("inf"))) - 1
        if i >= 0 and self.rows[i][0] <= t <= self.rows[i][1]:
            return self.rows[i][2], self.rows[i][3]
        return None

    def seconds(self, phase: str, op: str | None = None) -> float:
        return sum(t1 - t0 for t0, t1, o, p in self.rows if p == phase and op in (None, o))


def _task_metrics(ev: dict) -> dict[str, float]:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    out = {
        "run_ms": m.get("Executor Run Time", 0),
        "cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
        "gc_ms": m.get("JVM GC Time", 0),
        "result_bytes": m.get("Result Size", 0),
        "shuffle.write_bytes": sw.get("Shuffle Bytes Written", 0),
        "shuffle.read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle.fetch_wait_ms": sr.get("Fetch Wait Time", 0),
        "shuffle.spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "io.input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
        "io.output_bytes": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
    }
    for acc in (ev.get("Task Info") or {}).get("Accumulables") or []:
        key = _PY_METRICS.get(acc.get("Name"))
        if key is not None:
            try:
                out[key] = out.get(key, 0) + float(acc.get("Update") or 0)
            except (TypeError, ValueError):
                pass
    return out


_SUMMED = (
    "result_bytes",
    "shuffle.write_bytes",
    "shuffle.read_bytes",
    "shuffle.fetch_wait_ms",
    "shuffle.spill_bytes",
    "io.input_bytes",
    "io.output_bytes",
    *_PY_METRICS.values(),
)


def _layer_view(by_phase: dict[str, dict[str, float]]) -> dict[str, float]:
    out = {f"{p}.{k}": by_phase[p][k] for p in ("build", "exec") for k in ("jobs", "tasks")}
    out.update({f"exec.{k}": by_phase["exec"][k] for k in ("run_ms", "cpu_ms", "gc_ms")})
    # layers that cut across phases: summed over all phases of the operations
    for key in _SUMMED:
        name = "driver.result_bytes" if key == "result_bytes" else key
        out[name] = sum(by_phase[p][key] for p in PHASES)
    return out


def attribute(log_dir: str, spans: Spans) -> tuple[dict[str, float], dict[str, dict[str, float]]]:
    """Sum the event logs in ``log_dir`` into per-layer counters, each job
    attributed to the operation and phase during which it was submitted.
    Returns (totals over all operations, the same per operation); jobs
    submitted outside every span (the output check, cleanup) are left out.
    """
    stage_job: dict[int, int] = {}
    job_at: dict[int, tuple[str, str] | None] = {}
    acc: dict[tuple[str, str], dict[str, float]] = defaultdict(lambda: defaultdict(float))
    failed = 0
    # Spark 4 writes one directory per application, holding events_* files
    paths = sorted(
        os.path.join(d, f)
        for d, _, files in os.walk(log_dir)
        for f in files
        if f.startswith("events_")
    )
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    job = ev["Job ID"]
                    job_at[job] = where = spans.at(ev["Submission Time"] / 1000.0)
                    if where:
                        acc[where]["jobs"] += 1
                    for s in ev.get("Stage IDs", []):
                        stage_job.setdefault(s, job)
                elif kind == "SparkListenerTaskEnd":
                    where = job_at.get(stage_job.get(ev.get("Stage ID")))
                    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                        failed += 1
                    if where:
                        acc[where]["tasks"] += 1
                        for k, v in _task_metrics(ev).items():
                            acc[where][k] += v
    ops = sorted({op for op, _ in acc} | {r[2] for r in spans.rows})
    empty: dict[str, float] = defaultdict(float)
    per_op = {op: _layer_view({p: acc.get((op, p), empty) for p in PHASES}) for op in ops}
    totals = {k: sum(v[k] for v in per_op.values()) for k in _layer_view({p: empty for p in PHASES})}
    totals["tasks.failed"] = failed
    return totals, per_op


class StreamCounter:
    """Counts micro-batches and their trigger and commit durations."""

    def __init__(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        counter = self
        self._lock = threading.Lock()
        self.reset()

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                d = event.progress.durationMs or {}
                with counter._lock:
                    counter.batches += 1
                    counter.trigger_ms += d.get("triggerExecution", 0)
                    counter.commit_ms += d.get("walCommit", 0) + d.get("commitOffsets", 0)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()

    def reset(self) -> None:
        with self._lock:
            self.batches = 0
            self.trigger_ms = 0.0
            self.commit_ms = 0.0

    def metrics(self) -> dict[str, float]:
        with self._lock:
            return {
                "stream.batches": self.batches,
                "stream.trigger_ms": self.trigger_ms,
                "stream.commit_ms": self.commit_ms,
            }


def storage(spark) -> tuple[int, int]:
    """(persisted RDDs, bytes they hold in memory)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return len(infos), sum(int(i.memSize()) for i in infos)

