"""Benchmark for polars_dataset_spark: one workload per run, serial, from
a single submitter thread at ``local[<cores>]``.

    python3 perfbench/run.py --workload traces --seed 1 --seconds 12 --trace 0

Run it from the repository root: the library is imported from the
working directory, on the driver and on the Python workers alike.

A run generates its inputs from ``--seed``, starts a session in a fresh
JVM and warms it up (``setup_s``), checks every operation's output once,
then runs whole passes over the workload's operation list until
``--seconds`` have passed. With ``--trace 0`` it reports the end-to-end
metrics; with ``--trace 1`` it enables Spark's event log through the
launcher and reports per-layer metrics instead. The last line of
standard output is one JSON object.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import re
import shutil
import statistics
import sys
import time

T_PROCESS = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
MIN_PASSES = 3


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", default="nproc", help="'nproc' or a number")
    p.add_argument("--driver-memory", default="2g")
    p.add_argument("--local-dirs", default="perfbench/.work/spark-local")
    p.add_argument("--submitters", type=int, default=1, choices=(1,))
    return p.parse_args(argv)


def _configure_env(args, work: str, cores: int, event_dir: str | None) -> None:
    """Everything a run writes stays under the checkout: Spark's local
    dirs, the JVM's and Python's temp dirs and the event log."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(os.path.abspath(args.local_dirs), os.path.basename(work))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = args.driver_memory
    # read by every JVM the launch starts, the launcher's included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    submit = []
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        submit += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{event_dir}",
            # Spark 4.1 compresses event logs with zstd by default, which
            # the Python standard library cannot read
            "--conf spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])


def _stop_jvm(spark) -> None:
    """Stop the session, then the JVM the Python driver launched, and wait
    until it has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _describe(exc: Exception) -> str:
    """The exception's type and the line that names the root error (for a
    failure on a Python worker, e.g. ``ModuleNotFoundError: ...``)."""
    lines = [ln.strip() for ln in str(exc).splitlines() if ln.strip()]
    cause = next((ln for ln in reversed(lines) if re.match(r"\w+(Error|Exception): ", ln)), "")
    return f"{type(exc).__name__}: {(lines or [''])[0][:200]} {cause[:200]}".strip()


def _pct(values: list[float], q: float) -> float:
    import numpy as np

    return float(np.percentile(values, q))


def run(args) -> dict:
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "polars_dataset_spark", "__init__.py")):
        raise SystemExit(
            "perfbench: run from the repository root (no polars_dataset_spark package here)"
        )
    cores = len(os.sched_getaffinity(0)) if args.cores == "nproc" else int(args.cores)
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    event_dir = os.path.join(work, "eventlog") if args.trace else None
    _configure_env(args, work, cores, event_dir)
    sys.path.insert(0, root)

    import layers
    import workloads

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"perfbench: unknown workload {args.workload!r}; one of {workloads.WORKLOADS}")
    from polars_dataset_spark.session import get_spark

    wl = workloads.make(args.workload, os.path.join(work, "inputs"), root, args.seed)
    t_inputs = time.perf_counter()

    # -- set-up: session start in a fresh JVM, plus warm-up ------------------
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    wl.warm(spark)
    t_setup = time.perf_counter()
    start_s, warmup_s = t1 - t0, t_setup - t1

    streams = None
    if args.trace:
        streams = layers.StreamCounter()
        spark.streams.addListener(streams.listener)

    # -- warm-up and output check, once, outside the timed region -----------
    # each operation's result goes through the timed path (a noop write)
    # once, so its code is compiled before timing, then through its check
    ops = wl.ops(spark)
    attempted = failed = 0
    problems: dict[str, list[str]] = {}
    for op in ops:
        attempted += 1
        try:
            out = op.build()
            _noop(workloads.as_frame(out))
            found = op.check(out)
        except Exception as exc:  # an operation that raises is a failed one
            found = [_describe(exc)]
        if found:
            failed += 1
            problems[op.name] = found
    spark.catalog.clearCache()
    gc.collect()
    t_checked = time.perf_counter()

    # -- timed passes ----------------------------------------------------------
    spans = layers.Spans()
    latencies: list[float] = []
    op_lat: dict[str, list[float]] = {op.name: [] for op in ops}
    passes: list[float] = []
    persisted, mem_bytes = [], []
    if streams:
        streams.reset()  # count the timed passes only
    t_timed = time.perf_counter()
    while len(passes) < MIN_PASSES or time.perf_counter() - t_timed < args.seconds:
        p0 = time.perf_counter()
        for op in ops:
            attempted += 1
            t0, w0 = time.perf_counter(), time.time()
            try:
                df = workloads.as_frame(op.build())
                if args.trace:
                    w1 = time.time()
                    df._jdf.queryExecution().executedPlan()
                    w2 = time.time()
                _noop(df)
            except Exception as exc:
                failed += 1
                problems.setdefault(op.name, []).append(f"timed run: {_describe(exc)}")
                continue
            finally:
                df = None
            latencies.append(time.perf_counter() - t0)
            op_lat[op.name].append(latencies[-1])
            if args.trace:
                w3 = time.time()
                spans.add(w0, w1, op.name, "build")
                spans.add(w1, w2, op.name, "plan")
                spans.add(w2, w3, op.name, "exec")
                n, b = layers.storage(spark)
                persisted.append(n)
                mem_bytes.append(b)
        passes.append(time.perf_counter() - p0)
        # between passes, outside the timed region: drop what the pass cached
        gc.collect()
        spark.catalog.clearCache()
    t_done = time.perf_counter()
    stream_metrics = streams.metrics() if streams else {}
    _stop_jvm(spark)
    wl.close()
    if not latencies:
        for name, found in problems.items():
            print(f"{args.workload}  FAILED {name}: {'; '.join(found)}", file=sys.stderr)
        raise SystemExit("perfbench: every operation failed; nothing was measured")

    n_pass = len(passes)
    result = {
        "workload": args.workload,
        "seed": args.seed,
        "order": [op.name for op in ops],
        "settings": {
            "cores": cores,
            "master": f"local[{cores}]",
            "driver_memory": args.driver_memory,
            "spark_local_dirs": os.environ["SPARK_LOCAL_DIRS"],
            "submitter_threads": args.submitters,
            "working_directory": root,
        },
        "phases_s": {
            "inputs": t_inputs - T_PROCESS,
            "session_start": start_s,
            "warmup": warmup_s,
            "check": t_checked - t_setup,
            "timed": t_done - t_timed,
        },
        "passes": passes,
        "samples": len(latencies),
        "op_median_s": {k: statistics.median(v) for k, v in op_lat.items() if v},
        "attempted": attempted,
        "failed": failed,
        "problems": problems,
        "end_to_end": {
            "setup_s": (start_s + warmup_s, "s"),
            "pass_s": (statistics.median(passes), "s"),
            "op_s.p50": (_pct(latencies, 50), "s"),
            "op_s.p90": (_pct(latencies, 90), "s"),
        },
        "failed_frac": failed / attempted,
    }
    if args.trace:
        lay, lay_ops = layers.attribute(event_dir, spans)
        per = {k: v / n_pass for k, v in lay.items() if k != "tasks.failed"}
        result["per_op"] = {
            op: {
                **{f"{p}.s": spans.seconds(p, op) / n_pass for p in layers.PHASES},
                **{k: v / n_pass for k, v in counts.items()},
            }
            for op, counts in lay_ops.items()
        }
        build_s, plan_s, exec_s = (spans.seconds(p) / n_pass for p in layers.PHASES)
        per_layer = {
            "session.start_s": (start_s, "s"),
            "session.warmup_s": (warmup_s, "s"),
            "build.s": (build_s, "s"),
            "build.jobs": (per["build.jobs"], "count"),
            "build.tasks": (per["build.tasks"], "count"),
            "plan.s": (plan_s, "s"),
            "exec.s": (exec_s, "s"),
            "exec.jobs": (per["exec.jobs"], "count"),
            "exec.tasks": (per["exec.tasks"], "count"),
            "exec.run_ms": (per["exec.run_ms"], "ms"),
            "exec.cpu_ms": (per["exec.cpu_ms"], "ms"),
            "exec.gc_ms": (per["exec.gc_ms"], "ms"),
            "exec.slot_util": (per["exec.run_ms"] / (1000.0 * exec_s * cores), "ratio"),
            "python.start_ms": (per.get("python.start_ms", 0.0), "ms"),
            "python.init_ms": (per.get("python.init_ms", 0.0), "ms"),
            "python.run_ms": (per.get("python.run_ms", 0.0), "ms"),
            "python.bytes_sent": (per.get("python.bytes_sent", 0.0), "bytes"),
            "python.bytes_returned": (per.get("python.bytes_returned", 0.0), "bytes"),
            "python.resend_ratio": (
                per.get("python.bytes_sent", 0.0) / (wl.input_bytes * len(ops)),
                "ratio",
            ),
            "shuffle.write_bytes": (per["shuffle.write_bytes"], "bytes"),
            "shuffle.read_bytes": (per["shuffle.read_bytes"], "bytes"),
            "shuffle.fetch_wait_ms": (per["shuffle.fetch_wait_ms"], "ms"),
            "shuffle.spill_bytes": (per["shuffle.spill_bytes"], "bytes"),
            "driver.result_bytes": (per["driver.result_bytes"], "bytes"),
            "storage.persisted_rdds": (max(persisted, default=0), "count"),
            "storage.mem_bytes": (max(mem_bytes, default=0), "bytes"),
            "io.input_bytes": (per["io.input_bytes"], "bytes"),
            "io.output_bytes": (per["io.output_bytes"], "bytes"),
            "stream.batches": (stream_metrics["stream.batches"] / n_pass, "count"),
            "stream.trigger_ms": (stream_metrics["stream.trigger_ms"] / n_pass, "ms"),
            "stream.commit_ms": (stream_metrics["stream.commit_ms"] / n_pass, "ms"),
            "tasks.failed": (lay["tasks.failed"], "count"),
            "trace.pass_s": (statistics.median(passes), "s"),
        }
        result["per_layer"] = per_layer
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(os.environ["SPARK_LOCAL_DIRS"], ignore_errors=True)
    return result


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    res = run(args)
    metrics = res["per_layer"] if args.trace else res["end_to_end"]
    for name, (value, unit) in metrics.items():
        print(f"{res['workload']}  {name} = {value:.6g} {unit}")
    print(f"{res['workload']}  failed_frac = {res['failed_frac']:.6g} ratio"
          f"  ({res['failed']} of {res['attempted']} operations)")
    passes = [round(p, 3) for p in res["passes"]]
    print(f"{res['workload']}  passes = {len(passes)} {passes}, op samples = {res['samples']}, "
          f"order = {' '.join(res['order'])}")
    print(f"{res['workload']}  op_median_s = {json.dumps(res['op_median_s'])}")
    print(f"{res['workload']}  phases_s = {json.dumps(res['phases_s'])}")
    print(f"{res['workload']}  settings = {json.dumps(res['settings'])}")
    for op, row in res.get("per_op", {}).items():
        print(f"{res['workload']}  per_op {op} = {json.dumps({k: round(v, 4) for k, v in row.items()})}")
    for name, found in res["problems"].items():
        print(f"{res['workload']}  FAILED {name}: {'; '.join(found)}")
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
