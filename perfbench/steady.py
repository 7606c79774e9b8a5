"""Repeat the benchmark over seeds and report each metric's spread.

    python3 perfbench/steady.py --seeds 1-10 --out perfbench/results/steady.json

Runs the command in ``BENCHMARK.json`` once per (workload, seed), one run
at a time, from the working directory (the repository root), for
``run_seconds``. For every metric it
reports the median and the spread: the distance between the first and
third quartile (``statistics.quantiles(values, n=4)``) as a share of the
median. With ``--trace 1`` it also says which per-layer counts repeat
exactly across the runs. ``--against`` compares the medians with those
of an earlier summary, as a share of the earlier one. ``--trace both`` runs each seed untraced and
then traced, back to back, so that the tracing overhead (traced minus
untraced ``pass_s``, per seed) is not confounded with the host's drift.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> float | None:
    """(Q3 - Q1) / median; None when the median is 0."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else None


def _run(bench: dict, wl: str, seed: int, seconds: str, trace: str) -> dict:
    cmd = bench["command"] + [
        "--workload", wl, "--seed", str(seed), "--seconds", seconds, "--trace", trace,
    ]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        print(proc.stderr[-2000:], file=sys.stderr)
        raise SystemExit(f"{wl} seed {seed} trace {trace}: exit code {proc.returncode}")
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    res["seed"], res["wall_s"] = seed, round(wall, 1)
    # the checkout's location is not part of the evidence
    res["detail"] = [
        ln.replace(os.getcwd(), ".") for ln in proc.stdout.splitlines() if ln.startswith(f"{wl}  ")
    ]
    print(f"{wl} seed {seed} trace {trace} ({wall:.0f} s): "
          + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
          flush=True)
    return res


def _summarise(wl: str, runs: list[dict], bounds: dict[str, float], before: dict | None) -> dict:
    metrics = {}
    for name, first in runs[0]["metrics"].items():
        vals = [r["metrics"][name]["value"] for r in runs]
        m = metrics[name] = {
            "unit": first["unit"],
            "median": statistics.median(vals),
            "spread": spread(vals) if len(vals) > 1 else None,
            "repeats_exactly": len(set(vals)) == 1,
            "values": vals,
        }
        if name in bounds:
            m["bound"] = bounds[name]
        if before and name in before:
            m["vs_before"] = m["median"] / before[name]["median"] - 1.0
    for name, m in metrics.items():
        sp = "n/a" if m["spread"] is None else f"{m['spread']:.3f}"
        print(f"{wl}  {name}: median {m['median']:.4g} {m['unit']}, spread {sp}"
              + (f" (bound {m['bound']})" if "bound" in m else "")
              + (f", {m['vs_before']:+.3f} vs before" if "vs_before" in m else "")
              + (", repeats exactly" if m["repeats_exactly"] else ""))
    return {
        "runs": len(runs),
        "all_correct": all(r["correct"] for r in runs),
        "failed": sum(r["failed"] for r in runs),
        "attempted": sum(r["attempted"] for r in runs),
        "wall_s": [r["wall_s"] for r in runs],
        "detail": {r["seed"]: r["detail"] for r in runs},
        "metrics": metrics,
    }


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workloads", nargs="+", help="default: all in BENCHMARK.json")
    p.add_argument("--seeds", default="1-10", help="first-last, inclusive")
    p.add_argument("--trace", default="0", choices=("0", "1", "both"))
    p.add_argument("--out", help="write the summary here as JSON")
    p.add_argument("--against", help="an earlier summary of untraced runs to compare medians with")
    args = p.parse_args(argv)
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    args.workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    args.seconds = str(bench["run_seconds"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    before = {}
    if args.against:
        with open(args.against) as fh:
            prev = json.load(fh)
        before = prev.get("untraced") or prev["workloads"]

    modes = ["0", "1"] if args.trace == "both" else [args.trace]
    summary: dict[str, dict[str, dict]] = {m: {} for m in modes}
    overhead: dict[str, dict] = {}
    for wl in args.workloads:
        runs: dict[str, list[dict]] = {m: [] for m in modes}
        for seed in _seeds(args.seeds):
            for mode in modes:
                runs[mode].append(_run(bench, wl, seed, args.seconds, mode))
        for mode in modes:
            prev = before.get(wl, {}).get("metrics") if mode == "0" else None
            summary[mode][wl] = _summarise(wl, runs[mode], bounds, prev)
        if args.trace == "both":
            diffs = [
                t["metrics"]["trace.pass_s"]["value"] - u["metrics"]["pass_s"]["value"]
                for u, t in zip(runs["0"], runs["1"])
            ]
            base = statistics.median(u["metrics"]["pass_s"]["value"] for u in runs["0"])
            overhead[wl] = {
                "per_seed_s": diffs,
                "median_s": statistics.median(diffs),
                "median_share": statistics.median(diffs) / base,
            }
            print(f"{wl}  tracing overhead: median {overhead[wl]['median_s']:+.3f} s "
                  f"({overhead[wl]['median_share']:+.1%} of pass_s)")
    if args.out:
        with open(args.out, "w") as fh:
            doc = {"command": bench["command"], "seeds": args.seeds, "seconds": args.seconds,
                   "trace": args.trace, "against": args.against}
            if args.trace == "both":
                doc.update(untraced=summary["0"], traced=summary["1"], tracing_overhead=overhead)
            else:
                doc["workloads"] = summary[args.trace]
            json.dump(doc, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
