#!/usr/bin/env python3
"""Measure the benchmark's baseline: two sets of runs, their spreads and
whether they agree.

Each set runs every workload once per seed.  The two sets are interleaved
(a run of set 1, then one of set 2, with the workload order alternating), so
that the host's drift over the measurement falls on both sets alike.  For
each set, workload and end-to-end metric it reports the median, the
quartiles (as ``statistics.quantiles(values, n=4)`` gives them) and the
spread, the distance between the quartiles as a share of the median; and
for each workload and metric the change of the second set's median against
the first's.  The sets agree when every spread and every change stays within
the metric's bound from BENCHMARK.json.  Then one ``--trace 1`` run per
workload records the per-layer metrics.

Usage, from the repository root:
    python3 perfbench/repeat.py [--runs 10] [--first-seed 21] [--out perfbench/baseline.json]
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if __name__ == "__main__":  # run as a script: the repository root holds the packages
    sys.path.insert(0, str(ROOT))

from perfbench.run import WORKLOADS  # noqa: E402

SETS = 2


def host() -> dict:
    """The hardware the runs were measured on."""
    with open("/proc/cpuinfo") as f:
        model = next((line.split(":", 1)[1].strip() for line in f
                      if line.startswith("model name")), platform.processor())
    with open("/proc/meminfo") as f:
        mem_kib = int(f.readline().split()[1])
    return {"nproc": len(os.sched_getaffinity(0)), "cpu": model,
            "mem_gib": round(mem_kib / 2**20, 1), "python": platform.python_version()}


def summary(values: list[float]) -> dict:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None, "values": values}


def bench_run(bench: dict, workload: str, seed: int, trace: int) -> dict:
    """One run of the benchmark's command; its result and its run record."""
    cmd = [*bench["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(bench["run_seconds"]), "--trace", str(trace)]
    start = time.perf_counter()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - start
    if out.returncode != 0:
        sys.exit(f"{workload} seed {seed} exited {out.returncode}:\n{out.stderr[-3000:]}")
    result = json.loads(out.stdout.strip().splitlines()[-1])
    record = json.loads((ROOT / ".perfbench-work" / "out" /
                         f"{workload}-seed{seed}-trace{trace}.json").read_text())
    print(f"{workload} seed={seed} trace={trace} wall={wall:.1f}s correct={result['correct']} "
          f"failed={result['failed']}/{result['attempted']} " + " ".join(
              f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
    return {"seed": seed, "wall_s": wall, "result": result, "record": record}


def set_summary(bench: dict, runs: list[dict]) -> dict:
    """Spreads of one set of runs of one workload."""
    metrics = {}
    for m in bench["end_to_end"]:
        metrics[m["name"]] = summary([r["result"]["metrics"][m["name"]]["value"] for r in runs])
    # end-to-end metrics that are printed but not in BENCHMARK.json
    for name in runs[0]["record"]["end_to_end"].keys() - metrics.keys():
        metrics[name] = summary([r["record"]["end_to_end"][name] for r in runs])
    return {
        "seeds": [r["seed"] for r in runs],
        "wall_s": summary([r["wall_s"] for r in runs]),
        "steady_passes": [r["record"]["steady_passes"] for r in runs],
        "steal_ticks": [sum(s["steal_ticks"] for s in r["record"]["samples"]) for r in runs],
        "failed": sum(r["result"]["failed"] for r in runs),
        "attempted": sum(r["result"]["attempted"] for r in runs),
        "metrics": metrics,
    }


def agreement(bench: dict, sets: list[dict]) -> dict:
    """Per metric of BENCHMARK.json: each set's median and spread, the
    second median's change against the first, and whether all stay within
    the bound."""
    out = {}
    for m in bench["end_to_end"]:
        first, second = (s["metrics"][m["name"]] for s in sets)
        change = second["median"] / first["median"] - 1
        out[m["name"]] = {
            "median_1": first["median"], "median_2": second["median"], "change": change,
            "spread_1": first["spread"], "spread_2": second["spread"], "bound": m["bound"],
            "within_bound": max(abs(change), first["spread"], second["spread"]) <= m["bound"],
        }
    return out


def traced_run(bench: dict, workload: str, seed: int) -> dict:
    r = bench_run(bench, workload, seed, trace=1)["record"]
    keep = ("seed", "nproc", "spark_version", "steady_passes", "trace_overhead_pairs",
            "end_to_end", "per_layer", "per_query")
    return {k: r[k] for k in keep}


def main() -> None:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--runs", type=int, default=10, help="runs per set and workload")
    ap.add_argument("--first-seed", type=int, default=21)
    ap.add_argument("--traced", default=",".join(sorted(WORKLOADS)),
                    help="workloads given one traced run; empty for none")
    ap.add_argument("--out")
    args = ap.parse_args()
    workloads = args.workloads.split(",")
    # set k, run i uses seed first + k * runs + i
    seeds = [[args.first_seed + k * args.runs + i for i in range(args.runs)] for k in range(SETS)]
    started = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    runs = {(k, w): [] for k in range(SETS) for w in workloads}
    for i in range(args.runs):
        for k in range(SETS):
            order = workloads if (i + k) % 2 == 0 else workloads[::-1]
            for w in order:
                runs[k, w].append(bench_run(bench, w, seeds[k][i], trace=0))

    report = {
        "about": "Baseline of the benchmark in BENCHMARK.json, made by perfbench/repeat.py: "
                 f"{SETS} interleaved sets of {args.runs} runs per workload (set k, run i has "
                 f"seed {args.first_seed} + k*{args.runs} + i); per set each metric's median, "
                 "quartiles (statistics.quantiles(n=4)) and spread ((q3-q1)/median); "
                 "'agreement' compares the sets' medians against the bounds; 'traced' holds "
                 "one --trace 1 run per workload.",
        "host": host(), "run_seconds": bench["run_seconds"], "started": started,
        "sets": [{w: set_summary(bench, runs[k, w]) for w in workloads} for k in range(SETS)],
    }
    report["agreement"] = {
        w: agreement(bench, [report["sets"][k][w] for k in range(SETS)]) for w in workloads
    }
    report["traced"] = {w: traced_run(bench, w, 1) for w in filter(None, args.traced.split(","))}
    report["finished"] = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())

    for w, rows in report["agreement"].items():
        print(f"== {w}")
        for name, a in rows.items():
            print(f"  {name:<16s} median {a['median_1']:>10.4f} -> {a['median_2']:>10.4f} "
                  f"change {a['change']:+.3f} spreads {a['spread_1']:.3f} {a['spread_2']:.3f} "
                  f"bound {a['bound']} {'ok' if a['within_bound'] else 'OUTSIDE'}")
    if args.out:
        Path(args.out).write_text(json.dumps(report, indent=1) + "\n")


if __name__ == "__main__":
    main()
