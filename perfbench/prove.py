"""Repeat the benchmark over seeds and summarize it as a baseline record.

    python3 perfbench/prove.py --seeds 1-10 [--workloads build,queries] \
        [--out perfbench/baseline.json]

For each workload: one run per seed with tracing off, then one traced
run (first seed). Prints, per end-to-end metric, the median and the
quartile spread (Q3 - Q1) / median next to the metric's bound, and
writes a record with the host, every run's result line, the traced
per-layer table, the tracing overhead (traced wall minus the untraced
median) and the single-pass sizes. Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.stats import median, quartile_spread  # noqa: E402


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=600)
    run_s = time.perf_counter() - t0
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}")
    line = json.loads(proc.stdout.strip().splitlines()[-1])
    with open(os.path.join(".perfbench", workload, "result.json")) as f:
        record = json.load(f)["record"]
    return {"seed": seed, "trace": trace, "run_s": run_s, "line": line, "record": record}


def summarize(bench: dict, runs: list[dict]) -> dict:
    out = {}
    for m in bench["end_to_end"]:
        vals = [r["line"]["metrics"][m["name"]]["value"] for r in runs]
        out[m["name"]] = {"unit": m["unit"], "median": median(vals),
                          "spread": quartile_spread(vals), "bound": m["bound"],
                          "values": vals}
    return out


def _record_outputs(checks: list, seeds: list[int]) -> None:
    path = os.path.join(HERE, "recorded.json")
    recorded = {}
    if os.path.exists(path):
        with open(path) as f:
            recorded = json.load(f)
    build = recorded.setdefault("build", {})
    for seed, check in zip(seeds, checks):
        c = check[0]
        build[str(seed)] = {k: c[k] for k in ("n_triples", "n_kg_nodes", "n_kg_edges",
                                               "kg_digest")}
    with open(path, "w") as f:
        json.dump(recorded, f, indent=1, sort_keys=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--out", default=None)
    ap.add_argument("--record", action="store_true",
                    help="write the build outputs of every seed run to "
                         "perfbench/recorded.json (checked by later runs)")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    names = args.workloads.split(",") if args.workloads else [
        w["name"] for w in bench["workloads"]]
    seeds = _seeds(args.seeds)
    record = {"benchmark": bench, "workloads": {}}
    for name in names:
        runs = [run_once(name, s, bench["run_seconds"], 0) for s in seeds]
        traced = run_once(name, seeds[0], bench["run_seconds"], 1)
        summary = summarize(bench, runs)
        untraced_wall = summary["wall_s"]["median"]
        per_layer = traced["record"]["per_layer"]
        record["host"] = traced["record"]["host"]
        record["workloads"][name] = {
            "end_to_end": summary,
            "failed": sum(r["line"]["failed"] for r in runs + [traced]),
            "attempted": sum(r["line"]["attempted"] for r in runs + [traced]),
            "run_s": [round(r["run_s"], 1) for r in runs],
            "sizes": traced["record"].get("sizes"),
            "traced": {"seed": traced["seed"], "per_layer": per_layer,
                       "tracing_overhead_s": per_layer["trace.wall_s"] - untraced_wall,
                       "per_query": traced["record"].get("per_query"),
                       "checks": traced["record"].get("checks")},
            "host_windows": [r["record"]["host_window"] for r in runs],
            "checks": [r["record"].get("checks") for r in runs],
        }
        print(f"== {name}: {len(runs)} runs, run_s median {median([r['run_s'] for r in runs]):.1f}")
        for k, s in summary.items():
            flag = "" if k == "setup_s" or s["spread"] < s["bound"] / 3 else "  <-- above bound/3"
            print(f"  {k:12s} median {s['median']:10.3f} {s['unit']:5s} "
                  f"spread {s['spread']:.4f} bound {s['bound']}{flag}")
    if args.record and "build" in record["workloads"]:
        _record_outputs(record["workloads"]["build"]["checks"], seeds)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
