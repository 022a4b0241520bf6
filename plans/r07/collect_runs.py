"""Assemble a committed before/after record of perfbench runs.

Each input is the ``result.json`` that one ``perfbench/run.py
--workload <w> --seed N`` run leaves under ``.perfbench/<w>/``,
copied aside and labelled ``before`` (parent commit) or ``after``
(this change). Traced runs (``--trace 1``) contribute their per-layer
table, untraced ones their end-to-end metrics; every run keeps its
seed, output check and host record (cores, RAM, Spark/Java, session
conf, steal/load of the timed window).

    python3 plans/r07/collect_runs.py --out plans/r07/build_runs.json \
        before:/path/a.json after:/path/b.json ...

Runs are listed in the order given, which is the order they ran in
(before/after alternating).
"""

from __future__ import annotations

import argparse
import json
import statistics

# session conf keys that differ per process, not per configuration
_VOLATILE = ("spark.app.id", "spark.app.startTime", "spark.app.submitTime",
             "spark.driver.port", "spark.eventLog.dir")


def _run(label: str, path: str) -> dict:
    with open(path) as f:
        d = json.load(f)
    rec = d["record"]
    host = dict(rec["host"])
    host["session_conf"] = {k: v for k, v in host.get("session_conf", {}).items()
                            if k not in _VOLATILE and "dir" not in k.lower()}
    metrics = {k: v[0] if isinstance(v, list) else v for k, v in d["metrics"].items()}
    return {"label": label, "workload": d["workload"], "seed": d["seed"], "trace": d["trace"],
            "correct": d["correct"], "failed": d["failed"],
            "checks": rec.get("checks"), "host_window": rec.get("host_window"),
            "sizes": rec.get("sizes"), "host": host, "metrics": metrics}


def _summary(runs: list[dict]) -> dict:
    """Per (workload, trace): each side's median wall, the parent's
    quartile spread, and how many same-seed pairs the change won."""
    out = {}
    for wl in sorted({r["workload"] for r in runs}):
        for trace in (0, 1):
            key = "wall_s" if trace == 0 else "trace.wall_s"
            side = {lb: {r["seed"]: r["metrics"][key] for r in runs
                         if (r["workload"], r["trace"], r["label"]) == (wl, trace, lb)}
                    for lb in ("before", "after")}
            seeds = sorted(set(side["before"]) & set(side["after"]))
            if not seeds:
                continue
            before = [side["before"][s] for s in seeds]
            after = [side["after"][s] for s in seeds]
            q = statistics.quantiles(before, n=4) if len(before) > 1 else [0.0, 0.0, 0.0]
            out[f"{wl}.trace{trace}"] = {
                "seeds": seeds,
                "before_median_s": statistics.median(before),
                "after_median_s": statistics.median(after),
                "before_iqr_s": q[2] - q[0],
                "median_change": statistics.median(after) / statistics.median(before) - 1,
                "pairs_after_faster": sum(a < b for a, b in zip(after, before)),
            }
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("runs", nargs="+", help="label:path, label in {before, after}")
    args = ap.parse_args()
    runs = [_run(*item.split(":", 1)) for item in args.runs]
    with open(args.out, "w") as f:
        json.dump({"summary": _summary(runs), "runs": runs}, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
