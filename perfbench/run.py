"""Repository benchmark: one run of one workload, one JSON result line.

    python3 perfbench/run.py --workload build --seed 1 --seconds 10 --trace 0

Run it from the repository root (the package, ``bench.py`` and
``__spark_entry__.py`` are imported from the working directory). Every
file the run writes goes under ``.perfbench/<workload>/`` there: inputs,
warehouse, Spark's local and temp dirs, the event log, and the run's
artifact ``result.json`` (host record, output checks, per-query walls,
and with ``--trace 1`` the per-layer table).

The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics of BENCHMARK.json, with ``--trace 1`` its per-layer
metrics. The exit code is 0 only when that line was printed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys


def _isolate(work: str) -> None:
    """Keep Spark, the JVM and Python temp files inside the work dir,
    and let Spark's Python workers import the package from the root."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    root = os.getcwd()
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE_DIR"] = os.path.join(work, "spark-warehouse")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, root)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("build", "queries"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(os.getcwd(), ".perfbench", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work)
    from perfbench import workloads

    out = workloads.run(args.workload, work, args.seed, args.seconds, bool(args.trace))
    with open(os.path.join(work, "result.json"), "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                   **out}, f, indent=1, default=str)
    line = {
        "correct": out["correct"], "attempted": out["attempted"], "failed": out["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out["metrics"].items()},
    }
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
