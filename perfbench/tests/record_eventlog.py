"""Record the small event-log fixture the attribution test reads.

    python3 perfbench/tests/record_eventlog.py

Runs three tiny jobs in a local[2] session with the event log on: one
inside span 0 (``outer``), one with a shuffle inside span 1 (``inner``,
a child of span 0) and one outside any span. Keeps only the job and
task events, trimmed to the fields ``trace.parse_event_log`` reads,
and writes them with the spans to ``data/eventlog_small.json``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

from perfbench.trace import SPAN_PROPERTY, Tracer  # noqa: E402

KEEP = {
    "SparkListenerJobStart": ("Job ID", "Submission Time", "Stage IDs", "Properties"),
    "SparkListenerJobEnd": ("Job ID", "Completion Time"),
    "SparkListenerTaskEnd": ("Stage ID", "Task Info", "Task Metrics"),
}
TASK_INFO = ("Launch Time", "Finish Time")
TASK_METRICS = ("Executor Run Time", "Disk Bytes Spilled", "Shuffle Read Metrics",
                "Shuffle Write Metrics", "Output Metrics")


def _trim(ev: dict) -> dict:
    out = {"Event": ev["Event"], **{k: ev[k] for k in KEEP[ev["Event"]] if k in ev}}
    if "Properties" in out:
        out["Properties"] = {k: v for k, v in out["Properties"].items()
                             if k == SPAN_PROPERTY}
    if "Task Info" in out:
        out["Task Info"] = {k: out["Task Info"][k] for k in TASK_INFO}
    if "Task Metrics" in out:
        out["Task Metrics"] = {k: out["Task Metrics"][k] for k in TASK_METRICS
                               if k in out["Task Metrics"]}
    return out


def main() -> None:
    from pyspark.sql import SparkSession

    log_dir = tempfile.mkdtemp(prefix="perfbench_eventlog_")
    spark = (SparkSession.builder.master("local[2]").appName("eventlog-fixture")
             .config("spark.ui.enabled", "false")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + log_dir)
             .config("spark.eventLog.rolling.enabled", "false")
             .config("spark.eventLog.compress", "false")
             .config("spark.sql.adaptive.enabled", "false")
             .config("spark.sql.shuffle.partitions", "2")
             .getOrCreate())
    sc = spark.sparkContext
    tracer = Tracer("fixture", lambda v: sc.setLocalProperty(SPAN_PROPERTY, v))
    outer = tracer.open("outer", "test")
    spark.range(100).count()
    inner = tracer.open("inner", "test")
    df = spark.range(1000)
    df.groupBy((df.id % 10).alias("k")).count().collect()
    tracer.close(inner)
    tracer.close(outer)
    spark.range(10).collect()
    app_id = sc.applicationId
    spark.stop()
    with open(os.path.join(log_dir, app_id)) as f:
        events = [_trim(e) for e in map(json.loads, f) if e["Event"] in KEEP]
    shutil.rmtree(log_dir)
    spans = [{k: getattr(s, k) for k in ("id", "name", "layer", "parent", "run_id",
                                         "start", "end")} for s in tracer.spans]
    os.makedirs(os.path.join(HERE, "data"), exist_ok=True)
    with open(os.path.join(HERE, "data", "eventlog_small.json"), "w") as f:
        json.dump({"spans": spans, "events": events}, f, indent=1)


if __name__ == "__main__":
    main()
