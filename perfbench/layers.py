"""Per-layer metrics of a traced run, named after the package's modules.

``install`` patches the attribute each caller looks up:

- ``plans.pipeline``: the stage functions, and the operator names the
  pipeline module imported (``reassemble``, ``extract_triples`` ...);
- the graph kernels LPA and modularity as bound in ``__spark_entry__``
  (the contract queries);
- ``catalog.Catalog``: the public write methods;
- ``checkpoint``: the bookkeeping functions;
- ``functions.caching``: ``track`` (and every operator module's imported
  binding of it) and ``release_caches``.

``per_layer`` turns spans plus the Spark event log into the fixed
metric list ``METRICS``; a layer the workload never calls reports 0.
"""

from __future__ import annotations

import importlib
import os

from .trace import (
    Tracer,
    attribute,
    driver_time,
    jobs_under,
    self_times,
    subtree,
    task_skew,
    work_of,
)

PKG = "aisafetyintervention_literatureextraction_spark"

STAGES = {
    "a": "stage_a_reassemble", "b": "stage_b_extract", "c": "stage_c_canonicalize",
    "d": "stage_d_materialize",
}
PIPELINE_OPS = ("reassemble", "extract_triples", "extract_nodes", "similarity_edges",
                "bucket_join_pairs", "verify_pairs", "connected_components",
                "materialize_from_agg")
KERNELS = ("label_propagation", "modularity")
OPERATORS = PIPELINE_OPS + KERNELS
CATALOG_WRITES = ("append", "overwrite", "merge_upsert", "merge_combine",
                  "maybe_compact", "vacuum")
CHECKPOINT_FNS = ("reconcile", "reconcile_versions", "pending", "mark_processed",
                  "write_lineage", "write_metrics")
TRACK_BINDINGS = ("operators.graph_analytics", "operators.dedup",
                  "operators.canonicalize", "operators.similarity")
FAMILIES = ("dedup", "sim", "graph", "kg", "text", "sources", "relational")


def _metric_list() -> list[tuple[str, str]]:
    out = []
    for st in STAGES:
        out += [(f"pipeline.stage_{st}.s", "s"), (f"pipeline.stage_{st}.jobs", "count"),
                (f"pipeline.stage_{st}.driver_s", "s"), (f"pipeline.stage_{st}.task_s", "s"),
                (f"pipeline.stage_{st}.shuffle_mb", "MB"),
                (f"pipeline.stage_{st}.spill_mb", "MB")]
    out += [("pipeline.residual_s", "s"), ("pipeline.stage_c.resigned_frac", "ratio")]
    out += [("catalog.write_s", "s"), ("catalog.commit_s", "s"), ("catalog.commits", "count"),
            ("catalog.written_mb", "MB"), ("catalog.files_written", "count"),
            ("catalog.warehouse_mb", "MB")]
    out += [("checkpoint.s", "s"), ("checkpoint.jobs", "count")]
    for op in OPERATORS:
        out += [(f"operators.{op}.s", "s"), (f"operators.{op}.jobs", "count")]
    out += [("caching.tracked", "count"), ("caching.released", "count")]
    out += [("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
            ("spark.task_s", "s"), ("spark.shuffle_mb", "MB"), ("spark.spill_mb", "MB"),
            ("spark.driver_idle_s", "s"), ("spark.task_skew", "ratio"),
            ("spark.peak_rss_mb", "MB")]
    for fam in FAMILIES:
        out += [(f"queries.{fam}.s", "s"), (f"queries.{fam}.count_s", "s"),
                (f"queries.{fam}.plan_ms", "ms"), (f"queries.{fam}.jobs", "count"),
                (f"queries.{fam}.shuffle_mb", "MB")]
    out += [("trace.wall_s", "s"), ("trace.accounted_frac", "ratio")]
    return out


METRICS = _metric_list()


def _mod(name: str):
    return importlib.import_module(f"{PKG}.{name}")


def install(tracer: Tracer) -> None:
    pipeline = _mod("plans.pipeline")
    for st, fn in STAGES.items():
        tracer.patch(pipeline, fn, f"pipeline.stage_{st}", "plans.pipeline")
    for op in PIPELINE_OPS:
        tracer.patch(pipeline, op, f"operators.{op}", "operators")
    import __spark_entry__ as entry

    for op in KERNELS:
        tracer.patch(entry, op, f"operators.{op}", "operators")
    catalog = _mod("catalog")
    for fn in CATALOG_WRITES:
        tracer.patch(catalog.Catalog, fn, f"catalog.{fn}", "catalog")
    checkpoint = _mod("checkpoint")
    for fn in CHECKPOINT_FNS:
        tracer.patch(checkpoint, fn, f"checkpoint.{fn}", "checkpoint")
    caching = _mod("functions.caching")
    tracer.patch(caching, "track", "caching.track", "functions.caching")
    for name in TRACK_BINDINGS:
        tracer.patch(_mod(name), "track", "caching.track", "functions.caching")
    tracer.patch(caching, "release_caches", "caching.release_caches",
                 "functions.caching", keep_value=True)


def _top_most(spans, prefix: str, within: set[int]):
    """Spans named ``prefix*`` under ``within`` with no such ancestor."""
    by_id = {s.id: s for s in spans}
    out = []
    for s in spans:
        if s.id not in within or not s.name.startswith(prefix):
            continue
        p = s.parent
        while p is not None and not by_id[p].name.startswith(prefix):
            p = by_id[p].parent
        if p is None:
            out.append(s)
    return out


def _dir_stats(path: str) -> tuple[int, int, int]:
    """(bytes, parquet files, manifest versions) under a warehouse."""
    size = files = manifests = 0
    for d, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += n.endswith(".parquet")
            manifests += os.path.basename(d) == "manifests" and n.endswith(".json")
    return size, files, manifests


def warehouse_stats(spark, warehouse: str) -> dict:
    """Storage and run-record figures of a built warehouse: bytes, data
    files, manifest versions (one per commit), and stage C's
    n_signatures_computed / candidate_nodes rows from ``_ckpt_metrics``."""
    from pyspark.sql import functions as F

    from aisafetyintervention_literatureextraction_spark.catalog import Catalog

    cat = Catalog(spark, warehouse)
    signed = [float(r[0]) for r in cat.read("_ckpt_metrics").filter(
        (F.col("stage") == "C_canonicalize")
        & (F.col("metric") == "n_signatures_computed")).select("value").collect()]
    nodes = cat.read("candidate_nodes").count()
    size, files, manifests = _dir_stats(warehouse)
    return {"warehouse_mb": size / 2**20, "files": files, "commits": manifests,
            "resigned_frac": signed[-1] / nodes if signed and nodes else 0.0}


def per_layer(tracer: Tracer, log, record: dict) -> dict:
    spans = tracer.spans
    root = spans[record["trace_root"]]
    unit = subtree(spans, root.id)
    attrib = attribute(log, spans)
    jobs_all = log.job_intervals()
    unit_jobs = [j.id for j in log.jobs.values() if root.start <= j.start <= root.end]
    selfs = self_times(spans)
    v = {name: 0.0 for name, _ in METRICS}

    stage_walls = 0.0
    for st in STAGES:
        for s in (s for s in spans if s.name == f"pipeline.stage_{st}" and s.id in unit):
            p = f"pipeline.stage_{st}"
            v[f"{p}.s"] += s.wall
            v[f"{p}.driver_s"] += driver_time(s, jobs_all)
            w = work_of(log, jobs_under(attrib, subtree(spans, s.id)))
            v[f"{p}.jobs"] += w.jobs
            v[f"{p}.task_s"] += w.task_s
            v[f"{p}.shuffle_mb"] += w.shuffle_mb
            v[f"{p}.spill_mb"] += w.spill_mb
            stage_walls += s.wall
    if "warehouse_stats" in record:
        wh = record["warehouse_stats"]
        v["pipeline.residual_s"] = root.wall - stage_walls
        v["pipeline.stage_c.resigned_frac"] = wh["resigned_frac"]
        v["catalog.warehouse_mb"] = wh["warehouse_mb"]
        v["catalog.files_written"] = wh["files"]
        v["catalog.commits"] = wh["commits"]
    for s in _top_most(spans, "catalog.", unit):
        v["catalog.write_s"] += s.wall
        v["catalog.commit_s"] += driver_time(s, jobs_all)
        v["catalog.written_mb"] += work_of(
            log, jobs_under(attrib, subtree(spans, s.id))).output_mb
    for s in _top_most(spans, "checkpoint.", unit):
        v["checkpoint.s"] += s.wall
        v["checkpoint.jobs"] += work_of(log, jobs_under(attrib, subtree(spans, s.id))).jobs
    for op in OPERATORS:
        for s in (s for s in spans if s.name == f"operators.{op}" and s.id in unit):
            v[f"operators.{op}.s"] += s.wall
            v[f"operators.{op}.jobs"] += len(jobs_under(attrib, subtree(spans, s.id)))
    v["caching.tracked"] = sum(1 for s in spans if s.name == "caching.track" and s.id in unit)
    v["caching.released"] = sum(s.value for s in spans
                                if s.name == "caching.release_caches" and s.id in unit)

    w = work_of(log, unit_jobs)
    v.update({"spark.jobs": w.jobs, "spark.stages": w.stages, "spark.tasks": w.tasks,
              "spark.task_s": w.task_s, "spark.shuffle_mb": w.shuffle_mb,
              "spark.spill_mb": w.spill_mb,
              "spark.driver_idle_s": driver_time(root, jobs_all),
              "spark.task_skew": task_skew(log, unit_jobs),
              "spark.peak_rss_mb": record["peak_rss_mb"]})

    for name, q in record.get("per_query", {}).items():
        fam = q["family"]
        span = next(s for s in spans if s.name == f"query.{name}")
        qw = work_of(log, jobs_under(attrib, subtree(spans, span.id)))
        v[f"queries.{fam}.s"] += span.wall
        v[f"queries.{fam}.count_s"] += q.get("count_s", 0.0)
        v[f"queries.{fam}.plan_ms"] += q.get("plan_ms", 0.0)
        v[f"queries.{fam}.jobs"] += qw.jobs
        v[f"queries.{fam}.shuffle_mb"] += qw.shuffle_mb

    v["trace.wall_s"] = root.wall
    v["trace.accounted_frac"] = sum(selfs[i] for i in unit) / root.wall
    units = dict(METRICS)
    return {name: (float(val), units[name]) for name, val in v.items()}

