"""The benchmark's workloads, their output checks and their metrics.

Each workload drives the package through its public entry points in a
session built by ``session.get_spark`` with the CLI's defaults and
``cpus = nproc``:

- ``build``: ``plans.pipeline.run_pipeline`` with the CLI's defaults
  (stages A-D) into an empty warehouse over the seed's ``datagen``
  corpus.
- ``queries``: a fixed subset of the ``__spark_entry__.queries()``
  contract, in registry order, over the seed's neutral tables, each
  result checked against its DuckDB ``oracle_sql()`` twin.

A run is one cold process, as every CLI invocation is: the JVM start
and input generation count as set-up; the first unit of work pays the
JIT warm-up, like a spark-submit does.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import math
import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

from . import host, inputs, layers
from .stats import highest_percentile, median, percentile
from .trace import SPAN_PROPERTY, Tracer, read_event_log

BUILD_CONVS = 100        # bulk conversations (+ golden, alias, hot, quarantine)
BUILD_HOT_TURNS = 200    # the skewed conversation's turn count
SETUP_REPEATS = 3        # input generations per run; setup_s takes the median

# registry-order subset of queries(), one pass of which fits the run
# budget cold: every family, the dedup/similarity candidates the roadmap
# names, the PDF source, and LPA + modularity on the co-purchase graph.
# The all-pairs oracles of dedup_minhash_lsh and dedup_simhash cost
# 13-17 s per check, which the run budget cannot carry.
QUERY_SET = (
    "f1_resume_antijoin", "dedup_embedding_cosine", "sim_lsh_topk",
    "text_winnow_fingerprint", "kg_pipeline_triples", "s1_pdf_docs",
    "graph_modularity",
)


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    metrics: dict = field(default_factory=dict)   # name -> (value, unit)
    record: dict = field(default_factory=dict)    # artifact detail


def start_session(work: str, trace: bool):
    """The CLI's session (``get_spark`` defaults, cpus = nproc); the
    traced session additionally writes Spark's JSON event log."""
    from aisafetyintervention_literatureextraction_spark.session import get_spark

    extra = None
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        extra = {"spark.eventLog.enabled": "true",
                 "spark.eventLog.dir": "file://" + log_dir,
                 "spark.eventLog.rolling.enabled": "false",
                 "spark.eventLog.compress": "false"}
    t0 = time.perf_counter()
    spark = get_spark("kg-pipeline", cpus=host.nproc(), extra_conf=extra)
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark, then end the gateway JVM and wait for it: the JVM
    exits when its stdin closes (``PythonGatewayServer``)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def op_percentiles(walls: list[float]) -> dict:
    """Median and the highest percentile that keeps ten samples beyond
    it (None when there are fewer than twenty operations)."""
    p = highest_percentile(len(walls))
    return {"n": len(walls), "p50_s": median(walls),
            "p_hi": None if p is None else {"p": p, "s": percentile(walls, p)}}


def _timed_repeats(fn, n: int = SETUP_REPEATS):
    walls, out = [], None
    for _ in range(n):
        t0 = time.perf_counter()
        out = fn()
        walls.append(time.perf_counter() - t0)
    return out, median(walls)


def _span(tracer, name: str, layer: str):
    return contextlib.nullcontext() if tracer is None else tracer.span(name, layer)


def _report_failure(what: str) -> None:
    print(f"perfbench: {what} failed", file=sys.stderr)
    traceback.print_exc(file=sys.stderr)


# --------------------------------------------------------------------------
# row digests (order-insensitive)
# --------------------------------------------------------------------------

def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(sorted((_norm(x) for x in v), key=repr))
    return v


def normalized_rows(rows) -> list[tuple]:
    return sorted((tuple(_norm(x) for x in r) for r in rows), key=repr)


def digest(rows) -> str:
    return hashlib.sha256(repr(normalized_rows(rows)).encode()).hexdigest()[:16]


# --------------------------------------------------------------------------
# build
# --------------------------------------------------------------------------

def run_build(spark, work: str, seed: int, seconds: float, tracer, pid: int,
              setup_s: float) -> Result:
    from aisafetyintervention_literatureextraction_spark.plans import pipeline

    res = Result()
    path = os.path.join(work, "transcripts.parquet")
    expected, gen_s = _timed_repeats(
        lambda: inputs.write_corpus(path, BUILD_CONVS, seed, BUILD_HOT_TURNS))
    setup_s += gen_s
    res.record["sizes"] = {"n_convs": BUILD_CONVS, "hot_conv_turns": BUILD_HOT_TURNS,
                           "n_turns": inputs.n_rows(path),
                           "n_expected_triples": len(expected.triples)}
    wh = os.path.join(work, "warehouse")
    walls, rates, checks = [], [], []
    h0 = host.sample()
    t_end = time.perf_counter() + seconds
    while not res.attempted or (time.perf_counter() < t_end and tracer is None):
        shutil.rmtree(wh, ignore_errors=True)
        transcripts = spark.read.parquet(path)
        res.attempted += 1
        try:
            t0 = time.perf_counter()
            with _span(tracer, "run_pipeline", "plans.pipeline") as root:
                stats = pipeline.run_pipeline(spark, transcripts, wh)
            wall = time.perf_counter() - t0
            rss, heap = host.peak_rss_mb(pid), host.retained_heap_mb(spark)
            check = check_build(spark, wh, expected, seed)
        except Exception:
            _report_failure("build")
            res.failed += 1
            continue
        checks.append(check)
        if check["failures"]:
            print(f"perfbench: build check failed: {check['failures']}", file=sys.stderr)
            res.failed += 1
            continue
        walls.append(wall)
        rates.append(stats["n_triples"] / wall)
    res.record.update(host_window=host.delta(h0, host.sample()), checks=checks,
                      op_walls_s=walls)
    if walls:
        res.metrics = {
            "setup_s": (setup_s, "s"),
            "wall_s": (median(walls), "s"),
            "rows_per_s": (median(rates), "1/s"),
            "heap_retained_mb": (heap, "MB"),
        }
        res.record["peak_rss_mb"] = rss
        if tracer is not None:
            res.record["trace_root"] = root.id
            res.record["warehouse_stats"] = layers.warehouse_stats(spark, wh)
    return res


_RECORDED = os.path.join(os.path.dirname(__file__), "recorded.json")


def _recorded(workload: str, seed: int) -> dict | None:
    """Output values recorded for this seed by ``prove.py --record``."""
    if not os.path.exists(_RECORDED):
        return None
    with open(_RECORDED) as f:
        return json.load(f).get(workload, {}).get(str(seed))


def check_build(spark, wh: str, expected, seed: int) -> dict:
    """Triple P/R against the seed's closed-form ExpectedGraph, KG
    integrity, and the KG digest recorded for this seed (if any)."""
    from aisafetyintervention_literatureextraction_spark.catalog import Catalog

    cat = Catalog(spark, wh)
    key = ["conv_id", "subj", "pred", "obj"]
    got = {tuple(r) for r in cat.read("triples_raw").select(*key).collect()}
    want = {tuple(t[k] for k in key) for t in expected.triples}
    tp = len(got & want)
    precision = tp / max(len(got), 1)
    recall = tp / max(len(want), 1)
    nodes, edges = cat.read("kg_nodes"), cat.read("kg_edges")
    node_rows, edge_rows = nodes.collect(), edges.collect()
    ids = {r["node_id"] for r in node_rows}
    dangling = sum(1 for r in edge_rows if r["src"] not in ids or r["dst"] not in ids)
    out = {
        "precision": round(precision, 4), "recall": round(recall, 4),
        "n_triples": len(got), "n_kg_nodes": len(node_rows),
        "n_kg_edges": len(edge_rows),
        "kg_digest": digest(node_rows) + digest(edge_rows),
    }
    failures = []
    if precision < 0.95 or recall < 0.95:
        failures.append(f"triple P/R {precision:.3f}/{recall:.3f} < 0.95")
    if dangling:
        failures.append(f"{dangling} kg_edges reference no kg_node")
    if len(ids) != len(node_rows):
        failures.append("duplicate kg node ids")
    recorded = _recorded("build", seed)
    if recorded is not None:
        for k in ("n_triples", "n_kg_nodes", "n_kg_edges", "kg_digest"):
            if out[k] != recorded[k]:
                failures.append(f"{k} {out[k]} != recorded {recorded[k]}")
    out["recorded"] = recorded is not None
    out["failures"] = failures
    return out


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------

def _entry_module(work: str):
    """The contract module, with its fixture directories moved into the
    work directory (the defaults point outside the checkout)."""
    import __spark_entry__ as entry

    fx = os.path.join(work, "fixtures")
    entry._RAW_FIXTURE = os.path.join(fx, "raw")
    entry._ARD_FIXTURE = os.path.join(fx, "ard")
    entry._PDF_FIXTURE = os.path.join(fx, "pdf")
    return entry


def _write_query_inputs(entry, data_dir: str, seed: int) -> None:
    from aisafetyintervention_literatureextraction_spark.pdfgen import ensure_pdf_fixture

    inputs.write_query_tables(data_dir, seed)
    entry._ensure_raw_fixture()
    entry._ensure_ard_fixture()
    ensure_pdf_fixture(entry._PDF_FIXTURE)


def family(name: str) -> str:
    for prefix, fam in (("dedup_", "dedup"), ("sim_", "sim"), ("graph_", "graph"),
                        ("g4_", "graph"), ("g5_", "graph"), ("kg_", "kg"),
                        ("text_", "text"), ("s1_", "sources"), ("s6_", "sources")):
        if name.startswith(prefix):
            return fam
    return "relational"


def _plan_ms(df) -> float:
    """Analysis + optimization + planning of ``df``'s own QueryExecution
    (the one ``collect`` then executes)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    it = phases.valuesIterator()
    total = 0
    while it.hasNext():
        total += it.next().durationMs()
    return float(total)


def run_queries(spark, work: str, seed: int, seconds: float, tracer, pid: int,
                setup_s: float) -> Result:
    from aisafetyintervention_literatureextraction_spark.functions import caching

    res = Result()
    entry = _entry_module(work)
    data_dir = os.path.join(work, "tables")
    _, gen_s = _timed_repeats(lambda: _write_query_inputs(entry, data_dir, seed))
    setup_s += gen_s
    res.record["sizes"] = {"n_queries": len(QUERY_SET), **{
        t: inputs.n_rows(os.path.join(data_dir, f"{t}.parquet")) for t in inputs.TABLES}}
    registry = entry.queries()
    passes, per_query = [], {}
    h0 = host.sample()
    t_end = time.perf_counter() + seconds
    while not passes or (time.perf_counter() < t_end and tracer is None):
        results, walls = {}, {}
        with _span(tracer, "queries.pass", "queries") as root:
            for name in QUERY_SET:
                res.attempted += 1
                try:
                    with _span(tracer, f"query.{name}", f"queries.{family(name)}"):
                        t0 = time.perf_counter()
                        df = registry[name](spark, data_dir)
                        if tracer is not None:
                            per_query.setdefault(name, {})["plan_ms"] = _plan_ms(df)
                        rows = df.collect()
                        walls[name] = time.perf_counter() - t0
                    results[name] = (df.columns, rows)
                except Exception:
                    _report_failure(f"query {name}")
                    res.failed += 1
                caching.release_caches()
        passes.append((results, walls))
    rss, heap = host.peak_rss_mb(pid), host.retained_heap_mb(spark)
    res.record["host_window"] = host.delta(h0, host.sample())

    failures = check_queries(entry, data_dir, passes)
    res.failed += len(failures)
    res.record["checks"] = failures
    if tracer is not None:
        # .count() beside the collected wall, outside the timed pass
        for name in QUERY_SET:
            t0 = time.perf_counter()
            try:
                registry[name](spark, data_dir).count()
            except Exception:
                _report_failure(f"count of query {name}")
            per_query.setdefault(name, {})["count_s"] = time.perf_counter() - t0
            caching.release_caches()
        res.record["trace_root"] = root.id
    complete = [(r, w) for r, w in passes if len(w) == len(QUERY_SET)]
    walls = [sum(w.values()) for _, w in complete]
    if walls:
        first_rows, pass_walls = complete[0]
        n_rows = sum(len(rows) for _, rows in first_rows.values())
        res.metrics = {
            "setup_s": (setup_s, "s"),
            "wall_s": (median(walls), "s"),
            "rows_per_s": (n_rows / median(walls), "1/s"),
            "heap_retained_mb": (heap, "MB"),
        }
        res.record["peak_rss_mb"] = rss
        res.record["op_percentiles"] = op_percentiles(list(pass_walls.values()))
        res.record["per_query"] = {
            n: {"wall_s": pass_walls[n], "family": family(n), **per_query.get(n, {})}
            for n in QUERY_SET}
    return res


def check_queries(entry, data_dir: str, passes) -> list[str]:
    """Every collected result must equal its DuckDB oracle: column names,
    row count and order-insensitive content digest."""
    import duckdb

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in inputs.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data_dir, t)}.parquet')")
        failures = []
        want = {}
        for name in QUERY_SET:
            cur = con.execute(oracles[name])
            cols = [d[0].lower() for d in cur.description]
            want[name] = (cols, digest(cur.fetchall()))
        for results, _ in passes:
            for name, (cols, rows) in results.items():
                w_cols, w_digest = want[name]
                if [c.lower() for c in cols] != w_cols or digest(rows) != w_digest:
                    failures.append(f"{name}: result differs from the DuckDB oracle")
        return failures
    finally:
        con.close()


WORKLOADS = {"build": run_build, "queries": run_queries}


def run(workload: str, work: str, seed: int, seconds: float, trace: bool) -> dict:
    """One benchmark run; returns the result line's fields plus an
    artifact record (host, per-layer table when traced)."""
    spark, session_s = start_session(work, trace)
    tracer = None
    if trace:
        tracer = Tracer(f"{workload}-{seed}",
                        lambda v: spark.sparkContext.setLocalProperty(SPAN_PROPERTY, v))
        layers.install(tracer)
    pid = host.jvm_pid(spark)
    record = {"host": host.host_record(spark), "session_s": session_s}
    try:
        res = WORKLOADS[workload](spark, work, seed, seconds, tracer, pid, session_s)
    finally:
        if tracer is not None:
            tracer.unpatch()
        app_id = spark.sparkContext.applicationId
        stop_session(spark)
    record.update(res.record)
    metrics = res.metrics
    if trace and metrics:
        log = read_event_log(os.path.join(work, "eventlog", app_id))
        metrics = layers.per_layer(tracer, log, res.record)
        record["per_layer"] = {k: v[0] for k, v in metrics.items()}
    return {"correct": res.failed == 0 and bool(metrics), "attempted": res.attempted,
            "failed": res.failed, "metrics": metrics, "record": record}
