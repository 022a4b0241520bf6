"""Checkpoint + lineage + metrics (SURVEY.md §2.1 S2/K6, §2.2 F1, §4.1).

The reference's resumability is "skip PDFs whose stem already has an
output JSON" (reference extract.py:68-71) — a filesystem anti-join.
Ours is the same primitive, set-oriented and per-stage:

- ``_ckpt_stage_state``: one row per (stage, conv_id) processed.
  Resume = ``input.join(state, "conv_id", "left_anti")`` — Catalyst
  pushes the anti-join below the expensive stages, so a killed run
  recomputes nothing (north_star requirement).
- ``_ckpt_lineage``: per-partition rows (conv_id min/max, row count)
  written from the executors via ``mapInPandas`` observation — the
  "per-partition lineage (conv_id ranges, stage watermarks)" the
  north rule names.
- ``_ckpt_metrics``: one row per (stage, run_id, metric).

Every entry a stage run writes — outputs, lineage, metrics, and last
its state rows — carries the run's ``run_id``, and the state append is
the commit point: ``reconcile`` prunes whatever an uncommitted run left
in any of these tables, so the run record lands exactly once with the
outputs it describes.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .catalog import Catalog
from .schemas import CKPT_METRICS, CKPT_STAGE_STATE

STATE = "_ckpt_stage_state"
LINEAGE = "_ckpt_lineage"
METRICS = "_ckpt_metrics"


def new_run_id() -> str:
    return uuid.uuid4().hex[:12]


def pending(catalog: Catalog, stage: str, inp: DataFrame, key: str = "conv_id") -> DataFrame:
    """F1 — anti-join the stage's processed set."""
    if not catalog.exists(STATE):
        return inp
    done = catalog.read(STATE).filter(F.col("stage") == stage).select(
        F.col("conv_id").alias(key)
    )
    return inp.join(done, key, "left_anti")


def done_ids(catalog: Catalog, stage: str) -> DataFrame | None:
    """The stage's processed-id set (distinct conv_id), or None if no
    state table exists yet."""
    if not catalog.exists(STATE):
        return None
    return (catalog.read(STATE).filter(F.col("stage") == stage)
            .select("conv_id").distinct())


def pending_files(catalog: Catalog, stage: str, files: DataFrame,
                  key: str = "doc_id") -> DataFrame:
    """File-level twin of ``pending`` for blob-carrying scans (PDF
    dirs): the processed side BROADCASTS so the anti-join never
    shuffles file contents, and — because the key is the filename stem,
    known before any decode — the skip lands upstream of the Python
    parse. ``pending`` on the decoded output cannot do that: its key
    only exists after mapInPandas, so a resumed run would re-parse the
    whole corpus just to drop the rows afterwards."""
    done = done_ids(catalog, stage)
    if done is None:
        return files
    return files.join(
        F.broadcast(done.withColumnRenamed("conv_id", key)),
        key, "left_anti")


def observed_count(obs: Observation) -> int:
    """The ``n`` an Observation collected on the write that ran its
    plan. Never blocks: observed metrics arrive synchronously with the
    action, so an Observation still pending afterwards belongs to a
    plan no job executed, which wrote no rows."""
    if obs._jo is None or not obs._jo.future().isCompleted():
        return 0
    return int(obs.get["n"] or 0)


def counted(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with a row-count Observation attached: write the returned
    frame, then read the count with :func:`observed_count` — the count
    rides on the write job instead of a job of its own."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("n")), obs


def literal_rows(spark, rows: list[tuple], schema: StructType) -> DataFrame:
    """A few literal rows built inside the JVM: ``createDataFrame`` on
    a Python list sends them through a Python worker. One row per
    partition, as ``createDataFrame`` slices a short list, so each row
    lands in its own file exactly as before."""
    structs = F.array(*[
        F.struct(*[F.lit(v).cast(f.dataType).alias(f.name)
                   for v, f in zip(r, schema.fields)])
        for r in rows
    ])
    n = len(rows)
    return spark.range(0, n, 1, n).select(
        F.element_at(structs, (F.col("id") + 1).cast("int")).alias("r")
    ).select("r.*")


def mark_processed(
    catalog: Catalog, stage: str, run_id: str, conv_ids: DataFrame | None = None,
    key: str = "conv_id",
) -> None:
    """The COMMIT POINT of a stage run: a run's entries in its output
    and run-record tables are committed iff its run_id appears in the
    state table (see ``reconcile``) — so this must be the LAST catalog
    write of the stage's exactly-once window. ``conv_ids=None`` marks
    a whole-table recompute with the single sentinel row ``__all__``.
    The state entry itself is tagged with the run_id, so the committed
    set is read from commit metadata, not from the rows."""
    if conv_ids is None:
        rows = literal_rows(catalog.spark, [(stage, "__all__", run_id)], CKPT_STAGE_STATE)
    else:
        rows = conv_ids.select(
            F.lit(stage).alias("stage"),
            F.col(key).cast("string").alias("conv_id"),
            F.lit(run_id).alias("run_id"),
        )
    catalog.append(rows, STATE, run_id=run_id)


def committed_run_ids(catalog: Catalog) -> set[str]:
    """run_ids whose stage reached its mark_processed commit point:
    the run_id tags of the state table's entries, plus — only when
    some entries carry no tag (written before tagging, or rewritten by
    compaction) — the run_ids stored in those entries' rows."""
    if not catalog.exists(STATE):
        return set()
    tagged, untagged = catalog.run_tags(STATE)
    if untagged is not None:
        tagged |= {r[0] for r in untagged.select("run_id").distinct().collect()}
    return tagged


def reconcile_versions(catalog: Catalog, output_tables: list[str]) -> dict[str, int]:
    """Overwrite/merge-table twin of ``reconcile``: roll whole table
    VERSIONS back past uncommitted runs (stage C's read-merge-overwrite
    cycle must undo atomically, or a resumed run would merge its delta
    into a state that already contains it — double-counting). Orphan
    run-record entries are pruned as in ``reconcile``."""
    committed = committed_run_ids(catalog)
    _prune_record(catalog, committed)
    return {
        t: catalog.rollback_orphan_versions(t, committed)
        for t in output_tables
        if catalog.exists(t)
    }


def reconcile(catalog: Catalog, output_tables: list[str]) -> dict[str, int]:
    """Heal a crash between an output-table commit and its stage-state
    commit: drop orphaned manifest entries (runs that never reached
    mark_processed), so resume reprocesses their conv_ids exactly once
    instead of duplicating rows. The run record (lineage, metrics) is
    pruned the same way. O(manifests), zero data IO."""
    committed = committed_run_ids(catalog)
    _prune_record(catalog, committed)
    return {
        t: catalog.prune_orphan_runs(t, committed)
        for t in output_tables
        if catalog.exists(t)
    }


def _prune_record(catalog: Catalog, committed: set[str]) -> None:
    for t in (LINEAGE, METRICS):
        if catalog.exists(t):
            catalog.prune_orphan_runs(t, committed)


def write_lineage(
    catalog: Catalog, stage: str, run_id: str, df: DataFrame, key: str = "conv_id"
) -> None:
    """Per-partition lineage: conv_id range + row count per shuffle
    partition of the stage output (computed distributed, not collected
    row-wise). Written before the stage's commit point."""
    lin = (
        df.withColumn("partition_id", F.spark_partition_id())
        .groupBy("partition_id")
        .agg(
            F.min(F.col(key).cast("string")).alias("conv_id_min"),
            F.max(F.col(key).cast("string")).alias("conv_id_max"),
            F.count("*").alias("n_rows"),
        )
        .select(
            F.lit(stage).alias("stage"),
            F.lit(run_id).alias("run_id"),
            F.col("partition_id").cast("int"),
            "conv_id_min", "conv_id_max", "n_rows",
        )
    )
    catalog.append(lin, LINEAGE, run_id=run_id)


def write_metrics(catalog: Catalog, stage: str, run_id: str, metrics: dict) -> None:
    """One row per metric, tagged with the run_id and written before
    the stage's commit point (pruned with the run if it never
    commits)."""
    rows = [
        (stage, run_id, k, str(v))
        for k, v in {**metrics, "wall_ts": time.time()}.items()
    ]
    catalog.append(literal_rows(catalog.spark, rows, CKPT_METRICS), METRICS, run_id=run_id)
