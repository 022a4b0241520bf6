"""Stage A — document reassembly (SURVEY.md §2.5 W3).

The reference's unit of work is one whole PDF (reference
extract.py:33-46 passes the file intact); our input is turn rows
``(conv_id, turn_idx, role, text, tool, ts)`` that may arrive in any
order, so the analog is: reassemble each conversation into one
stably-ordered document with per-turn text equality guaranteed.

Scale design (10^12 turns):
- **sort-within-group, not global sort**: a single
  ``groupBy(conv_id).agg(array_sort(collect_list(struct(...))))`` —
  one shuffle on conv_id, partial aggregation map-side, no global
  ordering anywhere.
- **salted two-phase path for hot keys** (north rule: "salted
  repartitioning on conv_id hot keys"): phase 1 groups on
  ``(conv_id, floor(turn_idx / seg))`` so a 10^6-turn conversation is
  pre-combined into ordered segments by many tasks; phase 2 merges the
  ordered segments per conv_id — the final task concatenates ~n/seg
  pre-sorted arrays instead of receiving 10^6 individual rows through
  one shuffle partition.
- **quarantine, not raise** (SURVEY.md §1.4): conversations with a
  duplicate ``(conv_id, turn_idx)`` carrying conflicting text, or a
  gap in the turn index, are routed to a quarantine DataFrame;
  identical duplicates are collapsed deterministically.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TURN_SEP = "\n"


@dataclass
class ReassemblyResult:
    documents: DataFrame
    quarantine: DataFrame  # conv_id, reason


def _turn_struct():
    # struct field order makes array_sort order by turn_idx first;
    # text is included so identical-duplicate collapse is well-defined.
    return F.struct(
        F.col("turn_idx"), F.col("text"), F.col("role"), F.col("tool"), F.col("ts")
    )


def reassemble(
    transcripts: DataFrame,
    salt_segment: int = 4096,
    salted: bool = True,
    allow_gaps: bool = False,
    pin=None,
) -> ReassemblyResult:
    """transcripts → (documents, quarantine).

    ``salt_segment``: phase-1 group size along turn_idx. Segments are
    *range* salts (``floor(turn_idx/seg)``) — unlike hash salts they
    stay ordered, so phase 2 sorts segment headers (cheap: n/seg
    elements) and flattens, never re-sorting individual turns.

    ``allow_gaps``: real transcript feeds can legitimately hold sparse
    turn indices (deleted/redacted turns). Default False keeps the
    strict contract (gap ⇒ quarantine, reason ``turn_index_gap``);
    True assembles the present turns in order and only conflicting
    duplicates quarantine.

    ``pin``: optional ``DataFrame → DataFrame`` (e.g.
    ``caching.track``) applied to the assembled per-conversation
    relation both outputs filter, so a caller that writes both runs
    the reassembly once; by default nothing is pinned.
    """
    t = transcripts.select("conv_id", "turn_idx", "role", "text", "tool", "ts")

    # exact-duplicate collapse is free inside the aggregation below via
    # array_distinct on (turn_idx, text, role, tool, ts); conflicting
    # duplicates / gaps detected from per-conv stats.
    if salted:
        seg = (F.col("turn_idx") / F.lit(salt_segment)).cast("long").alias("seg")
        phase1 = (
            t.groupBy("conv_id", seg)
            .agg(
                F.array_sort(F.array_distinct(F.collect_list(_turn_struct()))).alias("turns"),
                F.count("*").alias("n_raw"),
                F.min("ts").alias("ts_min"),
                F.max("ts").alias("ts_max"),
                F.min("turn_idx").alias("idx_min"),
                F.max("turn_idx").alias("idx_max"),
            )
        )
        assembled = (
            phase1.groupBy("conv_id")
            .agg(
                F.flatten(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct(F.col("seg"), F.col("turns")))
                        ),
                        lambda x: x["turns"],
                    )
                ).alias("turns"),
                F.sum("n_raw").alias("n_raw"),
                F.min("ts_min").alias("ts_min"),
                F.max("ts_max").alias("ts_max"),
                F.min("idx_min").alias("idx_min"),
                F.max("idx_max").alias("idx_max"),
            )
        )
    else:
        assembled = (
            t.groupBy("conv_id")
            .agg(
                F.array_sort(F.array_distinct(F.collect_list(_turn_struct()))).alias("turns"),
                F.count("*").alias("n_raw"),
                F.min("ts").alias("ts_min"),
                F.max("ts").alias("ts_max"),
                F.min("turn_idx").alias("idx_min"),
                F.max("turn_idx").alias("idx_max"),
            )
        )

    checked = assembled.withColumn(
        "n_turns", F.size(F.array_distinct(F.transform(F.col("turns"), lambda x: x["turn_idx"])))
    ).withColumn(
        "has_conflict", F.size("turns") != F.col("n_turns")  # same idx, different payload
    ).withColumn(
        "has_gap",
        F.lit(False) if allow_gaps else (
            (F.col("idx_min") != 0)
            | (F.col("idx_max") != F.col("n_turns") - 1)
        ),
    )
    if pin is not None:
        checked = pin(checked)

    quarantine = (
        checked.filter(F.col("has_conflict") | F.col("has_gap"))
        .select(
            "conv_id",
            F.when(F.col("has_conflict"), F.lit("conflicting_duplicate_turn"))
            .otherwise(F.lit("turn_index_gap"))
            .alias("reason"),
        )
    )

    documents = (
        checked.filter(~F.col("has_conflict") & ~F.col("has_gap"))
        .select(
            "conv_id",
            F.col("n_turns").cast("int").alias("n_turns"),
            F.array_join(
                F.transform(F.col("turns"), lambda x: x["text"]), TURN_SEP
            ).alias("doc_text"),
            F.transform(F.col("turns"), lambda x: x["role"]).alias("roles"),
            F.col("ts_min"),
            F.col("ts_max"),
            # transcript-born documents carry no article provenance
            F.lit(None).cast("string").alias("title"),
            F.lit(None).cast("string").alias("author"),
        )
    )
    return ReassemblyResult(documents=documents, quarantine=quarantine)
