"""Stage D — graph materialization (SURVEY.md §2.4 A2/A3, §2.3 J3, §2.9).

Replaces the reference's per-row Cypher MERGE upserts into FalkorDB
(reference db.py:34-54: node identity (label, name), edge identity
(src, label, dst), SET = last-writer-wins props; rewire-on-merge
db.py:106-155) with three set-oriented operations:

1. **name resolution** — edges reference nodes by raw name string
   (reference core.py:18-19 — with NO referential check anywhere in
   db.py; SURVEY.md §1.4 makes the check explicit). Unresolvable
   endpoints become *implicit* concept nodes — the exact semantics of
   Cypher ``MERGE (t {name})`` creating missing nodes on first touch.
2. **component relabel** — one broadcast-able join of edges against
   the component map, ``coalesce(new, old)`` on each endpoint — the
   J3 "edge-rewire outer join" as ONE join, not a per-reltype loop.
3. **dedup aggregation** — nodes by component, edges by
   (src, pred, dst), last-writer-wins props + evidence
   ``collect_set(conv_id)`` (A2/A3/A7).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.caching import track
from ..functions.hashing import stable_node_id
from ..functions.text import snake_case


@dataclass
class Graph:
    nodes: DataFrame
    edges: DataFrame
    dangling: DataFrame  # quarantine: edge endpoints resolved implicitly


def _name_index(nodes: DataFrame) -> DataFrame:
    """(resolve_key → node_id): node names and aliases, normalized via
    C9 snake_case so surface variants resolve to the declared node."""
    by_name = nodes.select(
        snake_case(F.col("name")).alias("key"), "node_id", F.lit(0).alias("prio")
    )
    by_alias = nodes.select(
        F.explode(F.coalesce(F.col("aliases"), F.array().cast("array<string>"))).alias("a"),
        "node_id",
    ).select(snake_case(F.col("a")).alias("key"), "node_id", F.lit(1).alias("prio"))
    # one winner per key: declared names beat aliases, then min id
    return (
        by_name.union(by_alias)
        .groupBy("key")
        .agg(F.min_by("node_id", F.struct("prio", "node_id")).alias("node_id"))
    )


def aggregate_raw_edges(triples_raw: DataFrame) -> DataFrame:
    """Collapse triple INSTANCES to one row per raw (subj, pred, obj)
    key: occurrence count, conv_id evidence, last-writer-wins props
    (winner = the instance from the max conv_id — reference MERGE+SET).

    This is the table stage D actually needs, and it is a semigroup
    aggregate, so the pipeline maintains it incrementally with
    ``Catalog.merge_combine`` (``edge_agg_combiner``) — the raw
    triples history is never rescanned per run."""
    return (
        triples_raw.groupBy("subj", "pred", "obj")
        .agg(
            F.count("*").alias("n"),
            F.array_sort(F.collect_set("conv_id")).alias("conv_ids"),
            F.max_by(
                F.struct("description", "edge_confidence"), F.col("conv_id")
            ).alias("p"),
        )
        .select(
            "subj", "pred", "obj", "n", "conv_ids",
            F.col("p.description").alias("description"),
            F.col("p.edge_confidence").alias("edge_confidence"),
        )
    )


def edge_agg_combiner(df: DataFrame) -> DataFrame:
    """Merge already-aggregated edge rows (Catalog.merge_combine
    contract): counts add, evidence unions, props follow the row whose
    evidence holds the max conv_id — identical to aggregating the
    union of the underlying raw instances in one pass."""
    return (
        df.groupBy("subj", "pred", "obj")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("conv_ids")))).alias("cids"),
            F.max_by(
                F.struct("description", "edge_confidence"),
                F.array_max("conv_ids"),
            ).alias("p"),
        )
        .select(
            "subj", "pred", "obj", "n",
            F.col("cids").alias("conv_ids"),
            F.col("p.description").alias("description"),
            F.col("p.edge_confidence").alias("edge_confidence"),
        )
    )


def materialize(
    candidate_nodes: DataFrame,  # from canonicalize.candidate_nodes (+text ok)
    triples_raw: DataFrame,
    components: DataFrame,       # node_id, component_id
) -> Graph:
    """Graph from raw triple instances (one-shot path): aggregates the
    instances first, then shares the aggregated materialization with
    the incremental pipeline (materialize_from_agg)."""
    return materialize_from_agg(
        candidate_nodes, aggregate_raw_edges(triples_raw), components
    )


def materialize_from_agg(
    candidate_nodes: DataFrame,
    edges_agg: DataFrame,        # aggregate_raw_edges shape
    components: DataFrame,       # node_id, component_id
    docs_meta: DataFrame | None = None,  # (conv_id, title, author)
) -> Graph:
    # Scale note: the name index and component map are node-scale
    # (orders of magnitude smaller than the triple/turn tables), so
    # they are broadcast below; past executor-memory scale, drop the
    # hints and let AQE pick sort-merge — the joins stay correct.
    # edges_agg is O(distinct raw edges), not O(instances) — the
    # pipeline maintains it incrementally, so this whole stage never
    # touches the triples history.
    nodes = candidate_nodes
    name_idx = _name_index(nodes)

    # --- resolve edge endpoints by normalized name ------------------------
    t = edges_agg.withColumn("subj_key", snake_case(F.col("subj"))).withColumn(
        "obj_key", snake_case(F.col("obj"))
    )
    t = (
        t.join(
            F.broadcast(name_idx).withColumnRenamed("key", "subj_key")
            .withColumnRenamed("node_id", "subj_id"),
            "subj_key", "left",
        )
        .join(
            F.broadcast(name_idx).withColumnRenamed("key", "obj_key")
            .withColumnRenamed("node_id", "obj_id"),
            "obj_key", "left",
        )
    )
    # three consumers (dangling, implicit nodes, kg_edges) each write a
    # table: pin the resolved relation so the name joins run once
    t = track(t)
    # implicit nodes for unresolved endpoints (MERGE-creates-missing)
    dangling = (
        t.filter(F.col("subj_id").isNull() | F.col("obj_id").isNull())
        .select(
            "conv_ids",
            F.when(F.col("subj_id").isNull(), F.col("subj")).alias("subj_missing"),
            F.when(F.col("obj_id").isNull(), F.col("obj")).alias("obj_missing"),
        )
    )
    implicit = (
        t.select(
            F.when(F.col("subj_id").isNull(), F.col("subj")).alias("name"),
            "conv_ids", "n",
        )
        .union(t.select(
            F.when(F.col("obj_id").isNull(), F.col("obj")).alias("name"),
            "conv_ids", "n",
        ))
        .filter(F.col("name").isNotNull())
        .groupBy("name")
        .agg(
            F.array_distinct(F.flatten(F.collect_list("conv_ids"))).alias("conv_ids"),
            F.sum("n").cast("long").alias("n_occurrences"),
        )
        .select(
            stable_node_id(F.lit("concept"), F.col("name")).alias("node_id"),
            F.lit("concept").alias("type"),
            "name",
            F.array().cast("array<string>").alias("aliases"),
            F.lit(None).cast("string").alias("description"),
            F.lit(None).cast("string").alias("concept_category"),
            F.lit(None).cast("int").alias("intervention_lifecycle"),
            F.lit(None).cast("int").alias("intervention_maturity"),
            F.col("n_occurrences"),
            "conv_ids",
        )
    )
    all_nodes = nodes.select(
        "node_id", "type", "name", "aliases", "description", "concept_category",
        "intervention_lifecycle", "intervention_maturity", "n_occurrences", "conv_ids",
    ).unionByName(implicit)

    t = t.withColumn(
        "subj_id",
        F.coalesce(F.col("subj_id"), stable_node_id(F.lit("concept"), F.col("subj"))),
    ).withColumn(
        "obj_id",
        F.coalesce(F.col("obj_id"), stable_node_id(F.lit("concept"), F.col("obj"))),
    )

    # --- component relabel (J3: one outer join per endpoint) --------------
    comp = components.select("node_id", "component_id")
    t = (
        t.join(
            F.broadcast(comp).withColumnRenamed("node_id", "subj_id")
            .withColumnRenamed("component_id", "subj_comp"),
            "subj_id", "left",
        )
        .join(
            F.broadcast(comp).withColumnRenamed("node_id", "obj_id")
            .withColumnRenamed("component_id", "obj_comp"),
            "obj_id", "left",
        )
        .select(
            F.coalesce("subj_comp", "subj_id").alias("src"),
            F.coalesce("obj_comp", "obj_id").alias("dst"),
            "pred", "description", "edge_confidence", "conv_ids",
        )
    )

    # --- kg_edges: dedup by (src, pred, dst), LWW props + evidence (A3/A7)
    kg_edges = (
        t.filter(F.col("src") != F.col("dst"))  # self-loops from merged endpoints
        .groupBy("src", "dst", "pred")
        .agg(
            F.max_by(
                F.struct("description", "edge_confidence"),
                F.array_max("conv_ids"),
            ).alias("p"),
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("conv_ids")))).alias("cids"),
        )
        .select(
            "src", "dst", "pred",
            F.col("p.description").alias("description"),
            F.col("p.edge_confidence").alias("edge_confidence"),
            F.col("cids").alias("conv_ids"),
        )
    )

    # --- kg_nodes: one row per component ----------------------------------
    labeled = all_nodes.join(comp, "node_id", "left").withColumn(
        "component_id", F.coalesce("component_id", "node_id")
    )
    kg_nodes = (
        labeled.groupBy("component_id")
        .agg(
            # representative: most frequently asserted name, ties → lexic. min
            # (min_by over (-count, name): min of -count = max count, then
            # the lexicographically smallest name — ADVICE r1 fixed the
            # max_by variant that picked the GREATEST name on ties)
            F.min_by(
                F.struct("name", "type", "description", "concept_category",
                         "intervention_lifecycle", "intervention_maturity"),
                F.struct((-F.col("n_occurrences")).alias("neg_n"), F.col("name")),
            ).alias("rep"),
            F.array_sort(
                F.array_distinct(
                    F.flatten(
                        F.collect_list(
                            F.concat(
                                F.array(F.col("name")),
                                F.coalesce(F.col("aliases"), F.array().cast("array<string>")),
                            )
                        )
                    )
                )
            ).alias("all_names"),
            F.count("*").alias("n_merged"),
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("conv_ids")))).alias("conv_ids"),
        )
        .select(
            F.col("component_id").alias("node_id"),
            F.col("rep.name").alias("canonical_name"),
            F.col("rep.type").alias("type"),
            F.col("all_names").alias("aliases"),
            F.col("rep.description").alias("description"),
            F.col("rep.concept_category").alias("concept_category"),
            F.col("rep.intervention_lifecycle").alias("intervention_lifecycle"),
            F.col("rep.intervention_maturity").alias("intervention_maturity"),
            F.col("n_merged").cast("int").alias("n_merged"),
            "conv_ids",
        )
    )

    # --- document provenance (reference PAPER-node analog) ----------------
    # The reference's graph has explicit PAPER nodes MERGEd per source
    # document (db.py:34-66); this engine normalizes them into the
    # conv_ids evidence arrays.  When the documents table carries
    # article metadata (PDF /Info Title/Author, ARD title/authors —
    # arxiv.jsonl.example.json:1-10), stage D denormalizes it onto each
    # kg node as sorted-distinct source_titles/source_authors, capped at
    # 20 per node (mirrored in the oracle) so a hub concept cited by
    # millions of documents cannot blow the row — full evidence stays
    # queryable via conv_ids ⋈ documents.
    empty = F.array().cast("array<string>")
    if docs_meta is not None:
        ev = labeled.select(
            F.col("component_id").alias("node_id"),
            F.explode("conv_ids").alias("conv_id"),
        ).distinct()
        prov = (
            ev.join(docs_meta.select("conv_id", "title", "author"), "conv_id")
            .groupBy("node_id")
            .agg(
                F.slice(F.array_sort(F.collect_set("title")), 1, 20)
                .alias("source_titles"),
                F.slice(F.array_sort(F.collect_set("author")), 1, 20)
                .alias("source_authors"),
            )
        )
        kg_nodes = (
            kg_nodes.join(prov, "node_id", "left")
            .withColumn("source_titles", F.coalesce("source_titles", empty))
            .withColumn("source_authors", F.coalesce("source_authors", empty))
        )
    else:
        kg_nodes = kg_nodes.withColumn("source_titles", empty).withColumn(
            "source_authors", empty
        )
    return Graph(nodes=kg_nodes, edges=kg_edges, dangling=dangling)


def isolated_nodes(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """G4 — nodes with no incident edges (anti-join on endpoints)."""
    endpoints = edges.select(F.col("src").alias("node_id")).union(
        edges.select(F.col("dst").alias("node_id"))
    ).distinct()
    return nodes.join(endpoints, "node_id", "left_anti")
