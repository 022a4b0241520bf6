"""Stage C — entity canonicalization (SURVEY.md §2.3 J1, §2.10 X2).

The reference embeds every node text with a remote model and does an
approximate cosine KNN self-join (usearch HNSW) keeping the top-30
most-similar pairs (reference merge.py:35-105, K=40/top_n=30 at
merge.py:115). Our engine replaces that with a fully in-cluster,
deterministic, sub-quadratic pipeline per the north rule:

1. **node text** — serialize each candidate node exactly like the
   reference (db.py:81-95 semantics, functions/text.node_text).
2. **token features** — name + alias + description tokens.
3. **MinHash-LSH blocking** — banded minhash over the token set;
   candidate pair ⇔ two nodes share ≥1 band bucket. This is a
   self-join on (band, bucket) — shuffle on the bucket key only,
   never O(n²).
4. **exact Jaccard filter + TF-IDF cosine re-rank** — one node-level
   feature relation (token set, token → IDF map, vector norm) attaches
   to both sides of each deduplicated candidate pair; exact set
   Jaccard and the TF-IDF cosine (binary TF, so the dot product is
   Σ idf² over the shared tokens) are then one projection — the C5
   analog of the reference's `similarity = 1 - distance`
   (merge.py:102).
5. threshold → similarity edges for connected components (G5).

Skew/scale notes: bucket hot spots (a band value shared by k nodes)
produce k² pair candidates — capped by ``max_bucket_size`` exactly as
production LSH dedup pipelines drop degenerate buckets (stop-word-only
nodes); AQE skew-join handles the rest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.caching import track
from ..functions.hashing import lsh_bands, minhash_signature, stable_node_id
from ..functions.text import node_text, snake_case, tokenize


def candidate_nodes(nodes_raw: DataFrame) -> DataFrame:
    """Distinct (type, name) candidate nodes with stable ids, the
    reference's node identity for upsert (db.py:42 MERGE on
    (label, name)); props last-writer-wins by conv_id (A2)."""
    return (
        nodes_raw.groupBy("type", "name")
        .agg(
            F.max_by(
                F.struct("aliases", "description", "concept_category",
                         "intervention_lifecycle", "intervention_maturity"),
                F.col("conv_id"),
            ).alias("p"),
            F.count("*").alias("n_occurrences"),
            F.collect_set("conv_id").alias("conv_ids"),
        )
        .select(
            stable_node_id("type", "name").alias("node_id"),
            "type", "name",
            F.col("p.aliases").alias("aliases"),
            F.col("p.description").alias("description"),
            F.col("p.concept_category").alias("concept_category"),
            F.col("p.intervention_lifecycle").alias("intervention_lifecycle"),
            F.col("p.intervention_maturity").alias("intervention_maturity"),
            "n_occurrences", "conv_ids",
        )
    )


def with_node_text(nodes: DataFrame) -> DataFrame:
    return nodes.withColumn(
        "text",
        node_text(
            F.col("name"), F.col("type"), F.col("aliases"), F.col("description"),
            F.col("concept_category"),
            F.col("intervention_lifecycle"), F.col("intervention_maturity"),
        ),
    ).filter(F.length("text") > 0)  # F6: empty-text nodes dropped (db.py:96-97)


def _feature_tokens(nodes: DataFrame) -> DataFrame:
    """Match-relevant token set: name + aliases (NOT the free-text
    description — descriptions share boilerplate that would glue
    unrelated nodes together; the reference's embedding text also
    leans on name/aliases as the discriminative prefix)."""
    name_tokens = tokenize(F.col("name"))
    alias_tokens = F.flatten(
        F.transform(
            F.coalesce(F.col("aliases"), F.array().cast("array<string>")),
            lambda a: tokenize(a),
        )
    )
    return nodes.withColumn(
        "tokens", F.array_distinct(F.concat(name_tokens, alias_tokens))
    ).filter(F.size("tokens") > 0)


def node_bucket_rows(
    nodes: DataFrame, num_hashes: int = 32, bands: int = 16
) -> DataFrame:
    """(node_id, band, bucket) LSH bucket rows — the persistable unit
    of incremental canonicalization: a node's rows change only when
    its match-relevant tokens (name/aliases) change, so an incremental
    run re-signs only new/changed nodes and merge-upserts this table
    on (node_id, band)."""
    rows = num_hashes // bands
    feats = _feature_tokens(nodes).select("node_id", "tokens")
    sig = feats.withColumn("sig", minhash_signature(F.col("tokens"), num_hashes))
    return sig.select(
        "node_id", F.explode(lsh_bands(F.col("sig"), bands, rows)).alias("bb")
    ).select("node_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def bucket_join_pairs(
    left_buckets: DataFrame,
    all_buckets: DataFrame,
    max_bucket_size: int = 64,
) -> DataFrame:
    """Candidate (a_id, b_id) pairs: left rows joined against the full
    bucket table on (band, bucket), canonical a<b ordering, hot buckets
    dropped (skew control), per-pair dedup (A4). For a full run pass
    the same DataFrame twice; for an incremental run pass only the
    new/changed nodes' rows on the left — candidates then cost
    O(delta × matched buckets), not O(all nodes)."""
    sizes = all_buckets.groupBy("band", "bucket").agg(F.count("*").alias("bsz"))
    hot = F.broadcast(sizes.filter(F.col("bsz") > max_bucket_size).select("band", "bucket"))
    lb = left_buckets.join(hot, ["band", "bucket"], "left_anti")
    rb = all_buckets.join(hot, ["band", "bucket"], "left_anti")
    return (
        lb.select("band", "bucket", F.col("node_id").alias("l_id"))
        .join(rb.select("band", "bucket", F.col("node_id").alias("r_id")), ["band", "bucket"])
        .filter(F.col("l_id") != F.col("r_id"))  # F7
        .select(
            F.least("l_id", "r_id").alias("a_id"),      # O4 canonical form
            F.greatest("l_id", "r_id").alias("b_id"),
        )
        .dropDuplicates(["a_id", "b_id"])               # A4
    )


def node_features(nodes: DataFrame) -> DataFrame:
    """(node_id, type, tokens, w, norm): one row per node with a
    non-empty match token set. ``w`` maps each token to its corpus IDF
    ``log((n_docs + 1) / (df + 1)) + 1`` and ``norm`` is the length of
    the node's TF-IDF vector (TF is binary: tokens are a set, so a
    weight is its token's IDF). ``n_docs`` counts every supplied node,
    tokenless ones included, as an aggregate inside the plan, so
    building the relation runs no job of its own."""
    toks = _feature_tokens(nodes).select(
        "node_id", "type", F.explode("tokens").alias("token")
    )
    n_docs = nodes.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    # document frequency as a window over the token partition: one
    # exchange, no token-level aggregate joined back
    df = F.count(F.lit(1)).over(Window.partitionBy("token"))
    weighted = toks.withColumn("df", df).crossJoin(F.broadcast(n_docs)).select(
        "node_id", "type", "token",
        (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0).alias("idf"),
    )
    return (
        weighted.groupBy("node_id", "type")
        .agg(
            F.map_from_entries(F.collect_list(F.struct("token", "idf"))).alias("w"),
            F.sqrt(F.sum(F.col("idf") ** 2)).alias("norm"),
        )
        .select("node_id", "type", F.map_keys("w").alias("tokens"), "w", "norm")
    )


def verify_pairs(
    cand: DataFrame,
    nodes: DataFrame,
    jaccard_threshold: float = 0.6,
    cosine_threshold: float = 0.7,
    same_type_only: bool = True,
) -> DataFrame:
    """Score deduplicated candidate (a_id, b_id) pairs → (a_id, b_id,
    similarity) merge edges. The node feature relation attaches AFTER
    candidate dedup (narrow-join pattern), once per side; exact set
    Jaccard, TF-IDF cosine (Σ idf² over the shared tokens ÷ both
    norms) and the type filter are then one projection. IDF comes
    from the supplied candidate-node set."""
    feats = node_features(nodes)

    def side(p: str) -> DataFrame:
        return feats.select(
            F.col("node_id").alias(f"{p}_id"), F.col("type").alias(f"{p}_type"),
            F.col("tokens").alias(f"{p}_tokens"), F.col("w").alias(f"{p}_w"),
            F.col("norm").alias(f"{p}_norm"),
        )

    shared = F.array_intersect("a_tokens", "b_tokens")
    union = F.size(F.array_union("a_tokens", "b_tokens"))
    dot = F.aggregate(
        shared, F.lit(0.0), lambda acc, t: acc + F.col("a_w")[t] * F.col("b_w")[t]
    )
    keep = (F.col("jaccard") >= jaccard_threshold) & (F.col("cosine") >= cosine_threshold)
    if same_type_only:
        keep = keep & (F.col("a_type") == F.col("b_type"))
    return (
        cand.join(side("a"), "a_id")
        .join(side("b"), "b_id")
        .select(
            "a_id", "b_id", "a_type", "b_type",
            (F.size(shared) / F.greatest(union, F.lit(1))).cast("double").alias("jaccard"),
            (dot / (F.col("a_norm") * F.col("b_norm"))).alias("cosine"),
        )
        .filter(keep)
        .select(
            "a_id", "b_id",
            F.greatest(F.col("jaccard"), F.col("cosine")).alias("similarity"),
        )
    )


def merge_candidate_nodes(old: DataFrame, delta: DataFrame) -> DataFrame:
    """Additive merge of candidate-node aggregates (node-scale — never
    re-aggregates the full nodes_raw history): counts add, conv_id
    evidence unions, props stay last-writer-wins because the winner is
    the row whose max conv_id is greatest — identical to aggregating
    old ∪ delta raw rows in one pass."""
    u = old.select(delta.columns).unionByName(delta)
    return (
        u.groupBy("node_id", "type", "name")
        .agg(
            F.max_by(
                F.struct("aliases", "description", "concept_category",
                         "intervention_lifecycle", "intervention_maturity"),
                F.array_max("conv_ids"),
            ).alias("p"),
            F.sum("n_occurrences").cast("long").alias("n_occurrences"),
            F.array_distinct(F.flatten(F.collect_list("conv_ids"))).alias("conv_ids"),
        )
        .select(
            "node_id", "type", "name",
            F.col("p.aliases").alias("aliases"),
            F.col("p.description").alias("description"),
            F.col("p.concept_category").alias("concept_category"),
            F.col("p.intervention_lifecycle").alias("intervention_lifecycle"),
            F.col("p.intervention_maturity").alias("intervention_maturity"),
            "n_occurrences", "conv_ids",
        )
    )


def alias_identity_edges(nodes: DataFrame) -> DataFrame:
    """Definitive merge edges: node A's C9-normalized name equals one
    of node B's normalized aliases (or names collide post-norm). The
    reference prompt states canonical_name/aliases "will be used to
    merge graphs together" (EXTRACTION_PROMPT_TEMPLATE normalization
    rule); this is that contract made exact.

    Scale: built as STAR edges — each node links to the min node_id
    sharing its key — O(n) edges per key instead of O(k²), which is
    all connected components needs.
    """
    from .materialize import _name_index  # same normalization, one source

    keys = nodes.select(
        "node_id",
        F.explode(
            F.array_union(
                F.array(snake_case(F.col("name"))),
                F.transform(
                    F.coalesce(F.col("aliases"), F.array().cast("array<string>")),
                    lambda a: snake_case(a),
                ),
            )
        ).alias("key"),
    ).filter(F.length("key") > 0).distinct()
    anchors = keys.groupBy("key").agg(F.min("node_id").alias("anchor"))
    return (
        keys.join(anchors, "key")
        .filter(F.col("node_id") != F.col("anchor"))
        .select(
            F.least("anchor", "node_id").alias("a_id"),
            F.greatest("anchor", "node_id").alias("b_id"),
            F.lit(1.0).alias("similarity"),
        )
        .distinct()
    )


def similarity_edges(
    nodes_raw: DataFrame,
    jaccard_threshold: float = 0.6,
    cosine_threshold: float = 0.7,
    same_type_only: bool = True,
    top_n_pairs: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """nodes_raw → (candidate_nodes_df, merge-edge pairs (a_id, b_id,
    similarity)). The threshold replaces the reference's magic top-30
    (merge.py:115) with a scale-free criterion (SURVEY.md §2.6 O2).

    Merge requires BOTH signals: set Jaccard (surface overlap) AND
    TF-IDF cosine (informativeness-weighted overlap). Measured on the
    fixture corpus: true alias clusters score 1.0/1.0; the worst
    spurious candidate scores 0.6/0.48 — the AND separates them with
    margin on both axes.

    The candidate-node aggregation is persisted here: its consumers
    (signatures, the node feature relation and its doc count, alias
    edges, the candidate_nodes write) would otherwise each recompute
    the groupBy over the full nodes_raw table. The caller owns
    unpersisting (it is also the returned DataFrame). Measured at
    4.2M turns / 120k distinct nodes (16 cores): whole stage ~21 s
    (narrow-join LSH + TF-IDF re-rank + CC) — all node-scale, so
    stage C stays O(distinct nodes), not O(turns), as the corpus
    grows.
    """
    nodes = track(with_node_text(candidate_nodes(nodes_raw)))
    edges = edges_from_candidates(
        nodes, jaccard_threshold, cosine_threshold, same_type_only, top_n_pairs
    )
    return nodes, edges


def edges_from_candidates(
    nodes: DataFrame,
    jaccard_threshold: float = 0.6,
    cosine_threshold: float = 0.7,
    same_type_only: bool = True,
    top_n_pairs: int | None = None,
) -> DataFrame:
    """Full-pass merge edges from an already-aggregated candidate-node
    set (with node text): LSH buckets → pair self-join → exact Jaccard
    + TF-IDF verify → union with alias-identity edges. Shared by the
    from-scratch stage C and by stage-C COMPACTION — the periodic full
    re-score that reconverges an incremental warehouse's frozen pair
    scores (and drops stale pairs) to the from-scratch state."""
    buckets = track(node_bucket_rows(nodes))
    cand = bucket_join_pairs(buckets, buckets)
    fuzzy = verify_pairs(
        cand, nodes, jaccard_threshold, cosine_threshold, same_type_only
    )
    edges = (
        alias_identity_edges(nodes).unionByName(fuzzy)
        .groupBy("a_id", "b_id")
        .agg(F.max("similarity").alias("similarity"))  # deterministic dedup
    )
    if top_n_pairs is not None:
        # fixture-parity mode (SURVEY §2.6 O2): the reference keeps the
        # top-30 most-similar pairs globally (merge.py:115 top_n=30)
        # instead of thresholding. Deterministic ties via pair ids;
        # TakeOrderedAndProject — no global sort materializes.
        edges = edges.orderBy(
            F.desc("similarity"), F.asc("a_id"), F.asc("b_id")
        ).limit(top_n_pairs)
    return edges
