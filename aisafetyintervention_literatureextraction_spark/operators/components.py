"""G5 — connected components by iterative hash-join label propagation.

The reference merges duplicate pairs *sequentially* with Cypher
rewiring per pair (reference db.py:106-155, driver loop
merge.py:107-109 — which iterates over node ids captured before any
merge, a latent staleness bug SURVEY.md §2.9 documents). Connected
components is the order-independent closure of the same intent and is
what the north rule prescribes ("GraphFrames-style iterative hash-join
label propagation").

Algorithm: min-label propagation with POINTER JUMPING to fixpoint —
    comp(v) ← min(comp(v), min over neighbors u of comp(u))   (hop)
    comp(v) ← min(comp(v), comp(comp(v)))                     (jump)
The jump step halves chain depth every iteration (path-doubling), so a
diameter-D chain converges in O(log D) iterations instead of O(D) —
the property that makes long near-dup chains safe at corpus scale
(ADVICE r1: plain propagation silently hit max_iter on them). Each
iteration is two shuffles; lineage is truncated per iteration with
``localCheckpoint`` so the plan does not grow unboundedly (SURVEY.md
§4.2); convergence = zero changed labels (an aggregate, not a collect
of the data). Non-convergence within ``max_iter`` raises instead of
silently returning wrong labels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def connected_components(
    vertices: DataFrame,  # node_id long
    edges: DataFrame,     # a_id, b_id
    max_iter: int = 50,
    checkpoint_every: int = 1,
    initial_labels: DataFrame | None = None,
) -> DataFrame:
    # r6: the hop/jump rounds are linear joins over the label relation
    # — the same tiny-per-round-shuffle profile as the rank kernels,
    # so run the eager iteration under AQE partition coalescing (see
    # graph_analytics._adaptive_coalesce: byte-adaptive, restores the
    # caller's setting on exit)
    from .graph_analytics import _adaptive_coalesce

    with _adaptive_coalesce(edges):
        return _connected_components_impl(
            vertices, edges, max_iter, checkpoint_every, initial_labels)


def _connected_components_impl(
    vertices: DataFrame,
    edges: DataFrame,
    max_iter: int = 50,
    checkpoint_every: int = 1,
    initial_labels: DataFrame | None = None,
) -> DataFrame:
    """Returns (node_id, component_id) — component_id = min node_id in
    the component. Deterministic and resume-stable because node ids
    are content hashes (functions/hashing.stable_node_id).

    ``initial_labels`` (node_id, component_id) warm-starts the
    propagation — valid whenever each supplied label is the min node
    id of SOME subset of the node's true component, which holds for a
    previous run's output because similarity edges are only ever
    ADDED (components merge, never split). An incremental run then
    converges in one or two iterations instead of O(log diameter)."""
    sym = (
        edges.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
        .union(edges.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if initial_labels is not None:
        labels = vertices.join(
            initial_labels.select("node_id", F.col("component_id").alias("prev_comp")),
            "node_id", "left",
        ).select(
            "node_id",
            F.coalesce(F.col("prev_comp"), F.col("node_id")).alias("component_id"),
        ).localCheckpoint(eager=True)
    else:
        labels = vertices.select(
            F.col("node_id"), F.col("node_id").alias("component_id")
        ).localCheckpoint(eager=True)

    converged = False
    for i in range(max_iter):
        # hop: every edge forwards the source's current label
        msgs = (
            sym.join(labels, sym.src == labels.node_id)
            .select(F.col("dst").alias("node_id"), F.col("component_id"))
            .groupBy("node_id")
            .agg(F.min("component_id").alias("nbr_min"))
        )
        hopped = (
            labels.join(msgs, "node_id", "left")
            .select(
                "node_id",
                F.least(
                    F.col("component_id"), F.coalesce(F.col("nbr_min"), F.col("component_id"))
                ).alias("component_id"),
            )
        )
        # jump: comp(v) ← comp(comp(v)) — labels are always node ids,
        # so the self-join resolves one indirection per iteration and
        # compounds with the hop into path doubling
        parent = hopped.select(
            F.col("node_id").alias("component_id"),
            F.col("component_id").alias("grand"),
        )
        jumped = (
            hopped.join(parent, "component_id", "left")
            .select(
                "node_id",
                F.least(
                    F.col("component_id"), F.coalesce(F.col("grand"), F.col("component_id"))
                ).alias("component_id"),
            )
        )
        new_labels = (
            jumped.join(
                labels.select("node_id", F.col("component_id").alias("prev")), "node_id"
            )
            .select(
                "node_id", "component_id",
                (F.col("component_id") != F.col("prev")).alias("changed"),
            )
        )
        if (i + 1) % checkpoint_every == 0:
            # persist-then-checkpoint sandwich — NOT just lineage hygiene.
            # localCheckpoint preserves the origin plan's Catalyst
            # statistics, and sizeInBytes MULTIPLIES through each
            # iteration's joins, so the estimate's BigInteger doubles
            # in digit count every iteration; by ~iteration 12 the
            # driver spends tens of seconds per iteration inside
            # BigInteger.multiply doing stat propagation (measured:
            # 0.6 s → 67 s/iter on a 20 k-node chain, executor time
            # ~0). The cache boundary makes the checkpointed plan's
            # stats the InMemoryRelation's REAL materialized size, so
            # estimates stay flat for any iteration count. The
            # changed-label count is observed on the checkpoint job
            # itself, so a round runs one job, not a count and a copy.
            changed = Observation()
            cached = new_labels.persist()
            new_labels = cached.observe(
                changed, F.count_if(F.col("changed")).alias("n")
            ).localCheckpoint(eager=True)
            cached.unpersist()
            n_changed = changed.get["n"]
        else:
            n_changed = new_labels.filter(F.col("changed")).count()
        labels = new_labels.drop("changed")
        if n_changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            "iterations — labels would be wrong; raise max_iter (convergence is "
            "O(log diameter) with pointer jumping)"
        )
    return labels
