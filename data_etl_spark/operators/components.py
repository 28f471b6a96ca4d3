"""Distributed connected components via hash-min label propagation with
pointer doubling — the canonical-assignment step after near-dup candidate
generation (cluster the pair graph, pick min doc id per cluster), and the
cross-partition scale path for the J4 rect merge (SURVEY.md §2.4:
"GraphFrames connectedComponents + min/max agg per component" — done
here with plain DataFrames, no extra dependency).

Algorithm: every node starts labeled with itself; each round a node's
label becomes (a) the min of its own and its neighbors' labels (1-hop
propagation), then (b) the min of its label and its *label's* label
(pointer doubling / path compression, a self-join on the label table).
Plain 1-hop propagation needs O(component diameter) rounds — fatal on a
chain graph; the doubling step roughly squares the propagation distance
per round, giving O(log diameter): a 10k-node chain converges in ~15
rounds (tests/test_components.py stress-tests exactly that).

Per round: one shuffle for the neighbor groupBy-min, one for the
doubling self-join. The 1-hop result is localCheckpoint'ed *before* the
doubling self-join so the join's two legs read materialized blocks
instead of recomputing the hop shuffles twice (measured 2x slower
without it), and the previous label rides along as a ``prev`` column so
the convergence probe is a limit-1 scan over the final checkpoint — no
extra join and no recompute/count job. Two constant-factor choices cut
setup cost: the edge set is symmetrized with ONE evaluation of the
input plan (explode of a 2-struct array, not a union of two selects —
a union evaluates the candidate-pair subtree twice), and round 0 is
fused into label initialization (label := min(node, min neighbor) is
exactly the first hop, computed by the same aggregation that discovers
the node set).
Checkpoint rotation (cache.CheckpointRotation): the symmetrized edge
table lives for the whole loop, while each label table (round 0's
labels, every 1-hop table, every doubled table) replaces its
predecessor as soon as it is materialized, so the loop holds the edge
table plus its newest round however many rounds it runs, and the
returned labels read that newest round.
At cluster scale pass ``checkpoint_interval`` to also write a reliable
checkpoint every K rounds (requires
``spark.sparkContext.setCheckpointDir``), bounding recovery cost under
executor loss.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import CheckpointRotation, tracked_local_checkpoint


def symmetrize_edges(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    out_src: str = "src",
    out_dst: str = "dst",
    *extra: str,
) -> DataFrame:
    """Both orientations of an edge list with ONE evaluation of the
    (possibly expensive) input plan: each row explodes into a 2-struct
    array — a union of two selects would evaluate the candidate-pair
    subtree twice. The single implementation of the rule previously
    inlined in connected_components / q_hard_negatives / q_kcore_peel;
    ``extra`` columns ride along unchanged."""
    both = F.explode(
        F.array(
            F.struct(
                F.col(src).alias(out_src),
                F.col(dst).alias(out_dst),
                *[F.col(c) for c in extra],
            ),
            F.struct(
                F.col(dst).alias(out_src),
                F.col(src).alias(out_dst),
                *[F.col(c) for c in extra],
            ),
        )
    )
    return edges.select(both.alias("e")).select("e.*")


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 40,
    checkpoint_interval: int | None = None,
) -> DataFrame:
    """(node, component) for every node in ``edges``; component = min
    node id reachable. Deterministic (min-label), so oracle-checkable.

    The edge list is always deduplicated: the distinct's exchange
    hash-balances it before the eager checkpoint, and every per-round
    join inherits that balance (skipping it measured slower even on
    already-distinct inputs, q_dedup_clusters 3.99 s -> 5.44 s at sf0.1).

    Raises ``RuntimeError`` if labels are still changing after
    ``max_iter`` rounds — partial (unconverged) labels are silently
    wrong, never returned.
    """
    # Symmetrize with a single evaluation of the (possibly expensive)
    # edges plan (see symmetrize_edges).
    sym = tracked_local_checkpoint(symmetrize_edges(edges, src, dst).distinct())
    ckpt = CheckpointRotation()
    # Round 0 fused into init: the aggregation that discovers the node
    # set also computes its first hop (label = min(node, min neighbor)).
    labels = ckpt.checkpoint(
        sym.groupBy("src")
        .agg(F.least(F.col("src"), F.min("dst")).alias("component"))
        .select(F.col("src").alias("node"), "component")
    )

    for round_no in range(1, max_iter + 1):
        # (a) 1-hop min propagation over the edge set.
        neighbor_min = (
            sym.join(labels, sym["src"] == labels["node"])
            .select(F.col("dst").alias("node"), F.col("component"))
            .groupBy("node")
            .agg(F.min("component").alias("neighbor_component"))
        )
        # ``prev`` rides along so the convergence probe never needs a
        # join back to the old label table.
        hop = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.col("component").alias("prev"),
                F.least(
                    F.col("component"),
                    F.coalesce("neighbor_component", F.col("component")),
                ).alias("component"),
            )
        )
        hop = ckpt.checkpoint(hop)
        # Early exit at the 1-hop fixpoint: if the hop changed nothing,
        # labels are equal across every edge (the only fixpoints of the
        # 1-hop min operator), hence constant per component — and since
        # labels start at node ids and only decrease, that constant IS
        # the component min. Doubling then maps m -> label(m) = m and
        # cannot change anything, so skip the self-join entirely: the
        # final round costs one join instead of two.
        if hop.where(F.col("component") != F.col("prev")).limit(1).isEmpty():
            return hop.select("node", "component")
        # (b) pointer doubling: component := min(component,
        # component's component). Every label value is itself a node, so
        # the lookup is a self-join on the (checkpointed) hop table —
        # without the checkpoint the self-join's two legs would each
        # re-run the 1-hop shuffles inside one job (measured 2x slower
        # than paying the extra materialization job).
        looked_up = hop.select(
            F.col("node").alias("l_node"), F.col("component").alias("l_component")
        )
        new_labels = hop.join(
            looked_up, hop["component"] == looked_up["l_node"], "left"
        ).select(
            "node",
            "prev",
            F.least(
                F.col("component"),
                F.coalesce("l_component", F.col("component")),
            ).alias("component"),
        )

        if checkpoint_interval and round_no % checkpoint_interval == 0:
            new_labels = new_labels.checkpoint(eager=True)  # reliable store
            ckpt.release()
        else:
            new_labels = ckpt.checkpoint(new_labels)

        # Convergence probe: limit-1 scan over the blocks the eager
        # checkpoint just materialized — no recompute job.
        converged = new_labels.where(F.col("component") != F.col("prev")).limit(1).isEmpty()
        labels = new_labels.select("node", "component")
        if converged:
            return labels

    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds "
        "(component diameter too large for the iteration budget); "
        "raise max_iter"
    )


def dedup_clusters(pairs: DataFrame, id1: str = "doc1", id2: str = "doc2") -> DataFrame:
    """Cluster a near-dup pair list: (doc_id, canonical_id, cluster_size).

    canonical_id = min doc id in the connected component — the same
    keep-the-first rule as exact dedup (plans/dedup.py q_exact_dedup).
    """
    from pyspark.sql import Window as W

    cc = connected_components(pairs, src=id1, dst=id2)
    w = W.partitionBy("component")
    return cc.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("canonical_id"),
        F.count("*").over(w).alias("cluster_size"),
    )
