"""The one iterative connected-components loop (hash-to-min label
propagation with pointer jumping, Kiveris et al., "Connected Components
in MapReduce") over an explicit edge list. Its three callers:
entity clustering (operators/er.er_entity_clusters), duplicate clusters
(llm/dedup.dedup_clusters) and semantic clusters
(llm/similarity.emb_semantic_clusters).

Each round is one join plus one aggregate: the messages are the edges
plus one pointer edge ``label(v) -> v`` per node, so v takes the min of
its neighbours' labels and of label(label(v)) at once. The label table
is cut with ``materialize.truncate`` every round, so the plan stays one
join deep. Pointer jumping turns O(diameter) rounds into O(log
diameter). Measured rounds at sf0.1: 10 for the chain-shaped ER match
graph, 6 for the semantic near-dup graph and 2 for the duplicate graph,
whose components are dense blobs of diameter 1-2.

Scale design: each round shuffles only the (node, label) table — never
the underlying corpus — and the convergence count is taken every
second round (halves driver round-trips). For adversarial long-chain
graphs the documented swap is large-star/small-star. An unconverged
exit raises loudly (ADVICE r6): the oracles are FULL recursive
closures, so a silent partial fixpoint must never reach the
differential.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..materialize import truncate


def min_label_components(
    nodes: DataFrame, edges: DataFrame, max_rounds: int = 30
) -> DataFrame:
    """``nodes(node)`` + undirected ``edges(src, dst)`` between nodes
    (both directions present) -> ``(node, label)`` with label = min
    node id of the component.

    The caller must persist the edge list: every round joins it (er.py
    measured 6 s/round recomputing its Levenshtein self-join vs ~1
    s/round pinned)."""
    labels = nodes.select(F.col("node"), F.col("node").alias("label"))
    converged = False
    for rnd in range(1, max_rounds + 1):
        # labels always hold a node id of the SAME component and never
        # exceed their node, so label(label(v)) <= label(v): the pointer
        # edge also carries v's own label, and every node gets a message
        msgs = edges.select("src", "dst").union(
            labels.select(F.col("label").alias("src"), F.col("node").alias("dst"))
        )
        new_labels = truncate(
            msgs.join(labels.select(F.col("node").alias("src"), "label"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("label").alias("label"))
        )
        converged = False
        if rnd % 2 == 0 or rnd == max_rounds:
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), F.col("n.node") == F.col("o.node"))
                .filter(F.col("n.label") != F.col("o.label"))
                .count()
            )
            converged = changed == 0
        labels = new_labels
        if converged:
            break
    if not converged:
        raise RuntimeError(
            f"min_label_components: no fixpoint within {max_rounds} rounds;"
            " raise max_rounds (or switch to large-star/small-star)"
        )
    return labels
