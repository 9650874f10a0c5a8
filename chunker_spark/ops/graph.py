"""Distributed connected components: near-dup pairs -> dedup clusters.

Pair emitters (minhash/ngram/embedding near-dup) give EDGES; the thing
a curation pipeline actually acts on is the CLUSTER (keep one
representative per component, drop the rest). Implemented as min-label
propagation with pointer jumping: each round every node takes the
minimum label among itself, its neighbors' labels, and its own label's
label (path compression) — near-dup clusters are near-cliques that
settle in 2–3 rounds; sparse random graphs measure ~20 rounds at
200 nodes (the jump chases one-round-stale labels, so it compresses
less than textbook pointer doubling). The
alternating large-star/small-star contraction (Kiveris et al.,
SoCC'14) is the drop-in upgrade if edge multiplicity ever dominates;
the signature is the contract, the iteration scheme an implementation
detail.

Scale shape: every round shuffles only (node, label) longs — fixed
width, no payloads — and the iteration count is checked by a driver-side
convergence test on a count (one lightweight action per round).
`localCheckpoint` truncates the lineage each round so the plan doesn't
grow exponentially across iterations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """Edges (undirected, any orientation, duplicates fine) ->
    (node, component) where component is the minimum node id reachable.

    Nodes appearing only in edges are labeled; isolated nodes (no
    edges) don't appear — union the full id set afterwards if every
    row needs a label.

    Per-round shuffle volume is sym_edges + 2·nodes fixed-width rows
    (the neighbor join and the jump join); the convergence check is a
    filter+count over the round's checkpointed labels, shuffle-free.
    """
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") != F.col("b"))
    )
    # symmetric neighbor list seed: label(x) = min(x, min neighbor).
    # Checkpoint edges FIRST and derive the label seed from the
    # CHECKPOINTED frame — deriving both from `sym` re-ran the whole
    # upstream edge pipeline (often a window/explode over raw pairs)
    # once per seed. Seeds stay EAGER: both frames are referenced
    # several times inside the first round's single job (neighbor join,
    # jump self-join, label base) — a lazy checkpoint there lets
    # concurrent stages race to compute the same RDD before its blocks
    # land (measured ~2x round-1 cost when tried). The per-ROUND
    # checkpoint below is lazy: referenced once by the convergence
    # count that materializes it.
    sym = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    edges_cur = sym.localCheckpoint(eager=True)
    labels = (
        edges_cur.groupBy("a")
        .agg(F.min("b").alias("mn"))
        .select(F.col("a").alias("node"), F.least("a", "mn").alias("comp"))
    ).localCheckpoint(eager=True)

    for _ in range(max_iter):
        # neighbor pass: min label among my neighbors
        with_nbr = (
            edges_cur.join(labels.withColumnRenamed("node", "b"), "b")
            .groupBy("a")
            .agg(F.min("comp").alias("nbr_min"))
        )
        # pointer jump: my label's own label (path compression) — turns
        # O(diameter) propagation into O(log diameter)
        jump = labels.select(F.col("node").alias("jn"), F.col("comp").alias("jc"))
        # ONE action per round (was two): the previous label rides the
        # checkpointed frame as ``prev``, so the convergence check is a
        # filter+count over the just-materialized blocks — no join back
        # against the old generation, and the lazy checkpoint
        # materializes inside that same count job.
        stepped = (
            labels.join(jump, labels["comp"] == jump["jn"], "left")
            .select(
                "node",
                F.col("comp").alias("prev"),
                F.least("comp", F.coalesce("jc", "comp")).alias("comp"),
            )
            .join(with_nbr.withColumnRenamed("a", "node"), "node", "left")
            .select(
                "node",
                "prev",
                F.least("comp", F.coalesce("nbr_min", "comp")).alias("comp"),
            )
        ).localCheckpoint(eager=False)
        changed = stepped.where(F.col("comp") != F.col("prev")).count()
        labels = stepped.select("node", "comp")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(pathological graph diameter?) — raise max_iter"
        )
    return labels.select(F.col("node"), F.col("comp").alias("component"))


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Near-dup pair list -> (doc_id, rep_id): every clustered document
    labeled with its component's minimum id (the canonical 'keep the
    representative, drop the rest' decision)."""
    cc = connected_components(pairs, src=id_a, dst=id_b)
    return cc.select(F.col("node").alias("doc_id"), F.col("component").alias("rep_id"))
