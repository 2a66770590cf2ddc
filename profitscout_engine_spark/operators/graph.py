"""Graph kernel over a (d1, d2) pair graph: the one edge symmetrizer,
connected components (dedup clustering) and synchronous label propagation
(community detection), plain rounds and converged.

Symmetrizer. The near-dup passes emit undirected PAIRS (d1 < d2); every
graph query walks them as a directed edge list with each pair once in
each direction. ``symmetric_edges(pairs, a, b, *payload)`` is the one
Spark copy of that rule (the caller names the two endpoint columns and
the pass-through payload, e.g. a similarity), and
``queries._util.sym_sql`` is its oracle-SQL twin. Neither dedups.

Connected components. A training pipeline needs CLUSTERS — one canonical
document per connected component of the pair graph, everything else
dropped. Spark-first shape: hash-min label propagation — every node
starts labeled with its own id, each round every node takes the min
label in its neighborhood, repeat until fixpoint. Rounds needed = graph
diameter, and near-dup components are shallow (pairs all share content,
so diameters of 2-4 dominate); each round is two shuffles on narrow
(node, label) rows, embarrassingly scalable. The driver-side loop is
control flow only (one convergence count per round), never data.
This is the standard big-data CC algorithm (GraphX/Pregel's default,
"hash-min" in the literature); alternating large/small-star (Kiveris et
al.) drops the round count to O(log n) for adversarially deep graphs —
not needed for dedup-shaped inputs.

Label propagation. ``lpa_round`` is one SYNCHRONOUS round: each node
adopts the argmax-count label among its neighbors, ties broken by the MIN
label, and a node with no (frontier) edges keeps its label. Labels are
doc_ids and counts exact BIGINTs, so the trajectory is fully
deterministic and replays exactly in an unrolled SQL oracle
(async/randomized LPA would not be oracle-checkable). ``converged_lpa``
is the LPA twin of ``connected_components``: own-id labels, then a FIXED
``LPA_ROUNDS`` rounds (the oracles unroll exactly that many, so unlike
CC there is no data-dependent fixpoint test), then a checkpoint.

Lineage. Both loops cut their lineage with ``localCheckpoint``: without
it round N's plan nests every prior round, and that nest rides inside
every consumer's analyzed tree AND inside the InMemoryRelation child
that each action re-renders for the SQL-listener event (a consumer of
the un-checkpointed LPA labels re-planned a 4.9k-line tree per
execution). The checkpoint materializes the same deterministic rows once.

CLUSTER CAVEAT: ``localCheckpoint`` blocks live in non-replicated
executor storage — safe on local[*] (the tested config); on a real
cluster with executor loss / dynamic-allocation decommission, use
reliable ``checkpoint()`` (with a checkpoint dir) or
``persist(DISK_ONLY_2)`` so a mid-session executor loss cannot strand
every downstream consumer of a cached label frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


LPA_ROUNDS = 3


def symmetric_edges(pairs: DataFrame, a: str, b: str, *payload: str) -> DataFrame:
    """(a, b, *payload) for every (d1, d2) pair in both directions, the
    payload columns carried unchanged. No dedup: pair lists that may hold
    both orientations of one edge need a ``.distinct()`` on top."""
    return pairs.select(F.col("d1").alias(a), F.col("d2").alias(b), *payload).unionAll(
        pairs.select(F.col("d2").alias(a), F.col("d1").alias(b), *payload)
    )


def lpa_round(
    edges: DataFrame, labels: DataFrame, frontier: DataFrame | None = None
) -> DataFrame:
    """One synchronous LPA round over symmetric ``edges`` (src, dst):
    (doc_id, lbl) → (doc_id, lbl). With a ``frontier`` (doc_id), only
    frontier nodes re-evaluate their label; every other node keeps it.

    Scale shape: one equi-join of the edge list against the label table,
    one (node, label) count aggregation, one min-struct argmax per node
    (map-side partial agg, no window), one left join back to the node
    spine — edge-linear, nothing quadratic, no driver state at all."""
    if frontier is not None:
        # Restrict the EDGE SET to frontier sources BEFORE resolving
        # neighbor labels (inner joins commute, so the trajectory is
        # unchanged): the label join then sees only the delta
        # neighborhood's edges, not the whole graph — at 100 TB this is
        # the difference between a delta-proportional round and an
        # edge-proportional one. The frontier is BROADCAST as a left-semi
        # filter: it is delta-proportional by construction (the whole
        # premise of an incremental refresh is that the delta's
        # neighborhood fits comfortably beside an executor), so the
        # cached edge list is filtered map-side with NO shuffle.
        edges = edges.join(
            F.broadcast(frontier.select(F.col("doc_id").alias("src"))),
            "src",
            "leftsemi",
        )
    counted = edges.join(
        labels.select(F.col("doc_id").alias("dst"), F.col("lbl").alias("nlbl")),
        "dst",
    )
    counts = counted.groupBy(F.col("src").alias("doc_id"), F.col("nlbl").alias("lbl")).agg(
        F.count("*").cast("long").alias("cnt")
    )
    best = (
        counts.select(
            "doc_id", F.struct((-F.col("cnt")).alias("nc"), "lbl").alias("s")
        )
        .groupBy("doc_id")
        .agg(F.min("s").alias("s"))
        .select("doc_id", F.col("s.lbl").alias("blbl"))
    )
    if frontier is not None:
        # best carries at most one row per FRONTIER node — broadcast the
        # delta-proportional update side so the corpus-wide label table
        # is patched map-side instead of shuffling it every round.
        best = F.broadcast(best)
    return labels.join(best, "doc_id", "left").select(
        "doc_id", F.coalesce("blbl", "lbl").alias("lbl")
    )


def converged_lpa(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """(doc_id, lbl) after ``LPA_ROUNDS`` synchronous rounds over symmetric
    ``edges`` (src, dst), every ``nodes`` doc_id starting with its own id
    as label; checkpointed (see Lineage above)."""
    labels = nodes.select("doc_id", F.col("doc_id").alias("lbl"))
    for _ in range(LPA_ROUNDS):
        labels = lpa_round(edges, labels)
    return labels.localCheckpoint()


def connected_components(edges: DataFrame, max_iters: int = 25) -> DataFrame:
    """(node, component) for every node of the (d1, d2) pair graph
    ``edges``; component = min node id reachable — deterministic, so
    exactly oracle-checkable.

    Raises if the graph hasn't converged after ``max_iters`` rounds
    (diameter > max_iters), rather than returning a partial labeling.
    """
    # Materialize the (narrow) symmetrized edge list once: every round's
    # neighborhood join re-reads it, and without the checkpoint each round
    # would re-execute the upstream pair GENERATION (for near-dup input,
    # the whole shingle→minhash→band pipeline) diameter-many times.
    sym = symmetric_edges(edges, "src", "dst").distinct().localCheckpoint()
    labels = sym.select(F.col("src").alias("node")).distinct().withColumn(
        "comp", F.col("node")
    )
    labels = labels.localCheckpoint()
    for _ in range(max_iters):
        neigh = (
            sym.join(labels, sym["dst"] == labels["node"])
            .groupBy(F.col("src").alias("node2"))
            .agg(F.min("comp").alias("neigh_min"))
        )
        stepped = (
            labels.join(neigh, labels["node"] == neigh["node2"], "left")
            .select(
                "node",
                F.least(
                    F.col("comp"), F.coalesce(F.col("neigh_min"), F.col("comp"))
                ).alias("comp"),
                F.col("comp").alias("_old"),
            )
        )
        # Pointer jumping (path compression): follow the label pointer —
        # label(v) := label(label(v)) — WITHIN the round (a cheap chained
        # join of the narrow label frame, no extra action). The label is
        # always the id of a node in v's component, so jumps stay inside
        # the component and the fixpoint (min reachable id) is unchanged;
        # what changes is ROUND COUNT: plain hash-min needs diameter
        # rounds, and sparse percolation-regime graphs
        # (threshold_sweep_components' loosest level) have diameters in
        # the hundreds. Each jump roughly doubles the hop distance a label
        # has traveled, so the expensive part — checkpoint + convergence
        # action — runs fewer times. One jump per round: chaining k lazy
        # jumps doubles the neighbor-join subtree per jump (2^k plan
        # blow-up), and checkpointing between jumps costs more than the
        # rounds it saves on fixture-sized graphs.
        new_labels = (
            stepped.alias("x")
            .join(
                stepped.select(
                    F.col("node").alias("pnode"), F.col("comp").alias("pcomp")
                ).alias("y"),
                F.col("x.comp") == F.col("y.pnode"),
                "left",
            )
            .select(
                "node",
                F.least(
                    F.col("x.comp"), F.coalesce(F.col("pcomp"), F.col("x.comp"))
                ).alias("comp"),
                "_old",
            )
        )
        # localCheckpoint (see Lineage above); it also materializes, so the
        # convergence probe below reads the checkpoint instead of
        # re-running the round.
        new_labels = new_labels.localCheckpoint()
        changed = new_labels.where(F.col("_old") != F.col("comp")).limit(1).count()
        labels = new_labels.drop("_old")
        if changed == 0:
            return labels
    raise RuntimeError(f"connected_components: no fixpoint in {max_iters} rounds")
