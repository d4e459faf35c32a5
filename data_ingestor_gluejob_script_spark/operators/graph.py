"""Distributed connected components — the transitive-closure step
that turns PAIRWISE near-duplicate candidates (MinHash/SimHash/
embedding pairs) into true dedup GROUPS: if A~B and B~C, all three
are one cluster even though (A,C) was never emitted as a pair.

Algorithm: iterative minimum-label propagation (the standard
large-graph approach — e.g. GraphX/GraphFrames' connectedComponents;
"hash-to-min" in Rastogi et al., ICDE'13) plus a POINTER-JUMPING step
each round (label <- label(label), the shortcutting half of
large-star/small-star contraction, Kiveris et al. SoCC'14). Each node
starts labeled with itself; every round each node takes the min of
its own and its neighbors' labels, then follows its label one hop
("my label's label") — so label paths halve each round and the
fixpoint arrives in O(log diameter) rounds instead of O(diameter).
Round counts measured on fixtures (test_graph.py): 64-node chain = 7
rounds (vs 63 propagation-only), triangle+chain mix = 4, the sf0.001
SimHash pair graph (7k edges) = 3.

Scale shape: one job evaluates the edge plan (the strategy probe,
which also fills the lazy edge pin). A graph of at most
SMALL_GRAPH_EDGES edges is then solved on the driver and returned as
an Arrow-built ``LocalRelation`` — no further job, and the planner
sees its exact size. Larger graphs pay, per round, two keyed shuffles
(edge⋈label join + groupBy min, then the label⋈label shortcut join).
Labels are (node, long) pairs — the payload never travels.
``localCheckpoint`` truncates the plan each round: without it the
lineage doubles per iteration and the job eventually dies in the
optimizer, the classic iterative-DataFrame trap. Convergence is
detected by counting changed labels (one scalar action per round).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_frame, pin

# Rounds used by the most recent connected_components call — exposed
# for tests/benchmarks that pin the O(log diameter) convergence rate.
last_rounds: int = 0


# Edge count at or below which the graph is solved on the driver
# instead of iterating distributed rounds. The size-based strategy
# switch is the same move as Spark's broadcast-join threshold: a
# ≤100k-edge symmetrized graph is ~a few MB of (long, long) pairs —
# metadata-sized — while every distributed round costs two keyed shuffles
# plus an action barrier (~1 s of fixed overhead on a warm local
# cluster, regardless of data size). Near-dup pair graphs are SPARSE
# (bounded candidate generation upstream), so at 100 TB corpus scale
# the edge list is still orders of magnitude smaller than the corpus;
# graphs that really exceed the threshold get the O(log diameter)
# pointer-jumping rounds.
SMALL_GRAPH_EDGES = 100_000


def connected_components(
    edges: DataFrame,
    max_iter: int = 20,
    small_graph_edges: int = SMALL_GRAPH_EDGES,
) -> DataFrame:
    """Compute components of the undirected graph given by ``edges``
    (two columns: src, dst — any orientation, duplicates fine).
    Returns (node, component) where component is the smallest node id
    in the node's component.

    Strategy is size-based (see SMALL_GRAPH_EDGES): small graphs are
    union-found on the driver, large ones run pointer-jumping label
    propagation (``last_rounds`` reads 0 on the driver path). Both
    produce the identical labeling (differential-asserted in tests
    over the same fixtures).

    r16 optimization (guide §2.4 "remove shuffles outright", §1.2
    "the distributed algorithm first"): the edge plan — typically an
    EXPENSIVE candidate join (SimHash bands, the SemDeDup cell
    self-join) — is evaluated ONCE, behind one localCheckpoint. A
    cut that symmetrized FIRST (``edges.union(edges.swapped)``)
    evaluated the pair plan twice (once per union arm), then paid a
    distinct shuffle and a second pass even when the driver path was
    about to collect a few thousand rows anyway. Small graphs collect
    the raw directed edges straight into union-find (orientation and
    duplicates are irrelevant to union-find, so symmetrize/distinct
    buy nothing there); only the distributed path builds the
    symmetrized distinct edge list, from the checkpointed frame. The
    size threshold counts DIRECTED input edges (post self-loop
    filter) rather than symmetrized distinct rows — same order, and
    the driver collect stays bounded by the threshold either way.
    Measured (x_neardup_groups, sf0.1, warm): 5.9 → 3.3 s; the pair
    plan's stages ran once instead of twice.

    The pin is lazy (``pin(..., eager=False)``): the strategy probe,
    ``limit(threshold+1).collect()``, is the one job that evaluates
    and caches the edges, and the distributed path reads that cache.
    The small-graph result goes back through ``session.local_frame``
    as one Arrow batch: a ``LocalRelation`` that the planner can
    broadcast and that is read with no Python worker. Measured
    (x_group_split, sf0.01, warm, 4-core host): construct jobs 7 → 6,
    execute jobs 5 → 2, CPU per pass 1.89 → 1.03 s.

    Raises if the distributed propagation hasn't converged after
    ``max_iter`` rounds (log2(diameter) > max_iter — not a
    near-dup-cluster shape)."""
    global last_rounds
    src, dst = edges.columns[0], edges.columns[1]
    # ONE evaluation of the (expensive) edge plan, pinned for every
    # consumer below; lazily, so the probe is the job that fills it
    eb = pin(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
            F.col("a") != F.col("b")
        ),
        eager=False,
    )
    # ONE probe action decides the strategy AND (for small graphs)
    # delivers every edge: limit(threshold+1) returns all rows iff the
    # graph is small — replacing the separate count() + collect() pair
    # (r16: one fewer action barrier per call; this operator runs
    # inside eagerly-constructed pipelines where each action costs a
    # full scheduling round-trip).
    probe = eb.limit(small_graph_edges + 1).collect()
    if len(probe) <= small_graph_edges:
        last_rounds = 0
        parent: dict = {}

        def find(x):
            parent.setdefault(x, x)
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for r in probe:
            ra, rb = find(r.a), find(r.b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        rows = [(n, find(n)) for n in parent]
        # preserve the caller's node id type (string doc ids etc.) —
        # the distributed path below does so implicitly
        node_type = edges.schema[src].dataType
        schema = T.StructType(
            [
                T.StructField("node", node_type),
                T.StructField("component", node_type),
            ]
        )
        return local_frame(edges.sparkSession, rows, schema)
    # distributed path: symmetrize once (from the CHECKPOINTED edges —
    # cheap), so propagation only needs one direction
    sym = pin(
        eb.union(eb.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
    )
    labels = pin(
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    for rnd in range(1, max_iter + 1):
        last_rounds = rnd
        neighbor_min = (
            sym.join(labels, sym["b"] == labels["node"])
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("component").alias("nbr_min"))
        )
        stepped = (
            labels.select("node", F.col("component").alias("_old"))
            .join(neighbor_min, "node", "left")
            .select(
                "node",
                "_old",
                F.least(
                    F.col("_old"),
                    F.coalesce(F.col("nbr_min"), F.col("_old")),
                ).alias("_c1"),
            )
        )
        # Pointer jumping: follow the new label one more hop (label's
        # label). Labels are min-monotone (label(x) <= x), so the
        # looked-up value can only improve; every label IS a node id,
        # so the left join misses nothing (coalesce is belt-and-
        # braces for the first round's not-yet-checkpointed lineage).
        parent = stepped.select(
            F.col("node").alias("_pnode"), F.col("_c1").alias("_pc")
        )
        new_labels = (
            stepped.join(parent, stepped["_c1"] == parent["_pnode"], "left")
            .select(
                "node",
                F.coalesce(F.col("_pc"), F.col("_c1")).alias("component"),
                (
                    F.coalesce(F.col("_pc"), F.col("_c1")) < F.col("_old")
                ).alias("_changed"),
            )
        )
        new_labels = pin(new_labels)
        changed = new_labels.filter(F.col("_changed")).count()
        labels = new_labels.drop("_changed")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components: no fixpoint after {max_iter} rounds"
    )


def neardup_groups(pairs: DataFrame, docs: DataFrame) -> DataFrame:
    """Transitive near-dup grouping: pairwise candidates → components
    → every document labeled with its group representative (itself if
    it has no near-dup). Returns (doc_id, group_id, is_representative)
    — filter ``is_representative`` to keep one doc per group, the
    transitive completion of the pairwise keep-lowest rule."""
    comp = connected_components(pairs)
    return (
        docs.select("doc_id")
        .join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("group_id"),
        )
        .withColumn("is_representative", F.col("doc_id") == F.col("group_id"))
    )
