"""Connected components / transitive near-dup grouping: differential
against a Python union-find oracle on real SimHash candidate pairs,
plus hand-built topologies (chains force multi-round propagation).
"""

from __future__ import annotations

import sys
from pathlib import Path

import pyspark.sql.functions as F
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from data_ingestor_gluejob_script_spark.operators.graph import (  # noqa: E402
    connected_components,
    neardup_groups,
)
from data_ingestor_gluejob_script_spark.queries._util import load  # noqa: E402
from data_ingestor_gluejob_script_spark.queries.textops import (  # noqa: E402
    q_simhash_neardup_pairs,
)

SF_DIR = "/root/testdata/sf0.001"
SF01_DIR = str(Path(SF_DIR).with_name("sf0.01"))


def _uf_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Union-find oracle: node -> min node id of its component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_components_chain_and_clusters(spark):
    """A 6-node chain (diameter 5 — forces several propagation
    rounds), a triangle, and an isolated pair."""
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6),
             (10, 11), (11, 12), (10, 12),
             (20, 21)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.node: r.component for r in connected_components(df).collect()
    }
    assert got == _uf_components(edges)
    assert {got[n] for n in (1, 2, 3, 4, 5, 6)} == {1}
    assert {got[n] for n in (10, 11, 12)} == {10}
    assert {got[n] for n in (20, 21)} == {20}


def test_components_long_chain_converges_logarithmically(spark):
    """A 64-node chain (diameter 63): pointer jumping must reach the
    fixpoint in O(log diameter) rounds — well inside max_iter=10,
    where propagation alone would need 63 rounds."""
    from data_ingestor_gluejob_script_spark.operators import graph

    edges = [(i, i + 1) for i in range(63)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.node: r.component
        for r in connected_components(
            df, max_iter=10, small_graph_edges=0
        ).collect()
    }
    assert got == {n: 0 for n in range(64)}
    assert graph.last_rounds <= 8  # log2(63) ≈ 6 + convergence round


def test_components_max_iter_guard(spark):
    df = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "src long, dst long")
    with pytest.raises(RuntimeError, match="fixpoint"):
        connected_components(df, max_iter=1, small_graph_edges=0)


def test_components_strategies_agree(spark):
    """The driver-side union-find and the distributed pointer-jumping
    paths must produce the identical labeling on the same graph (the
    size switch is a strategy choice, never a semantics choice)."""
    from data_ingestor_gluejob_script_spark.operators import graph

    edges = [(i, i + 1) for i in range(40)] + [
        (100, 101), (101, 102), (100, 102), (200, 201)
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    local = {
        r.node: r.component for r in connected_components(df).collect()
    }
    assert graph.last_rounds == 0  # small graph took the driver path
    dist = {
        r.node: r.component
        for r in connected_components(df, small_graph_edges=0).collect()
    }
    assert graph.last_rounds > 0
    assert local == dist == _uf_components(edges)


def test_components_on_simhash_pairs(spark):
    """Real candidate pairs from the SimHash near-dup query agree
    with the union-find oracle, and grouping covers every document."""
    pairs = q_simhash_neardup_pairs(spark, SF_DIR).select("doc_a", "doc_b")
    edge_list = [(r.doc_a, r.doc_b) for r in pairs.collect()]
    assert len(edge_list) > 0
    got = {
        r.node: r.component for r in connected_components(pairs).collect()
    }
    assert got == _uf_components(edge_list)

    docs = load(spark, SF_DIR, "documents")
    groups = neardup_groups(pairs, docs)
    assert groups.count() == docs.count()
    # every group's representative is its minimum member
    bad = (
        groups.groupBy("group_id")
        .agg(F.min("doc_id").alias("mn"))
        .filter(F.col("group_id") != F.col("mn"))
    )
    assert bad.count() == 0
    # transitivity made groups no finer than the pairwise relation:
    # every edge's endpoints share a group
    g = groups.select("doc_id", "group_id")
    joined = (
        pairs.join(g.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumnRenamed("group_id", "ga")
        .join(g.withColumnRenamed("doc_id", "doc_b"), "doc_b")
    )
    assert joined.filter(F.col("ga") != F.col("group_id")).count() == 0


def test_components_preserve_string_node_ids(spark):
    """The driver-side small-graph path must keep the caller's node id
    type (string ids from e.g. subscription keys, int and long keys),
    like the distributed path does."""
    for id_type, ids in [
        ("string", ["a", "b", "c", "x", "y"]),
        ("int", [1, 2, 3, 7, 8]),
        ("long", [(1 << 40) + i for i in (0, 1, 2, 7, 8)]),
    ]:
        a, b, c, x, y = ids
        df = spark.createDataFrame(
            [(a, b), (b, c), (x, y)], f"src {id_type}, dst {id_type}"
        )
        comp = connected_components(df)
        id_dtype = df.schema["src"].dataType
        assert [f.dataType for f in comp.schema] == [id_dtype] * 2
        got = {r.node: r.component for r in comp.collect()}
        assert got == {a: a, b: a, c: a, x: x, y: x}


def test_components_empty_edge_list(spark):
    """No edges (or only self-loops) → an empty frame typed like the
    node ids."""
    for edges in ([], [("a", "a")]):
        df = spark.createDataFrame(edges, "src string, dst string")
        comp = connected_components(df)
        assert comp.dtypes == [("node", "string"), ("component", "string")]
        assert comp.collect() == []


def test_components_small_path_is_a_local_relation(spark):
    """The small-graph result reaches the JVM as one Arrow batch: its
    executed plan is a LocalTableScan (exact size, broadcastable, no
    Python worker), not a pickled Python RDD."""
    df = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    comp = connected_components(df)
    comp.collect()
    plan = comp._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan


@pytest.mark.parametrize("small_graph_edges", [100, 0])
def test_components_evaluate_edge_plan_once(spark, small_graph_edges):
    """The lazy edge pin: the strategy probe is the one evaluation of
    the edge plan, on both strategies (a Python UDF in the edge plan
    counts rows into an accumulator)."""
    from data_ingestor_gluejob_script_spark.operators import graph

    acc = spark.sparkContext.accumulator(0)

    def _tick(v):
        acc.add(1)
        return v

    # nondeterministic: the optimizer must not copy the call into the
    # self-loop filter, which would evaluate it twice per row
    tick = F.udf(_tick, "long").asNondeterministic()
    edges = [(i, i + 1) for i in range(30)] + [(50, 51), (51, 52)]
    df = spark.createDataFrame(edges, "src long, dst long").repartition(4)
    comp = connected_components(
        df.select(tick("src").alias("src"), "dst"),
        small_graph_edges=small_graph_edges,
    ).collect()
    assert (graph.last_rounds == 0) == (small_graph_edges > 0)
    assert len(comp) == 31 + 3
    assert acc.value == len(edges)


def test_group_split_job_counts_and_output(spark, count_jobs):
    """x_group_split on sf0.01 keys on the component map directly. A
    warm pass launches at most 6 jobs to construct (the pair plan
    evaluated once by the components probe, no separate checkpoint
    job) and at most 2 to execute into a noop sink (the component map
    is a broadcast LocalRelation, not a pickled Python RDD). Its rows
    equal the neardup_groups formulation's."""
    from data_ingestor_gluejob_script_spark.queries.extras import extras
    from data_ingestor_gluejob_script_spark.queries.traindata import (
        group_aware_split_frame,
    )

    sf = SF01_DIR
    fn = extras()["x_group_split"]
    got = fn(spark, sf).collect()  # warm: file listings, memoized loads

    df, construct = count_jobs(lambda: fn(spark, sf))
    _, execute = count_jobs(
        lambda: df.write.format("noop").mode("overwrite").save()
    )
    assert construct <= 6
    assert execute <= 2

    docs = load(spark, sf, "documents")
    pairs = q_simhash_neardup_pairs(spark, sf).select("doc_a", "doc_b")
    want = group_aware_split_frame(docs, neardup_groups(pairs, docs))
    assert sorted(got) == sorted(want.collect())


@pytest.mark.slow
def test_components_midsize_distributed_path(spark):
    """~200k-edge graph — ABOVE the SMALL_GRAPH_EDGES driver switch,
    so this exercises the distributed pointer-jumping path that would
    actually run at 100 TB (locally it otherwise only ever sees tiny
    forced fixtures). 3,200 disjoint 64-node chains: diameter 63, so
    convergence must land in <= log2(diameter)+2 rounds, and every
    node's label is analytically its chain's minimum id."""
    from data_ingestor_gluejob_script_spark.operators import graph

    n_chains, chain_len = 3_200, 64
    edges = (
        spark.range(n_chains * (chain_len - 1))
        .select(
            (
                (F.col("id") / (chain_len - 1)).cast("long") * chain_len
                + F.col("id") % (chain_len - 1)
            ).alias("src")
        )
        .withColumn("dst", F.col("src") + 1)
    )
    assert edges.count() > graph.SMALL_GRAPH_EDGES  # really distributed
    comp = connected_components(edges).collect()
    assert graph.last_rounds > 0  # pointer jumping ran, not union-find
    assert graph.last_rounds <= 8  # ceil(log2(63)) + 2
    assert len(comp) == n_chains * chain_len
    assert all(
        r.component == (r.node // chain_len) * chain_len for r in comp
    )
