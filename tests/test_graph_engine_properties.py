"""Driver ≡ distributed for the iterative graph engines: the driver
union-find / BFS fast paths and the distributed loops they stand in
for must return the same rows, with the thresholds forced both ways."""

from __future__ import annotations

import random
from unittest import mock

from hypothesis import Phase, given, settings
from hypothesis import strategies as st

from ontology_learning_spark.operators import canonicalize as CC
from ontology_learning_spark.operators import graph_ops as G


@st.composite
def graphs(draw, max_nodes: int = 24):
    """(src, dst) edge lists over randomly labelled nodes: a chain, a
    star around a random hub, or random edges (self-loops and
    duplicates included)."""
    n = draw(st.integers(2, max_nodes))
    names = draw(st.permutations([f"v{i:02d}" for i in range(n)]))
    kind = draw(st.sampled_from(["chain", "star", "random"]))
    if kind == "chain":
        return list(zip(names, names[1:]))
    if kind == "star":
        return [(names[0], x) for x in names[1:]]
    node = st.sampled_from(names)
    return draw(st.lists(st.tuples(node, node), min_size=1, max_size=2 * n))


# Every example runs Spark jobs for seconds, so a failure reports the
# first failing graph instead of spending minutes shrinking it.
_NO_SHRINK = [Phase.explicit, Phase.reuse, Phase.generate]


def _rows(df):
    return {tuple(r) for r in df.collect()}


@settings(max_examples=8, deadline=None, phases=_NO_SHRINK)
@given(graphs())
def test_cc_driver_equals_distributed(spark, edges):
    df = spark.createDataFrame(edges, "src string, dst string")
    assert _rows(CC.connected_components(df)) == _rows(
        CC.connected_components(df, small_threshold=0))


@settings(max_examples=6, deadline=None, phases=_NO_SHRINK)
@given(graphs(), st.floats(0.0, 1.0))
def test_incremental_driver_equals_distributed(spark, edges, split):
    k = int(len(edges) * split)
    base = spark.createDataFrame(edges[:k], "src string, dst string")
    delta = spark.createDataFrame(edges[k:], "src string, dst string")
    full = _rows(CC.connected_components(spark.createDataFrame(edges, "src string, dst string")))
    driver = CC.incremental_components(CC.connected_components(base), delta)
    distributed = CC.incremental_components(
        CC.connected_components(base, small_threshold=0), delta, small_threshold=0)
    assert _rows(driver) == full
    assert _rows(distributed) == full


def test_cc_long_random_chain_distributed(spark):
    """A 10k-node chain with random labels is one component on the
    distributed path; plain min-label propagation would need ~10k
    rounds here."""
    labels = [f"n{i:05d}" for i in range(10_000)]
    random.Random(20).shuffle(labels)
    df = spark.createDataFrame(list(zip(labels, labels[1:])), "src string, dst string")
    rows = CC.connected_components(df, small_threshold=0).collect()
    assert len(rows) == 10_000
    assert {r["component"] for r in rows} == {"n00000"}


@settings(max_examples=5, deadline=None, phases=_NO_SHRINK)
@given(graphs(max_nodes=12), st.data())
def test_bfs_driver_equals_distributed(spark, edges, data):
    df = spark.createDataFrame([(a, "SUBCLASS_OF", b) for a, b in edges],
                               "src string, rel_type string, dst string")
    nodes = sorted({x for e in edges for x in e})
    start = data.draw(st.sampled_from(nodes))
    goal = data.draw(st.sampled_from(nodes))

    def run():
        return (_rows(G.descendants(df, start)), _rows(G.ancestors(df, start)),
                G.shortest_path_length(df, start, goal))

    driver = run()
    with mock.patch.object(G, "_DRIVER_BFS_MAX_EDGES", 0):
        assert run() == driver
