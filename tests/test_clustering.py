"""Connected components on known graph shapes, and against a pure-Python
union-find on random graphs."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from imdedup_plus_spark import clustering as CL
from imdedup_plus_spark.clustering import clusters_from_pairs, connected_components


def _run(spark, node_ids, edge_pairs, stats=None):
    nodes = spark.createDataFrame([(n,) for n in node_ids], "id long")
    edges = spark.createDataFrame(edge_pairs, "id_a long, id_b long")
    out = connected_components(nodes, edges, "id", stats=stats)
    return {r.id: r.cluster_id for r in out.collect()}


def _union_find(node_ids, edge_pairs):
    """Reference: id -> min id of its component, singletons included."""
    parent = {n: n for n in node_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in node_ids}


def test_triangle_plus_singleton(spark):
    got = _run(spark, [1, 2, 3, 9], [(1, 2), (2, 3), (1, 3)])
    assert got == {1: 1, 2: 1, 3: 1, 9: 9}


def test_long_chain_converges(spark):
    n = 12
    got = _run(spark, list(range(1, n + 1)), [(i, i + 1) for i in range(1, n)])
    assert set(got.values()) == {1}


def test_two_components(spark):
    got = _run(spark, [1, 2, 3, 10, 11], [(2, 3), (10, 11)])
    assert got == {1: 1, 2: 2, 3: 2, 10: 10, 11: 10}


def test_no_edges_all_singletons(spark):
    got = _run(spark, [5, 6, 7], [])
    assert got == {5: 5, 6: 6, 7: 7}


def test_star_bounded_rounds_on_long_chain(spark, monkeypatch):
    """A path graph of n nodes needs O(log^2 n) large-star/small-star
    rounds (label propagation would need O(n)): n=300 clusters to one id
    in <= 10 rounds. Under a cap of 2 rounds the edge set is not a star
    forest yet, so CC fails loudly instead of returning the split
    labels."""
    n = 300
    nodes = list(range(n))
    chain = [(i, i + 1) for i in range(n - 1)]

    stats: dict = {}
    got = _run(spark, nodes, chain, stats=stats)
    assert set(got.values()) == {0}
    assert 1 <= stats["rounds"] <= 10, stats

    monkeypatch.setattr(CL, "MAX_ROUNDS", 2)
    with pytest.raises(RuntimeError, match="star forest in 2 "):
        _run(spark, nodes, chain)


def test_long_chain_clusters_from_pairs_one_id(spark):
    """A 200-edge chain: ``clusters_from_pairs`` puts every doc in the
    cluster of its min id."""
    n = 201
    docs = spark.createDataFrame([(k,) for k in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    got = clusters_from_pairs(docs, pairs, "doc_id").collect()
    assert len(got) == n
    assert {r.cluster_id for r in got} == {0}


@st.composite
def _graphs(draw):
    """(n, edges over ids < n): chains, fan-outs, triangles, random pairs
    and self-loops, some edges repeated as-is and reversed; ids in no
    edge are isolated nodes."""
    n = draw(st.integers(1, 40))
    ids = st.integers(0, n - 1)
    part = st.one_of(
        st.lists(ids, min_size=2, max_size=8).map(lambda p: list(zip(p, p[1:]))),
        st.tuples(ids, st.lists(ids, max_size=6)).map(
            lambda t: [(t[0], k) for k in t[1]]
        ),
        st.tuples(ids, ids, ids).map(lambda t: [t[:2], t[1:], (t[2], t[0])]),
        st.tuples(ids, ids).map(lambda t: [t]),
        ids.map(lambda k: [(k, k)]),
    )
    edges = [e for p in draw(st.lists(part, max_size=6)) for e in p]
    if edges:
        again = draw(st.lists(st.sampled_from(edges), max_size=4))
        edges += again + [(b, a) for a, b in again]
    return n, draw(st.permutations(edges))


@settings(max_examples=10, deadline=None)
@given(graph=_graphs())
def test_cc_matches_union_find_on_random_graphs(spark, graph):
    """Both entry points give each node the min id of its component
    (singletons label themselves), as a union-find computes it."""
    n, edges = graph
    nodes = list(range(n))
    want = _union_find(nodes, edges)
    assert _run(spark, nodes, edges) == want

    docs = spark.createDataFrame([(k,) for k in nodes], "doc_id long")
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = clusters_from_pairs(docs, pairs, "doc_id").collect()
    assert len(got) == n
    assert {r.doc_id: r.cluster_id for r in got} == want


def _keeper_rows(spark, rows, **kw):
    from imdedup_plus_spark.clustering import cluster_keepers

    members = spark.createDataFrame(
        rows, "doc_id long, cluster_id long, quality_permille long"
    )
    got = cluster_keepers(members, "doc_id", **kw).collect()
    return {r.doc_id: (r.cluster_id, r.quality_permille, r.keep) for r in got}


def test_cluster_keepers_argmax_and_ties(spark):
    """Keeper = max quality, tie broken by MIN id; singleton keeps itself;
    every member emits exactly one row with a 0/1 keep flag."""
    rows = [
        # cluster 10: clear quality winner (doc 3)
        (1, 10, 100), (3, 10, 900), (5, 10, 500),
        # cluster 20: quality tie 700 — min id (2) wins
        (2, 20, 700), (8, 20, 700), (9, 20, 100),
        # singleton
        (42, 42, 0),
    ]
    got = _keeper_rows(spark, rows)
    assert len(got) == len(rows)
    assert got[3] == (10, 900, 1) and got[1][2] == 0 and got[5][2] == 0
    assert got[2] == (20, 700, 1) and got[8][2] == 0 and got[9][2] == 0
    assert got[42] == (42, 0, 1)
    # exactly one keeper per cluster
    keep_per_cluster = {}
    for cid, _q, keep in got.values():
        keep_per_cluster[cid] = keep_per_cluster.get(cid, 0) + keep
    assert set(keep_per_cluster.values()) == {1}


def test_cluster_keepers_broadcast_variant_identical(spark):
    """broadcast_keepers=True (small-cluster-count fast path) is
    row-identical to the default shuffle-hash join-back."""
    rows = [(i, i % 3, (i * 37) % 11) for i in range(60)]
    assert _keeper_rows(spark, rows) == _keeper_rows(
        spark, rows, broadcast_keepers=True
    )


def test_cluster_keepers_plan_has_no_window(spark):
    """The scale claim: the physical plan contains a partial max_by
    aggregate and NO Window operator (a mega cluster must never be
    sorted whole inside one task)."""
    from imdedup_plus_spark.clustering import cluster_keepers

    members = spark.createDataFrame(
        [(i, i % 5, i * 7 % 13) for i in range(100)],
        "doc_id long, cluster_id long, quality_permille long",
    )
    plan = (
        cluster_keepers(members, "doc_id")
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    assert "Window" not in plan, plan
    assert "max_by" in plan and "partial_max_by" in plan, plan
