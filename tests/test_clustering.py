"""Connected components on known graph shapes."""

from __future__ import annotations

from imdedup_plus_spark.clustering import connected_components


def _run(spark, node_ids, edge_pairs):
    nodes = spark.createDataFrame([(n,) for n in node_ids], "id long")
    edges = spark.createDataFrame(
        [(a, b) for a, b in edge_pairs] or [(None, None)], "id_a long, id_b long"
    )
    if not edge_pairs:
        edges = edges.where("id_a IS NOT NULL")
    out = connected_components(nodes, edges, "id")
    return {r.id: r.cluster_id for r in out.collect()}


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


# --- large-star/small-star (adversarial-graph escape hatch) ------------


def _run_star(spark, node_ids, edge_pairs, max_iter=50, stats=None):
    from imdedup_plus_spark.clustering import connected_components_star

    nodes = spark.createDataFrame([(n,) for n in node_ids], "id long")
    edges = spark.createDataFrame(edge_pairs, "id_a long, id_b long")
    out = connected_components_star(nodes, edges, "id", max_iter=max_iter, stats=stats)
    return {r.id: r.cluster_id for r in out.collect()}


def test_star_matches_minlabel_on_mixed_graph(spark):
    """Same components as min-label on a mix of shapes: triangle, chain,
    star fan-out, isolated node."""
    nodes = list(range(20))
    edges = (
        [(0, 1), (1, 2), (0, 2)]          # triangle
        + [(3, 4), (4, 5), (5, 6)]        # chain
        + [(10, k) for k in range(11, 16)]  # fan-out
    )
    assert _run_star(spark, nodes, edges) == _run(spark, nodes, edges)


def test_star_bounded_rounds_on_long_chain(spark):
    """The case min-label cannot handle: a path graph of n nodes needs
    O(n) min-label iterations (labels move one hop per round) but
    O(log^2 n) large-star/small-star rounds. n=300: min-label capped at
    8 iterations cannot merge the chain and raises instead of returning
    the split labels; star converges, correctly, in <= 10 rounds."""
    import pytest

    from imdedup_plus_spark.clustering import connected_components

    n = 300
    nodes = list(range(n))
    chain = [(i, i + 1) for i in range(n - 1)]

    # min-label, capped: has not converged, so it must fail loudly
    ndf = spark.createDataFrame([(k,) for k in nodes], "id long")
    edf = spark.createDataFrame(chain, "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge in 8 rounds"):
        connected_components(ndf, edf, "id", max_iter=8)

    stats: dict = {}
    got = _run_star(spark, nodes, chain, max_iter=50, stats=stats)
    assert set(got.values()) == {0}
    assert stats["rounds"] <= 10, stats


def test_unconverged_minlabel_raises_and_star_clusters(spark):
    """A 200-edge chain needs ~200 min-label rounds: under the default cap
    (25) ``clusters_from_pairs`` raises and names the star algorithm,
    which clusters the whole chain to one id."""
    import pytest

    from imdedup_plus_spark.clustering import clusters_from_pairs

    n = 201
    docs = spark.createDataFrame([(k,) for k in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match='cc_algorithm="star"'):
        clusters_from_pairs(docs, pairs, "doc_id")
    got = clusters_from_pairs(docs, pairs, "doc_id", algorithm="star").collect()
    assert len(got) == n
    assert {r.cluster_id for r in got} == {0}


def test_clusters_from_pairs_star_flag(spark):
    """clusters_from_pairs(algorithm='star') produces the identical
    (doc, cluster_id) assignment as the default path, singletons
    included."""
    from imdedup_plus_spark.clustering import clusters_from_pairs

    docs = spark.createDataFrame([(k,) for k in range(12)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 4), (4, 7), (2, 9)], "id_a long, id_b long"
    )
    a = {r.doc_id: r.cluster_id
         for r in clusters_from_pairs(docs, pairs, "doc_id").collect()}
    b = {r.doc_id: r.cluster_id
         for r in clusters_from_pairs(docs, pairs, "doc_id", algorithm="star").collect()}
    assert a == b
    assert a[7] == 1 and a[9] == 2 and a[0] == 0


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
