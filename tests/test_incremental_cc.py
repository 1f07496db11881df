"""Incremental cluster maintenance == full-batch clustering.

``update_clusters`` folds one epoch's (docs, verified pairs) into an
existing assignment by running CC only over the quotient graph of touched
cluster labels; these tests assert the result is bit-identical to
``clusters_from_pairs`` over the union of everything seen so far — on
seeded random graphs with arbitrary epoch splits, on targeted merge
shapes (bridges, late pairs, chain merges across epochs).
"""

from __future__ import annotations

import random

import pytest

from imdedup_plus_spark.clustering import clusters_from_pairs, update_clusters


def _docs_df(spark, ids):
    return spark.createDataFrame([(i,) for i in sorted(ids)], "doc_id long")


def _pairs_df(spark, pairs):
    if not pairs:
        return spark.createDataFrame([], "id_a long, id_b long")
    return spark.createDataFrame(
        [(a, b) for a, b in sorted(pairs)], "id_a long, id_b long"
    )


def _assign(df):
    return {r.doc_id: r.cluster_id for r in df.collect()}


def _fold_epochs(spark, epochs):
    """Apply epochs sequentially: full batch for epoch 0, update_clusters
    for the rest. Each epoch is (doc_ids, pairs)."""
    docs0, pairs0 = epochs[0]
    cur = clusters_from_pairs(
        _docs_df(spark, docs0), _pairs_df(spark, pairs0), "doc_id"
    )
    for docs_k, pairs_k in epochs[1:]:
        cur = update_clusters(
            cur, _docs_df(spark, docs_k), _pairs_df(spark, pairs_k), "doc_id"
        )
    return _assign(cur)


def _batch(spark, epochs):
    all_docs = sorted(set().union(*(d for d, _ in epochs)))
    all_pairs = sorted(set().union(*(set(p) for _, p in epochs)))
    return _assign(
        clusters_from_pairs(
            _docs_df(spark, all_docs), _pairs_df(spark, all_pairs), "doc_id"
        )
    )


def test_bridge_merges_two_old_clusters(spark):
    # epoch 0: {1,2} and {5,6} clusters + singleton 9
    # epoch 1: new doc 7 bridges them (1-7, 7-5) -> one cluster labeled 1
    epochs = [
        ({1, 2, 5, 6, 9}, {(1, 2), (5, 6)}),
        ({7}, {(1, 7), (7, 5)}),
    ]
    got = _fold_epochs(spark, epochs)
    assert got == {1: 1, 2: 1, 5: 1, 6: 1, 7: 1, 9: 9}
    assert got == _batch(spark, epochs)


def test_late_pair_between_old_docs(spark):
    # epoch 1 brings no new docs, just a pair joining two old clusters
    epochs = [
        ({1, 2, 5, 6}, {(1, 2), (5, 6)}),
        (set(), {(2, 6)}),
    ]
    got = _fold_epochs(spark, epochs)
    assert got == {1: 1, 2: 1, 5: 1, 6: 1}
    assert got == _batch(spark, epochs)


def test_unpaired_arrivals_become_singletons(spark):
    epochs = [
        ({1, 2}, {(1, 2)}),
        ({10, 11, 12}, {(10, 2)}),  # 11, 12 arrive with no pair
    ]
    got = _fold_epochs(spark, epochs)
    assert got == {1: 1, 2: 1, 10: 1, 11: 11, 12: 12}
    assert got == _batch(spark, epochs)


def test_new_doc_becomes_component_min(spark):
    # the arriving doc has the smallest id: every old label remaps to it
    epochs = [
        ({5, 6, 8}, {(5, 6)}),
        ({1}, {(1, 8), (8, 6)}),
    ]
    got = _fold_epochs(spark, epochs)
    assert got == {1: 1, 5: 1, 6: 1, 8: 1}
    assert got == _batch(spark, epochs)


def test_empty_epoch_is_identity(spark):
    epochs = [({1, 2, 3}, {(1, 2)}), (set(), set())]
    assert _fold_epochs(spark, epochs) == {1: 1, 2: 1, 3: 3}


def test_chain_built_one_edge_per_epoch(spark):
    # worst case for naive recompute: a chain grown link by link across
    # 5 epochs; each fold's quotient graph is a single edge
    epochs = [({1, 2}, {(1, 2)})] + [
        ({k + 1}, {(k, k + 1)}) for k in range(2, 7)
    ]
    got = _fold_epochs(spark, epochs)
    assert got == {i: 1 for i in range(1, 8)}
    assert got == _batch(spark, epochs)


# two seeds: each fold chain is ~30 tiny Spark actions, so wall time
# scales with the seed count, not the graph size
@pytest.mark.parametrize("seed", [0, 1])
def test_random_graph_random_epoch_split(spark, seed):
    rng = random.Random(seed)
    n = 40
    ids = list(range(1, n + 1))
    pairs = set()
    while len(pairs) < 30:
        a, b = rng.sample(ids, 2)
        pairs.add((min(a, b), max(a, b)))
    n_epochs = 3
    epoch_pairs = [set() for _ in range(n_epochs)]
    for p in sorted(pairs):
        epoch_pairs[rng.randrange(n_epochs)].add(p)
    epoch_docs = [set() for _ in range(n_epochs)]
    for i in ids:
        epoch_docs[rng.randrange(n_epochs)].add(i)
    # a doc must exist by the time a pair references it: pull pair
    # endpoints forward to the earliest epoch that uses them
    seen = set()
    for k in range(n_epochs):
        for a, b in epoch_pairs[k]:
            for e in (a, b):
                if e not in seen:
                    for j in range(k + 1, n_epochs):
                        epoch_docs[j].discard(e)
                    epoch_docs[k].add(e)
        seen |= epoch_docs[k]
    epochs = list(zip(epoch_docs, epoch_pairs))
    assert _fold_epochs(spark, epochs) == _batch(spark, epochs)
