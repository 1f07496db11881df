"""Exact-prepass and short-doc fallback: scale-path modes must not change
the clustering semantics."""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import functions as F

from imdedup_plus_spark import candidates as C, signatures as S
from imdedup_plus_spark.config import REFERENCE_CONFIG as CFG
from imdedup_plus_spark.pipeline import CheckpointedPipeline


def _clusters(res):
    return sorted((r.url, r.cluster_id) for r in res["clusters"].collect())


def test_exact_prepass_same_clusters(spark, fixture_corpus, tmp_path):
    """FIX_OPTI analog: collapsing exact dups before LSH must yield the
    identical final cluster assignment (representative = min id makes the
    expansion order-free)."""
    docs = fixture_corpus.drop("base_id", "variant")
    base = CheckpointedPipeline(spark, str(tmp_path / "a"), CFG, id_col="url").run(docs)
    pre_cfg = replace(CFG, exact_prepass=True)
    pre = CheckpointedPipeline(spark, str(tmp_path / "b"), pre_cfg, id_col="url").run(docs)
    assert _clusters(base) == _clusters(pre)


def test_exact_prepass_shrinks_lsh_input(spark, fixture_corpus, tmp_path):
    docs = fixture_corpus.drop("base_id", "variant")
    pre_cfg = replace(CFG, exact_prepass=True)
    p = CheckpointedPipeline(spark, str(tmp_path / "c"), pre_cfg, id_col="url")
    res = p.run(docs)
    n_docs = docs.count()
    n_sigs = res["signatures"].count()
    # ~20% of base pages have an exact duplicate -> strictly fewer signatures
    assert n_sigs < n_docs


def test_short_doc_simhash_fallback(spark):
    from dataclasses import replace as rep

    cfg = rep(CFG, short_doc_tokens=6)
    rows = [
        (1, "tiny dup text here"),
        (2, "tiny dup text here"),
        (3, "other short words x"),
        (4, " ".join(f"w{i}" for i in range(50))),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    valid = S.valid_documents(docs, cfg)
    pairs = C.short_doc_pairs(valid, cfg, "doc_id")
    got = sorted((r.id_a, r.id_b) for r in pairs.collect())
    assert (1, 2) in got
    assert all(4 not in p for p in got)


def test_short_doc_pairs_hot_bucket_bounded_and_connected(spark):
    """A planted hot SimHash bucket (one popular short page) must produce
    O(s * window) chained pairs, not the s^2 self-join explosion — and the
    chain must keep the bucket connected for connected-components."""
    from dataclasses import replace as rep

    cfg = rep(CFG, short_doc_tokens=6, bucket_cap=8, hot_window=2)
    s = 40  # > bucket_cap -> hot tier
    rows = [(i, "tiny dup text here") for i in range(s)]
    rows += [(100, "other short words x"), (101, "other short words x")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    valid = S.valid_documents(docs, cfg)
    pairs = C.short_doc_pairs(valid, cfg, "doc_id")
    got = sorted((r.id_a, r.id_b) for r in pairs.collect())

    hot = [p for p in got if p[0] < s and p[1] < s]
    # window=2 chain: (s-1) + (s-2) pairs, far below s*(s-1)/2 = 780
    assert len(hot) == (s - 1) + (s - 2)
    # chain connectivity: union-find over hot pairs joins all s members
    parent = list(range(s))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in hot:
        parent[find(a)] = find(b)
    assert len({find(i) for i in range(s)}) == 1
    # quiet tier still pairs fully
    assert (100, 101) in got


def test_short_doc_pairs_quiet_bucket_above_split_threshold(spark):
    """A quiet SimHash bucket larger than the salting threshold (so g=2)
    still pairs fully: 70 identical short docs -> all 70*69/2 pairs."""
    from dataclasses import replace as rep

    cfg = rep(CFG, short_doc_tokens=6, bucket_cap=100)
    s = 70
    assert s > C.PAIR_SPLIT_THRESHOLD
    rows = [(i, "tiny dup text here") for i in range(s)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = C.short_doc_pairs(S.valid_documents(docs, cfg), cfg, "doc_id")
    got = sorted((r.id_a, r.id_b, r.n_matching_bands) for r in pairs.collect())
    assert got == [(a, b, 0) for a in range(s) for b in range(a + 1, s)]
    assert len(got) == 2415


def test_candidate_pairs_hot_window_without_n_set_raises(spark):
    import pytest
    from dataclasses import replace as rep

    bands = spark.createDataFrame(
        [(1, 0, 42), (2, 0, 42)], "doc_id long, band_id int, band_hash long"
    )
    with pytest.raises(ValueError, match="n_set"):
        C.candidate_pairs(bands, rep(CFG, hot_window=4), "doc_id")
