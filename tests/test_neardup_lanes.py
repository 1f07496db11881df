"""Semantic checks for the auxiliary near-dup lanes (SimHash banding,
IVF embedding search) beyond the bit-exact oracle parity tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from imdedup_plus_spark import ann
from imdedup_plus_spark import textfns as T


def test_simhash_pairs_finds_exact_dups(spark, fixture_corpus):
    """Identical texts have identical shingle-simhash -> hamming 0 pair."""
    docs = fixture_corpus.select(F.col("url").alias("doc_id"), "text")
    # exact-dup groups of size >= 2 in the fixture
    grp = (
        docs.groupBy("text")
        .agg(F.min("doc_id").alias("a"), F.max("doc_id").alias("b"))
        .where(F.col("a") != F.col("b"))
        .select("a", "b")
    )
    expected = {(r.a, r.b) for r in grp.collect()}
    if not expected:
        return  # fixture has no exact dups at this size — nothing to assert
    pairs = T.simhash_pairs(docs, "doc_id")
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in pairs.where(F.col("hamming") == 0).collect()
    }
    for a, b in expected:
        assert (min(a, b), max(a, b)) in got


def test_simhash_pairs_banding_is_exact(spark, fixture_corpus):
    """The banded join returns exactly the hamming<=3 pairs a brute-force
    simhash cross-join finds (pigeonhole: 4 bands cover d<=3)."""
    docs = fixture_corpus.select(F.col("url").alias("doc_id"), "text").limit(120)
    sh = T.simhash_sh(docs, "doc_id")
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("sa"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sb"))
    brute = (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.expr("CAST(bit_count(sa ^ sb) AS INT)").alias("hamming"))
        .where(F.col("hamming") <= T.SIMHASH_MAX_HAMMING)
    )
    banded = T.simhash_pairs(docs, "doc_id")
    bset = {tuple(r) for r in brute.collect()}
    gset = {tuple(r) for r in banded.collect()}
    assert bset == gset


def test_kernel_twins_match_sql_forms(spark, fixture_corpus):
    """The numpy SimHash pair kernel produces bit-identical rows to the
    SQL form."""
    docs = fixture_corpus.select(F.col("url").alias("doc_id"), "text").limit(150)
    c = sorted(tuple(r) for r in T.simhash_pairs(docs, "doc_id").collect())
    d = sorted(tuple(r) for r in T.simhash_pairs_kernel(docs, "doc_id").collect())
    assert c == d


def test_ivf_ann_structure_and_recall(spark):
    """IVF lane: exact cosines on probed candidates, full result shape,
    and a recall floor vs brute force (the testdata embeddings are
    deliberately unstructured random vectors, so an 8-cell coarse
    quantizer at nprobe=2 measures 0.45 top-1 recall — the floor asserts
    the lane stays wired, not approximation quality on noise)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    ivf = ann.ivf_ann_topk(emb, k=3).collect()
    per_vec = {}
    for r in ivf:
        per_vec.setdefault(r.vec_id, []).append((r.rank, r.neighbor_id, r.cosine))
    n = emb.count()
    assert len(per_vec) == n
    for rows in per_vec.values():
        rows.sort()
        assert [r[0] for r in rows] == list(range(1, len(rows) + 1))
        cosines = [r[2] for r in rows]
        assert cosines == sorted(cosines, reverse=True)
    # every reported cosine must equal the exact brute-force cosine
    exact = {
        (r.vec_id, r.neighbor_id): r.cosine
        for r in ann.cosine_topk(emb, k=n).collect()
    }
    for r in ivf:
        assert exact[(r.vec_id, r.neighbor_id)] == r.cosine
    bf1 = {r.vec_id: r.neighbor_id for r in ann.cosine_topk(emb, k=1).collect()}
    iv1 = {r.vec_id: r.neighbor_id for r in ann.ivf_ann_topk(emb, k=1).collect()}
    recall = sum(1 for v, nb in bf1.items() if iv1.get(v) == nb) / len(bf1)
    assert recall >= 0.4
    # inverted lists partition the corpus
    cells = ann.ivf_cells(emb).collect()
    assert sum(r.cell_size for r in cells) == n


def test_ivf_trained_codebook_recall_on_planted_clusters(spark):
    """k-means-trained quantizer must deliver recall@k >= 0.9 at nprobe=2
    on an embedding corpus with real cluster structure (the case the
    untrained first-n-ids codebook would fail)."""
    import numpy as np

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(8, 64))
    rows = []
    vid = 0
    for c in range(8):
        for _ in range(40):
            v = centers[c] + 0.15 * rng.normal(size=64)
            rows.append((vid, [float(x) for x in v.astype(np.float32)]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    exact = {}
    for r in ann.cosine_topk(emb, k=3).collect():
        exact.setdefault(r.vec_id, set()).add(r.neighbor_id)
    approx = {}
    for r in ann.ivf_ann_topk(emb, k=3, nprobe=2).collect():
        approx.setdefault(r.vec_id, set()).add(r.neighbor_id)

    hits = sum(len(exact[v] & approx.get(v, set())) for v in exact)
    total = sum(len(s) for s in exact.values())
    assert hits / total >= 0.9, f"IVF recall@3 {hits}/{total}"

