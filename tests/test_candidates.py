"""Candidate generation: cap semantics, the sorted bucket-run walker against
independent references, verification kernels."""

from __future__ import annotations

from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from imdedup_plus_spark import candidates as C, signatures as S
from imdedup_plus_spark.config import REFERENCE_CONFIG as CFG


def _bands(spark, n_docs=60):
    """Corpus with deliberate hot bands: all docs share a boilerplate
    prefix so several band values repeat across many docs."""
    rows = [
        (i, "common header words here always the same " + " ".join(f"w{i}_{j}" for j in range(20)))
        for i in range(n_docs)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sig = S.with_signature(S.valid_documents(docs, CFG), CFG)
    return S.explode_bands(sig, CFG, "doc_id")


def test_walker_pairs_identical_to_direct(spark):
    bands = _bands(spark)
    direct = C.candidate_pairs_direct(bands, CFG, "doc_id")
    walked = C.candidate_pairs(bands, CFG, "doc_id")
    d = sorted(tuple(r) for r in direct.collect())
    w = sorted(tuple(r) for r in walked.collect())
    assert d == w
    assert len(d) > 0


def test_bucket_cap_drops_hot_buckets(spark):
    bands = _bands(spark, n_docs=40)
    tiny_cap = replace(CFG, bucket_cap=5)
    capped = C.candidate_pairs_direct(bands, tiny_cap, "doc_id")
    uncapped = C.candidate_pairs_direct(bands, CFG, "doc_id")
    assert capped.count() < uncapped.count()
    hot = C.hot_buckets(bands, tiny_cap, "doc_id")
    assert hot.count() > 0
    assert hot.agg(F.min("bucket_size")).collect()[0][0] > 5


def test_pair_orientation_canonical(spark):
    bands = _bands(spark, n_docs=20)
    pairs = C.candidate_pairs(bands, CFG, "doc_id").collect()
    assert all(r.id_a < r.id_b for r in pairs)


def test_walker_handles_mixed_bucket_sizes(spark):
    # small buckets and 70-member boilerplate buckets in one frame: at each
    # cap the walker pairs exactly what the plain self-join pairs
    bands = _bands(spark, n_docs=70).persist()
    for cap in (4, 16, 100):
        cfg = replace(CFG, bucket_cap=cap)
        walked = C.candidate_pairs(bands, cfg, "doc_id")
        direct = C.candidate_pairs_direct(bands, cfg, "doc_id")
        assert sorted(map(tuple, walked.collect())) == sorted(map(tuple, direct.collect()))
    bands.unpersist()


def test_verify_kernel_matches_sql(spark, fixture_corpus):
    """SQL verify on ARRAY sets == numpy kernel verify on packed BINARY
    sets == the fused walk on ARRAY sets — bit-identical verified output."""
    from imdedup_plus_spark import signatures as S, candidates as C
    from imdedup_plus_spark.config import REFERENCE_CONFIG as CFG

    sig_sql = S.with_signature(S.valid_documents(fixture_corpus, CFG), CFG).select(
        "url", "sig", "shingle_set"
    ).persist()
    sig_bin = S.signature_kernel_arrow(fixture_corpus, CFG, "url").persist()
    cand = C.candidate_pairs(S.explode_bands(sig_bin, CFG, "url"), CFG, "url").persist()
    sql_rows = sorted(
        tuple(r) for r in C.verify_pairs(cand, sig_sql, CFG, "url").collect()
    )
    ker_rows = sorted(
        tuple(r) for r in C.verify_pairs_kernel(cand, sig_bin, CFG, "url").collect()
    )
    assert sql_rows == ker_rows
    # the fused walk verifies ARRAY sets with the same arithmetic
    fused_rows = sorted(tuple(r) for r in C.verified_pairs(sig_sql, CFG, "url").collect())
    assert fused_rows == sql_rows
    cand.unpersist(); sig_sql.unpersist(); sig_bin.unpersist()


def test_hotwindow_equals_drop_only_when_no_hot_buckets(spark, fixture_corpus):
    """With a cap no bucket reaches, window pairing adds nothing — output
    must equal the drop-only pairing row-for-row."""
    import dataclasses

    from imdedup_plus_spark import signatures as S
    from imdedup_plus_spark.config import DedupConfig

    cfg = DedupConfig(bucket_cap=10**6, hot_window=8)
    docs = fixture_corpus.select("url", "text")
    bands = S.explode_bands(S.signature_kernel_arrow(docs, cfg, "url"), cfg, "url")
    hw = sorted(tuple(r) for r in C.candidate_pairs(bands, cfg, "url").collect())
    plain = sorted(
        tuple(r)
        for r in C.candidate_pairs(
            bands, dataclasses.replace(cfg, hot_window=0), "url"
        ).collect()
    )
    assert hw == plain
    assert len(plain) > 0


def test_hotwindow_recovers_groups_in_hot_buckets(spark, fixture_corpus):
    """With an artificially tiny cap most buckets go hot; drop-only loses
    planted pairs while window pairing keeps cluster recall ~1."""
    from imdedup_plus_spark import clustering as CL, fixtures as FX, signatures as S
    from imdedup_plus_spark.config import DedupConfig
    from pyspark.sql import functions as F

    exp = FX.expected_dup_pairs(fixture_corpus)
    n_exp = exp.count()
    docs = fixture_corpus.select("url", "text")

    def recall(cfg):
        sig = S.signature_kernel_arrow(docs, cfg, "url").persist()
        ver = C.verify_pairs_kernel(
            C.candidate_pairs(S.explode_bands(sig, cfg, "url"), cfg, "url"),
            sig, cfg, "url",
        )
        cl = CL.clusters_from_pairs(sig, ver, "url")
        ca = cl.select(F.col("url").alias("url_a"), F.col("cluster_id").alias("ca"))
        cb = cl.select(F.col("url").alias("url_b"), F.col("cluster_id").alias("cb"))
        hit = exp.join(ca, "url_a").join(cb, "url_b").where("ca = cb").count()
        sig.unpersist()
        return hit / n_exp

    drop_only = recall(DedupConfig(bucket_cap=4))
    windowed = recall(DedupConfig(bucket_cap=4, hot_window=4))
    assert windowed >= drop_only
    assert windowed >= 0.99, f"windowed recall {windowed} (drop-only {drop_only})"


def test_verify_kernel_kmv_matches_reference_loop(spark, fixture_corpus):
    """Flattened KMV verification == the straightforward per-pair
    intersect1d/union1d reference (the pre-flattening kernel), field for
    field. Tiny k stresses the window edge (union shorter than k, ties at
    the k-th key)."""
    import numpy as np

    from imdedup_plus_spark.config import DedupConfig

    cfg = DedupConfig(verify_sketch_k=8)
    docs = fixture_corpus.select("url", "text")
    sig = S.signature_kernel_arrow(docs, cfg, "url").persist()
    cand = C.candidate_pairs(S.explode_bands(sig, cfg, "url"), cfg, "url").persist()
    got = sorted(
        tuple(r) for r in C.verify_pairs_kernel(cand, sig, cfg, "url").collect()
    )

    sets = {
        r["url"]: (
            np.asarray(r["sig"]),
            np.frombuffer(r["shingle_set"], dtype="<i4").astype(np.int64),
        )
        for r in sig.collect()
    }
    k, pct = cfg.verify_sketch_k, cfg.verify_jaccard_pct
    exp = []
    for r in cand.collect():
        siga, a = sets[r["id_a"]]
        sigb, b = sets[r["id_b"]]
        n_eq = int(np.sum(siga == sigb))
        ab = np.intersect1d(a, b, assume_unique=True)
        u = np.union1d(a, b)[:k]
        hi = int(u[-1]) if u.size else 0
        inter = int(np.searchsorted(ab, hi, side="right"))
        un = int(u.size)
        if inter * 100 >= un * pct:
            exp.append((r["id_a"], r["id_b"], r["n_matching_bands"], n_eq, inter, un))
    cand.unpersist(); sig.unpersist()
    assert got == sorted(exp)


def test_verify_kernel_kmv_chunk_boundaries(spark, fixture_corpus):
    """The KMV path vectorizes over 1024-pair chunks of each Arrow batch
    (candidates.py verify_pairs_kernel); this drives >3k pairs through ONE
    batch so the chunk loop crosses several boundaries (including a final
    partial chunk), and checks field-for-field parity with the per-pair
    numpy reference. The oracle/LSH parity tests only produce sub-1024
    batches, which would leave the lo>0 slices untested."""
    import numpy as np

    from imdedup_plus_spark.config import DedupConfig

    cfg = DedupConfig(verify_sketch_k=16)
    docs = fixture_corpus.select("url", "text")
    sig = S.signature_kernel_arrow(docs, cfg, "url").persist()
    ids = sorted(r["url"] for r in sig.select("url").collect())
    n = len(ids)
    # ring pairing: every doc with its next 14 successors -> ~14n pairs.
    # The kernel's internal shuffle_hash joins re-partition by the session
    # shuffle-partition count, so pin it to 1 for this call: the joined
    # output is then ONE partition of all ~3.3k pairs = one Arrow batch
    # (< 10k maxRecordsPerBatch), guaranteeing the 1024-chunk loop crosses
    # several boundaries (incl. a final partial chunk). Without the pin,
    # 8 shuffle partitions x ~420 rows would each stay under one chunk
    # and the lo>0 slices would silently go untested.
    pair_rows = [
        (ids[i], ids[(i + d) % n], 1) for i in range(n) for d in range(1, 15)
    ]
    pairs = spark.createDataFrame(
        pair_rows, "id_a string, id_b string, n_matching_bands long"
    )
    assert len(pair_rows) > 3000
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try:
        got = sorted(
            tuple(r) for r in C.verify_pairs_kernel(pairs, sig, cfg, "url").collect()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    sets = {
        r["url"]: (
            np.asarray(r["sig"]),
            np.frombuffer(r["shingle_set"], dtype="<i4").astype(np.int64),
        )
        for r in sig.collect()
    }
    k, pct = cfg.verify_sketch_k, cfg.verify_jaccard_pct
    exp = []
    for id_a, id_b, nmb in pair_rows:
        siga, a = sets[id_a]
        sigb, b = sets[id_b]
        n_eq = int(np.sum(siga == sigb))
        ab = np.intersect1d(a, b, assume_unique=True)
        u = np.union1d(a, b)[:k]
        hi = int(u[-1]) if u.size else 0
        inter = int(np.searchsorted(ab, hi, side="right"))
        un = int(u.size)
        if inter * 100 >= un * pct:
            exp.append((id_a, id_b, nmb, n_eq, inter, un))
    sig.unpersist()
    assert got == sorted(exp)


def test_empty_vs_empty_verify_accepts_in_all_three_forms(spark):
    """VERDICT r03 #4 pinned: a pair whose BOTH shingle sets are empty is
    ACCEPTED by vacuity (inter=0, un=0, 0*100 >= 0*pct). Deliberate and
    unreachable in the pipeline (valid_documents >= min_tokens and a
    signature needs >= shingle_window tokens), but all three forms — SQL,
    exact kernel, KMV chunked kernel — plus the DuckDB oracle predicate
    must agree so parity holds if an upstream filter ever changes."""
    import duckdb

    n_perm = CFG.n_perm
    sig_arr = list(range(n_perm))
    pairs = spark.createDataFrame(
        [(1, 2, 1)], "id_a long, id_b long, n_matching_bands long"
    )
    sig_sql = spark.createDataFrame(
        [(1, sig_arr, []), (2, sig_arr, [])],
        "doc_id long, sig array<bigint>, shingle_set array<bigint>",
    )

    out_sql = C.verify_pairs(pairs, sig_sql, CFG, "doc_id").collect()
    out_kx = C.verify_pairs_kernel(pairs, sig_sql, CFG, "doc_id").collect()

    sig_packed = spark.createDataFrame(
        [(1, sig_arr, bytearray(b"")), (2, sig_arr, bytearray(b""))],
        "doc_id long, sig array<bigint>, shingle_set binary",
    )
    kmv_cfg = replace(CFG, verify_sketch_k=64)
    out_kmv = C.verify_pairs_kernel(pairs, sig_packed, kmv_cfg, "doc_id").collect()

    for out in (out_sql, out_kx, out_kmv):
        assert len(out) == 1, out
        r = out[0]
        assert (r.id_a, r.id_b, r.inter, r.un) == (1, 2, 0, 0)
        assert r.n_eq == n_perm

    # the oracle predicate (oracle.py verify form) on empty lists
    pct = CFG.verify_jaccard_pct
    (dk,) = duckdb.execute(
        "SELECT CAST(len(list_intersect([], [])) AS BIGINT) * 100 >= "
        f"(CAST(len([]) + len([]) AS BIGINT) - "
        f"CAST(len(list_intersect([], [])) AS BIGINT)) * {pct}"
    ).fetchone()
    assert dk is True


# ---------------------------------------------------------------------------
# The sorted bucket-run walker (candidate_pairs / verified_pairs)
# ---------------------------------------------------------------------------

def _walker_cfgs():
    from imdedup_plus_spark.config import SCALE_CONFIG, DedupConfig

    return [
        CFG,
        SCALE_CONFIG,
        DedupConfig(bucket_cap=4, hot_window=4),
        # warm buckets with hot_window=0: dropped, never windowed
        DedupConfig(bucket_cap=4),
    ]


def _oracle_cand_pairs(docs_pdf, cfg):
    """DuckDB replay of the pair rules (``oracle._cand_pairs_ctes``)."""
    import duckdb

    from imdedup_plus_spark import oracle

    con = duckdb.connect()
    con.register("documents", docs_pdf)
    sql = oracle.stage_query(
        cfg, "SELECT id_a, id_b, n_matching_bands FROM cand_pairs", id_col="url"
    )
    return sorted(con.execute(sql).fetchall())


@pytest.mark.parametrize("batch_rows", [None, 7], ids=["default_batches", "batch7"])
def test_walker_matches_independent_references(spark, fixture_corpus, batch_rows):
    """``candidate_pairs`` equals the plain self-join (hot_window == 0) or
    the DuckDB replay (hot_window > 0), and ``verified_pairs`` equals
    ``verify_pairs_kernel(candidate_pairs(...))`` row for row. With 7-row
    Arrow batches nearly every bucket run straddles a batch boundary."""
    docs = fixture_corpus.select("url", "text")
    docs_pdf = docs.toPandas()
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    if batch_rows:
        spark.conf.set(key, str(batch_rows))
    try:
        for cfg in _walker_cfgs():
            sig = S.signature_kernel_arrow(docs, cfg, "url").persist()
            bands = S.explode_bands(sig, cfg, "url")
            cand = C.candidate_pairs(bands, cfg, "url").persist()
            got = sorted(tuple(r) for r in cand.collect())
            if cfg.hot_window == 0:
                ref = sorted(
                    tuple(r) for r in C.candidate_pairs_direct(bands, cfg, "url").collect()
                )
            else:
                ref = _oracle_cand_pairs(docs_pdf, cfg)
            assert got == ref, cfg
            assert len(got) > 0
            fused = sorted(tuple(r) for r in C.verified_pairs(sig, cfg, "url").collect())
            chain = sorted(
                tuple(r) for r in C.verify_pairs_kernel(cand, sig, cfg, "url").collect()
            )
            assert fused == chain, cfg
            assert len(fused) > 0
            cand.unpersist()
            sig.unpersist()
    finally:
        spark.conf.set(key, prev)


def _run_bands(spark, runs):
    """Band rows for ``{band_hash: n_members}`` in band 0, long ids, equal
    set sizes; returns (frame, {band_hash: ids})."""
    rows, members, nxt = [], {}, 0
    for h, n in runs.items():
        members[h] = list(range(nxt, nxt + n))
        rows += [(i, 0, h, 10) for i in members[h]]
        nxt += n
    df = spark.createDataFrame(rows, "doc_id long, band_id int, band_hash long, n_set int")
    return df, members


def test_walker_drops_a_mega_run_longer_than_one_batch(spark):
    """A run longer than mega_cap and than one Arrow batch is dropped while
    streaming; the quiet and warm runs around it in the same partition
    still pair by their rules."""
    from imdedup_plus_spark.config import DedupConfig

    bands, m = _run_bands(spark, {5: 3, 9: 30, 13: 6, 17: 1})
    cfg = DedupConfig(bucket_cap=4, mega_cap=10, hot_window=2)
    confs = {
        "spark.sql.execution.arrow.maxRecordsPerBatch": "7",
        "spark.sql.shuffle.partitions": "1",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        windowed = sorted(tuple(r) for r in C.candidate_pairs(bands, cfg, "doc_id").collect())
        dropped = sorted(
            tuple(r)
            for r in C.candidate_pairs(bands, replace(cfg, hot_window=0), "doc_id").collect()
        )
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    quiet = [(a, b, 1) for i, a in enumerate(m[5]) for b in m[5][i + 1:]]
    warm = [(a, b, 1) for i, a in enumerate(m[13]) for b in m[13][i + 1:i + 3]]
    assert windowed == sorted(quiet + warm)
    assert dropped == quiet


def test_walker_string_ids_orient_by_code_point(spark):
    """Members sort by (n_set, id) inside a run, so the pair orientation is
    decided per pair; string ids compare like Spark's UTF-8 byte order."""
    from imdedup_plus_spark.config import DedupConfig

    ids = ["b", "a", "Z", "é", "aa"]
    rows = [(d, 0, 1, 10 + i) for i, d in enumerate(ids)]
    bands = spark.createDataFrame(rows, "url string, band_id int, band_hash long, n_set int")
    cfg = DedupConfig(verify_jaccard_pct=0)
    got = sorted(tuple(r) for r in C.candidate_pairs(bands, cfg, "url").collect())
    want = sorted(
        (min(x, y), max(x, y), 1) for i, x in enumerate(ids) for y in ids[i + 1:]
    )
    assert got == want
    spark_order = sorted(
        (r.id_a, r.id_b)
        for r in bands.alias("a").join(bands.alias("b"), "band_hash")
        .where("a.url < b.url").select(F.col("a.url").alias("id_a"), F.col("b.url").alias("id_b"))
        .collect()
    )
    assert spark_order == [(a, b) for a, b, _ in want]


def test_walker_empty_and_singleton_inputs(spark):
    """No rows, and a partition of singleton buckets, emit nothing."""
    from imdedup_plus_spark.config import SCALE_CONFIG

    schema = "doc_id long, band_id int, band_hash long, n_set int"
    empty = spark.createDataFrame([], schema)
    assert C.candidate_pairs(empty, SCALE_CONFIG, "doc_id").collect() == []
    singles = spark.createDataFrame([(i, 0, i, 10) for i in range(50)], schema)
    assert C.candidate_pairs(singles, SCALE_CONFIG, "doc_id").collect() == []
    sig_schema = "doc_id long, sig array<bigint>, shingle_set binary, n_set_true int"
    no_sig = spark.createDataFrame([], sig_schema)
    assert C.verified_pairs(no_sig, SCALE_CONFIG, "doc_id").collect() == []


def test_verified_pairs_stage_job_count(spark, fixture_corpus, tmp_path):
    """The pipeline's verified_pairs stage (bands -> walker -> groupBy ->
    parquet commit) runs at most 5 Spark jobs."""
    from imdedup_plus_spark.config import SCALE_CONFIG
    from imdedup_plus_spark.pipeline import CheckpointedPipeline

    sc = spark.sparkContext
    pipe = CheckpointedPipeline(
        spark, str(tmp_path / "w"), replace(SCALE_CONFIG, exact_prepass=True), id_col="url"
    )
    commit = pipe._commit

    def grouped(stage, *args, **kw):
        if stage == "verified_pairs":
            sc.setJobGroup("verified_pairs_stage", "verified_pairs")
        try:
            return commit(stage, *args, **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    pipe._commit = grouped
    pipe.run(fixture_corpus.select("url", "text"))
    jobs = sc.statusTracker().getJobIdsForGroup("verified_pairs_stage")
    assert 0 < len(jobs) <= 5, jobs
