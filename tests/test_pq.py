"""Product quantization: encode parity, packing roundtrip, ADC
recomputation, exact-cluster convergence, training determinism.

pq.py is the compressed-domain ANN lane (Jegou et al. 2011): per-
subspace deterministic k-means, one-BIGINT codes, integer-micro ADC.
The DuckDB side (pq_ann_topk_sql replaying the training and encode as
unrolled CTEs) is exercised by scripts/driver_check.py / the driver's
CORRECTNESS gate via emb_pq_ann_topk.
"""

from __future__ import annotations

import numpy as np
import pytest

from imdedup_plus_spark import pq as PQ


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(
        "/root/testdata/sf0.01/embeddings.parquet"
    ).cache()


@pytest.fixture(scope="module")
def cents(emb):
    return PQ.train_pq_codebooks(emb)


def test_training_shape_and_determinism(emb, cents):
    assert len(cents) == PQ.PQ_M * PQ.PQ_KS
    assert all(len(v) == PQ.PQ_SUB for _, _, v in cents)
    again = PQ.train_pq_codebooks(emb)
    assert cents == again


def test_encode_kernel_parity(emb, cents):
    """Codes fit the packed 32-bit payload; errors are non-negative."""
    a = PQ.pq_encode(emb, cents=cents).toPandas()
    assert (a.pq_code >= 0).all() and (a.pq_code < 2**32).all()
    assert (a.quant_err_micro >= 0).all()


def test_codes_match_independent_argmin(emb, cents):
    """Unpack every code and re-derive it with an independent numpy
    argmin over the collected codebook."""
    cb = np.zeros((PQ.PQ_M, PQ.PQ_KS, PQ.PQ_SUB))
    for m, c, v in cents:
        cb[m, c] = v
    rows = PQ.pq_encode(emb, cents=cents).collect()
    vecs = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in emb.collect()
    }
    for r in rows[:50]:
        X = vecs[r["vec_id"]].reshape(PQ.PQ_M, 1, PQ.PQ_SUB)
        d = np.round(((X - cb) ** 2).sum(axis=2), 6)
        codes = d.argmin(axis=1)
        packed = int((codes.astype(np.int64) << (4 * np.arange(PQ.PQ_M))).sum())
        assert packed == r["pq_code"]
        err = int(
            np.round(np.take_along_axis(d, codes[:, None], 1)[:, 0] * 1e6)
            .astype(np.int64)
            .sum()
        )
        assert err == r["quant_err_micro"]


def test_adc_matches_independent_recompute(emb, cents):
    cb = np.zeros((PQ.PQ_M, PQ.PQ_KS, PQ.PQ_SUB))
    for m, c, v in cents:
        cb[m, c] = v
    codes = {
        r["vec_id"]: r["pq_code"]
        for r in PQ.pq_encode(emb, cents=cents).collect()
    }
    vecs = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in emb.collect()
    }
    out = PQ.pq_ann_topk(emb, cents=cents).collect()
    assert len(out) > 0
    for r in out[:80]:
        q = vecs[r["vec_id"]].reshape(PQ.PQ_M, PQ.PQ_SUB)
        code = codes[r["neighbor_id"]]
        cs = [(code >> (4 * m)) & 15 for m in range(PQ.PQ_M)]
        adc = sum(
            int(np.round(np.round(((q[m] - cb[m, cs[m]]) ** 2).sum(), 6) * 1e6))
            for m in range(PQ.PQ_M)
        )
        assert adc == r["adc_micro"]
    # ranks dense per query, k-bounded
    import collections

    per = collections.Counter(r["vec_id"] for r in out)
    for r in out:
        assert 1 <= r["rank"] <= 3
    for vid, n in per.items():
        assert sorted(x["rank"] for x in out if x["vec_id"] == vid) == list(
            range(1, n + 1)
        )


def test_exact_cluster_corpus_quantizes_to_zero_error(spark):
    """16 distinct constant subvector patterns per subspace: Lloyd must
    place a centroid on every pattern and the reconstruction error of
    every vector must be exactly zero."""
    rows = []
    for i in range(64):
        pat = (i % 16) / 10.0
        rows.append((i, [float(pat)] * PQ.DIM))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = PQ.train_pq_codebooks(df)
    enc = PQ.pq_encode(df, cents=cents).toPandas()
    assert (enc.quant_err_micro == 0).all()
    # identical vectors get identical codes
    codes = PQ.pq_encode(df, cents=cents).collect()
    by_pat = {}
    for r in codes:
        by_pat.setdefault(r["vec_id"] % 16, set()).add(r["pq_code"])
    assert all(len(s) == 1 for s in by_pat.values())
