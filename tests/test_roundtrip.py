"""T3: CHECK_DECOMPRESS analog — reconstruct every target from its base +
instruction stream; must be byte-identical (``/root/reference/jpeg.c:583-603``)."""

from __future__ import annotations

from pyspark.sql import functions as F

from imdedup_plus_spark import candidates as C, clustering as CL
from imdedup_plus_spark import signatures as S, spans as SP
from imdedup_plus_spark.config import REFERENCE_CONFIG as CFG


def test_cluster_mode_roundtrip(spark, fixture_corpus):
    docs = fixture_corpus.drop("base_id", "variant")
    sig = S.with_signature(S.valid_documents(docs, CFG), CFG)
    ver = C.verify_pairs(
        C.candidate_pairs(S.explode_bands(sig, CFG, "url"), CFG, "url"), sig, CFG, "url"
    )
    cl = CL.clusters_from_pairs(sig, ver, "url")
    spans = SP.extract_spans(
        SP.pair_texts_from_clusters(cl, docs, "url"), string_ids=True
    )
    rec = SP.reconstruct_targets(spans, docs, "url")
    chk = rec.join(docs.select(F.col("url").alias("id_b"), "text"), "id_b")
    n = chk.count()
    assert n > 0
    assert chk.where("reconstructed_text != text").count() == 0
