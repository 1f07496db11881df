"""Dump formatted physical plans of the hot operators to PLANS.md —
the evidence trail that the engine produces the plans we claim
(scan pruning, single-shuffle stages, broadcast where expected)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from imdedup_plus_spark import ann, bytedelta as BD, candidates as C
from imdedup_plus_spark import metrics as M
from imdedup_plus_spark import relational as REL, signatures as S
from imdedup_plus_spark import bloom as BF, hygiene as HG
from imdedup_plus_spark import selection as SEL
from imdedup_plus_spark import pq as PQm
from imdedup_plus_spark import topk as TK
from imdedup_plus_spark import trainprep as TP
from imdedup_plus_spark.config import REFERENCE_CONFIG as cfg
from imdedup_plus_spark.session import get_spark


def formatted(df) -> str:
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def main() -> None:
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    sig = S.with_signature(S.valid_documents(docs, cfg), cfg).select(
        "doc_id", "sig", "shingle_set"
    )
    bands = S.explode_bands(sig, cfg, "doc_id")
    pairs = C.candidate_pairs(bands, cfg, "doc_id")
    ver = C.verify_pairs(pairs, sig, cfg, "doc_id")

    sig_k = S.signature_kernel_arrow(docs, cfg, "doc_id")
    bands_k = S.explode_bands(sig_k, cfg, "doc_id")
    ver_k = C.verified_pairs(sig_k, cfg, "doc_id")

    import dataclasses

    hotwin = C.candidate_pairs(
        bands_k, dataclasses.replace(cfg, hot_window=4), "doc_id"
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    _pq_cents = PQm.train_pq_codebooks(emb)
    ivf = ann.ivf_ann_topk(emb)
    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet").select(
        F.col("user_id").alias("k"), "ts", "event_id"
    )
    orders = spark.read.parquet("/root/testdata/sf0.01/orders.parquet").select(
        "o_orderkey", F.col("o_custkey").alias("k"), "o_orderdate"
    )
    asof = REL.asof_join(
        orders, ev, on="k", left_ts="o_orderdate", right_ts="ts",
        value_cols=["event_id"], tiebreak="event_id",
    )

    from imdedup_plus_spark import clustering as CL

    even = lambda c: F.col(c) % 2 == 0
    ver_ck = ver_k.localCheckpoint(eager=True)
    p1 = ver_ck.where(even("id_a") & even("id_b")).select("id_a", "id_b")
    p2 = ver_ck.where(~(even("id_a") & even("id_b"))).select("id_a", "id_b")
    c1 = CL.clusters_from_pairs(
        sig_k.where(even("doc_id")).select("doc_id"), p1, "doc_id"
    )
    inc = CL.update_clusters(
        c1, sig_k.where(~even("doc_id")).select("doc_id"), p2, "doc_id"
    )

    from imdedup_plus_spark import textfns as T

    members = (
        CL.clusters_from_pairs(
            sig_k.select("doc_id"), ver_ck.select("id_a", "id_b"), "doc_id"
        )
        .join(
            T.quality_score(docs, "doc_id").select(
                "doc_id", "quality_permille"
            ),
            "doc_id",
        )
        .localCheckpoint(eager=True)
    )
    keepers = CL.cluster_keepers(members, "doc_id")

    sections = [
        ("signatures (narrow map; scan must prune to doc_id,text)", sig),
        ("bands explode (still narrow)", bands),
        ("candidate_pairs (ONE exchange on the band key + sortWithinPartitions feeds the mapInArrow bucket-run walker; one groupBy counts matching bands)", pairs),
        ("verify_pairs (two id joins + array_intersect)", ver),
        ("signatures, scale path (single ArrowEvalPython/mapInPandas over the pruned scan)", sig_k),
        ("verified_pairs, scale path (the band rows carry sig + shingle_set through ONE band-key exchange; the mapInArrow walker verifies every pair it emits; one groupBy counts verified bands; no id join of the signatures)", ver_k),
        ("candidate_pairs hot_window=4 (the same walker: warm runs pair each member with its hot_window successors in (n_set, id) order; still one exchange + one groupBy)", hotwin),
        ("ivf_ann_topk (broadcast codebook cross-join; one exchange on cell_id)", ivf),
        ("asof_join (union-interleave: ONE exchange on key, window, no range join)", asof),
        ("extract_byte_spans (two id joins attach payload hex; shuffle-free mapInPandas kernel)", BD.extract_byte_spans(BD.pair_payloads(pairs.select("id_a", "id_b"), docs, "doc_id"))),
        ("update_clusters (incremental fold: BroadcastHashJoin relabels the assignment — no corpus exchange; quotient CC is checkpoint-isolated upstream)", inc),
        ("distinct_shingle_estimate_kernel (KMV: mapInPandas bottom-k partials — <=k rows per chunk — then the only exchange is over the tiny partial set; the shingle universe is never shuffled)", M.distinct_shingle_estimate_kernel(sig_k)),
        ("cluster_keepers (argmax survivor per cluster: partial max_by aggregate BEFORE the exchange — a mega cluster ships one candidate row per task, NOT its membership — then ShuffledHashJoin join-back; NO per-cluster row_number window sort anywhere in the plan)", keepers),
        ("dup_span_stats (Lee-et-al duplicated spans: ONE exchange for the n-gram frequency agg — partial HashAggregate before it — then a ShuffledHashJoin building on the FILTERED dup-hash side; the gram stream is never broadcast or sorted — Catalyst's static estimate of the mapInPandas explode would otherwise broadcast it, the measured 8G-HashedRelation crash at 1.11M docs; ONE exchange+sort on id shared by BOTH island windows, per-doc aggs reuse the id partitioning)", TP.dup_span_stats(docs, "doc_id")),
        ("pack_chunks (one window per pack bucket: a single exchange on pack_bucket, never a global sort)", TP.pack_chunks(docs, "doc_id")),
        ("repetition_stats (Gopher intra-doc gate: ZERO exchanges — dup-line/paragraph fractions via array_distinct, top-gram multiplicity via a sorted-run fold, all per-row folds over the pruned doc_id,text scan)", TP.repetition_stats(docs, "doc_id")),
        ("repetition_stats_kernel, scale path (ONE mapInPandas over the pruned scan, still zero exchanges; 28x the SQL form at 1.11M docs — 73.5k vs 2.6k docs/s)", TP.repetition_stats_kernel(docs, "doc_id")),
        ("repetition_stats line_split=newline (round 5: real-text splitters — the per-line Horner folds move into the projection, STILL zero exchanges beyond the id join with the wh frame)", TP.repetition_stats(docs, "doc_id", line_split="newline")),
        ("line_clean_stats line_split=newline (round 5: one line-hash exchange reused by the boilerplate join, same shape as tokens mode)", TP.line_clean_stats(docs, "doc_id", line_split="newline")),
        ("decontaminate, SQL form (per-doc distinct = array_distinct per-row fold: the corpus gram stream never shuffles; only benchmark-HIT grams reach the per-doc agg, final join is a narrow 3-scalar-column id shuffle — but the interpreted HOF folds anti-scale: abandoned after 40 min at 1.11M docs; kept as the oracle-shaped reference form)", TP.decontaminate(docs, "doc_id")),
        ("decontaminate_kernel, production path (benchmark gram set collected once — it is bounded by definition — and closed over the kernel; ONE mapInPandas over the pruned (id,text) scan, ZERO corpus exchanges)", TP.decontaminate_kernel(docs, "doc_id")),
        ("semantic_dedup_kernel (SemDeDup: ONE mapInPandas scores each Arrow batch against the codebook held inside the kernel — no n x n_cells row blowup, no JVM HOF folds; then ONE exchange on cell_id feeds the per-cell applyInPandas pairing; keeper fold is inside the same kernel, no join-back)", ann.semantic_dedup_kernel(emb)),
        ("containment_pairs_kernel (UNPRUNED drop-only band walk + two shuffle_hash id joins feed one mapInPandas — the same physical shape as verify_pairs_kernel, different predicate; the pair side is never sorted)", C.containment_pairs_kernel(bands_k, sig_k, cfg, "doc_id")),
        ("bloom_decontaminate, SQL form (Bloom bitmap as ONE dense broadcast row crossJoined onto the per-doc gram fold: BroadcastNestedLoopJoin of a single row, per-row forall probes — ZERO corpus exchanges, not even the hit-id shuffle of the exact lane)", BF.bloom_decontaminate(docs, "doc_id")),
        ("bloom_decontaminate_kernel, production path (bitmap + exact gram array closed over ONE mapInPandas; vectorized probe; zero exchanges)", BF.bloom_decontaminate_kernel(docs, "doc_id")),
        ("pii_scrub (narrow per-row JVM regex projection over the pruned scan: no shuffle, no join, no Python)", HG.pii_scrub(docs, "doc_id")),
        ("c4_filters (narrow per-row gate projection: no shuffle, no join, no Python)", HG.c4_filters(docs, "doc_id")),
        ("dsir_select (DSIR importance resampling: the LLR model is ONE exchange bounded at DSIR_V rows — partial HashAggregate before it — collapsed to a single broadcast row; scoring is a per-row fold over that row with ZERO corpus exchanges; the resample is TakeOrderedAndProject — per-partition heap + K-row merge, NEVER a global sort)", SEL.dsir_select(docs, "doc_id")),
        ("unimax_alloc (UniMax waterfill: ONE exchange for the per-language token agg — map-side combine to n_languages rows — then every window runs over that bounded frame; the corpus is scanned once, pruned to lang,text)", SEL.unimax_alloc(docs, "doc_id")),
        ("dsir_select_kernel, production path (model collected once as a 64 KB llr array — bounded-collect contract — then ONE mapInPandas scores every doc against the closure; ZERO corpus exchanges before the TakeOrderedAndProject heap; the SQL form's interpreted HOF fold never runs)", SEL.dsir_select_kernel(docs, "doc_id")),
        ("dsir_model_counts_kernel (per-partition dense bucket-count partials from ONE mapInPandas pass: the exchange is bounded at tasks x DSIR_V rows regardless of corpus size)", SEL.dsir_model_counts_kernel(docs, "doc_id")),
        ("distinct_shingle_hll_kernel (HLL: mapInPandas register partials — <=m rows per task — merged by ONE bounded groupBy(j).max exchange; the register fold is a 512-row agg; the shingle universe is never shuffled, distinct-ed OR sorted — cheaper combine than even the KMV bottom-k's distinct+limit)", M.distinct_shingle_hll_kernel(sig_k)),
        ("topk_gram_bracket_kernel (mergeable top-k: chunked-numpy (g,h,c) partials with map-side combine; the per-group rank window partitions by the id-range group — BOUNDED partitions by construction, never a corpus-keyed window; after pruning the merge joins n_groups*k rows against the broadcast threshold table; the exact verification term reuses the same partials, no second corpus pass)", TK.topk_gram_bracket_kernel(docs, "doc_id")),
        ("pq_ann_topk (ADC over hyperplane buckets: the candidate side is (id, bucket, code) — 24 bytes/vector, the raw neighbor vectors never join; per-pair M-row explode joins the BROADCAST codebook; one bucket-keyed exchange + the per-query rank window)", PQm.pq_ann_topk(emb, cents=_pq_cents)),
    ]
    out = ["# PLANS — formatted physical plans of the hot path\n"]
    out.append(
        "Generated by scripts/dump_plans.py on /root/testdata/sf0.01. "
        "Checklist per plan: `ReadSchema` pruned, no Python (`BatchEvalPython`) "
        "in the relational stages, exchanges only on the declared keys.\n"
    )
    for title, df in sections:
        out.append(f"\n## {title}\n\n```\n{formatted(df)}\n```\n")
    with open("PLANS.md", "w") as fh:
        fh.write("\n".join(out))
    print("PLANS.md written")
    spark.stop()


if __name__ == "__main__":
    main()
