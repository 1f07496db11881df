"""spark-submit entry point for the full dedup pipeline.

Ships per the north rule::

    zip -r imdedup_plus_spark.zip imdedup_plus_spark
    spark-submit --py-files imdedup_plus_spark.zip scripts/run_pipeline.py \
        --input /path/to/documents_parquet_or_table \
        --workdir /path/to/checkpoints \
        --id-col url [--resume]

NOTE on memory under spark-submit: the in-code session conf
(``session.get_spark``) cannot size the driver JVM — it is already
running — so pass ``--driver-memory`` (local mode: the driver IS the
executor; size it like one, e.g. 48g for a corpus-scale local run) or
``--executor-memory`` on a cluster. The default 1g driver OOMs on
corpus-scale inputs.

On a cluster, ``--input`` is the Iceberg/Parquet documents table; the
workdir holds per-stage checkpoints + lineage manifests; re-running with
the same workdir, config and input resumes from the last completed stage
(idempotent); another config or input raises ``StaleStageError``.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--id-col", default="url")
    ap.add_argument("--n-bands", type=int, default=8)
    ap.add_argument("--rows-per-band", type=int, default=1)
    ap.add_argument("--shingle-window", type=int, default=2)
    ap.add_argument("--bucket-cap", type=int, default=32)
    ap.add_argument("--verify-jaccard-pct", type=int, default=30)
    ap.add_argument("--verify-sketch-k", type=int, default=0,
                    help="0 = exact full-set Jaccard; k>0 = KMV bottom-k sketch verification (recall-equivalent at k>=96 on the planted corpus, ~|set|/k less verify shuffle)")
    ap.add_argument("--hot-window", type=int, default=0,
                    help="0 = drop buckets above --bucket-cap (reference parity); W>0 = sorted-neighborhood pairing inside hot buckets (SCALE_CONFIG uses 4 — the corpus-size-stable recall tier, see BENCH/BASELINE.md)")
    ap.add_argument("--collapse-recrawls", action="store_true",
                    help="canonicalize URLs and keep only the newest warc_ts revision per canonical URL before shingling (needs url+warc_ts columns; weburl.py)")
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from imdedup_plus_spark.config import DedupConfig
    from imdedup_plus_spark.pipeline import CheckpointedPipeline
    from imdedup_plus_spark.session import get_spark

    cfg = DedupConfig(
        n_bands=args.n_bands,
        rows_per_band=args.rows_per_band,
        shingle_window=args.shingle_window,
        bucket_cap=args.bucket_cap,
        verify_jaccard_pct=args.verify_jaccard_pct,
        verify_sketch_k=args.verify_sketch_k,
        hot_window=args.hot_window,
    )
    spark = get_spark(
        app_name="imdedup-plus-spark-pipeline",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )
    docs = spark.read.parquet(args.input)
    t0 = time.time()
    pipe = CheckpointedPipeline(
        spark, args.workdir, cfg, id_col=args.id_col,
        collapse_recrawls=args.collapse_recrawls,
    )
    res = pipe.run(docs)
    summary = {
        "n_docs": docs.count(),
        "n_clusters": res["clusters"].select("cluster_id").distinct().count(),
        "n_verified_pairs": res["verified_pairs"].count(),
        "wall_sec": round(time.time() - t0, 2),
        "lineage": pipe.lineage(),
    }
    print(json.dumps(summary, indent=2))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
