"""CLI for the end-to-end training-data preparation pipeline.

Crawl parquet in, training shards out — every stage one of the engine's
oracle-checked operators, checkpointed and resumable (re-running after
a kill resumes from the last committed stage; see trainpipe.py).

Usage::

    python scripts/run_trainprep_pipeline.py INPUT_PARQUET \
        --workdir /path/work --outdir /path/shards \
        [--id-col doc_id] [--n-shards 8] [--collapse-recrawls] \
        [--master <spark master; default: one thread per CPU>]

Prints one JSON line per completed stage (the lineage records) and a
final summary line with the shard-write manifest.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("input", help="input documents parquet path")
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--outdir", required=True)
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument(
        "--id-expr",
        default=None,
        help="SQL expression deriving a numeric surrogate id when the "
        "input has none (e.g. \"CAST(split_part(url, '/page/', 2) AS "
        "BIGINT)\"); added as --id-col",
    )
    ap.add_argument("--n-shards", type=int, default=8)
    ap.add_argument("--collapse-recrawls", action="store_true")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from imdedup_plus_spark.config import REFERENCE_CONFIG
    from imdedup_plus_spark.session import get_spark
    from imdedup_plus_spark.trainpipe import TrainingPrepPipeline

    spark = get_spark(master=args.master)
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(args.input)
    if args.id_expr:
        from pyspark.sql import functions as F

        docs = docs.withColumn(args.id_col, F.expr(args.id_expr))
    pipe = TrainingPrepPipeline(
        spark,
        args.workdir,
        REFERENCE_CONFIG,
        id_col=args.id_col,
        collapse_recrawls=args.collapse_recrawls,
        n_shards=args.n_shards,
    )
    out = pipe.run_prep(docs)
    for rec in pipe.lineage():
        print(json.dumps(rec))
    manifest = pipe.write_shards(args.outdir)
    manifest["n_selected"] = out["selected"].count()
    manifest["n_input"] = docs.count()
    print(json.dumps(manifest))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
