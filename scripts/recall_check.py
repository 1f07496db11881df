"""North-rule recall evidence: cluster-level dup-pair recall on the
planted fixture corpus, measured on the CURRENT code.

Recall = fraction of expected planted pairs (every unordered url pair
sharing a base page, ``fixtures.expected_dup_pairs``) whose two members
land in the same final cluster after the full SCALE_CONFIG pipeline
(Arrow signature kernel -> hot-window LSH pairing -> KMV bottom-64
verification -> connected components). North-rule target: >= 0.99.

Usage: python scripts/recall_check.py [n_base] [master]
  n_base  variant groups (default 300000 -> 1.11M docs; 1200000 -> 4.44M)
  master  spark master (default: get_spark's, one task thread per CPU)

Prints one JSON line and appends nothing — paste results into
BENCH/BASELINE.md with the environment snapshot (load, /dev/shm state).
At 4.44M docs run with SPARK_GRAFT_LOCAL_DIR=/tmp/spark-local-disk: the
verify shuffle (~100 GB) OOM-kills the JVM on the tmpfs default.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from imdedup_plus_spark import candidates as C, clustering as CL
from imdedup_plus_spark import fixtures as FX, signatures as S
from imdedup_plus_spark.config import SCALE_CONFIG
from imdedup_plus_spark.session import get_spark


def main() -> None:
    n_base = int(sys.argv[1]) if len(sys.argv) > 1 else 300000
    master = sys.argv[2] if len(sys.argv) > 2 else None

    spark = get_spark(
        master=master,
        shuffle_partitions=256 if n_base <= 300000 else 1024,
        extra_conf={
            "spark.sql.files.maxPartitionBytes": "16m",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16m",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    gt = FX.generate_documents(spark, n_base=n_base, with_ground_truth=True)
    gt = gt.persist()
    n_docs = gt.count()
    exp = FX.expected_dup_pairs(gt).localCheckpoint(eager=True)
    n_exp = exp.count()
    print(f"corpus {n_docs} docs, {n_exp} expected pairs", flush=True)

    docs = gt.select("url", "text").withColumn("__doc_key__", F.xxhash64("url"))
    idc = "__doc_key__"
    t0 = time.time()
    sig = S.signature_kernel_arrow(docs, SCALE_CONFIG, idc).persist()
    ver = C.verified_pairs(sig, SCALE_CONFIG, idc).localCheckpoint(eager=True)
    clusters = CL.clusters_from_pairs(sig, ver, idc).persist()
    n_clustered = clusters.count()
    wall = time.time() - t0

    labels = clusters.select(F.col(idc).alias("k"), "cluster_id")
    hit = (
        exp.withColumn("ka", F.xxhash64("url_a"))
        .withColumn("kb", F.xxhash64("url_b"))
        .join(labels.withColumnRenamed("k", "ka").withColumnRenamed("cluster_id", "ca"), "ka")
        .join(labels.withColumnRenamed("k", "kb").withColumnRenamed("cluster_id", "cb"), "kb")
        .where(F.col("ca") == F.col("cb"))
        .count()
    )
    print(
        json.dumps(
            {
                "n_base": n_base,
                "master": spark.sparkContext.master,
                "n_docs": n_docs,
                "n_clustered_rows": n_clustered,
                "n_expected_pairs": n_exp,
                "n_hit_pairs": hit,
                "recall": round(hit / n_exp, 6),
                "pipeline_wall_sec": round(wall, 1),
                "docs_per_sec": round(n_docs / wall, 1),
            }
        ),
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
