"""Post-hoc, noise-free scale evidence for the incremental cluster fold:
per wave, the size of the QUOTIENT graph the fold's CC actually ran on
vs the full pair graph a batch recompute iterates — reconstructed from
the surviving incremental state (old cumulative remap snapshots are kept
per epoch, so the pre-wave assignment is re-derivable exactly).

Usage: python scripts/quotient_sizes.py <state_dir>
where ``state_dir`` is the ``--state`` of a ``scripts/run_incremental.py
--clusters`` run (its ``pairs/``, ``clusters_base/`` and ``cluster_remap/``
tables, keyed on ``url``).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("SPARK_GRAFT_LOCAL_DIR", "/tmp/spark-local-incclust")

from pyspark.sql import functions as F

from imdedup_plus_spark import streaming as ST
from imdedup_plus_spark.session import get_spark


def main() -> int:
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    state = sys.argv[1]
    spark = get_spark(shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")

    epochs = ST.processed_epochs(state)
    pairs_all = spark.read.parquet(f"{state}/pairs")
    base_all = spark.read.parquet(f"{state}/clusters_base")
    remap_all = spark.read.parquet(f"{state}/cluster_remap")

    rows = []
    for k in epochs:
        pk = pairs_all.where(F.col("epoch") == k).select("id_a", "id_b")
        if k == 0:
            # bootstrap: quotient graph == pair graph by construction
            prev = None
        else:
            prev_base = base_all.where(F.col("epoch") < k).select("url", "label0")
            prev_snap = remap_all.where(F.col("epoch") == k - 1).select(
                "old_label", "new_label"
            )
            prev = prev_base.join(
                prev_snap, prev_base.label0 == prev_snap.old_label, "left"
            ).select(
                "url", F.coalesce("new_label", "label0").alias("cluster_id")
            )
        if prev is not None:
            lab = prev.withColumnRenamed("url", "id")
            la = lab.withColumnRenamed("id", "id_a").withColumnRenamed(
                "cluster_id", "la"
            )
            lb = lab.withColumnRenamed("id", "id_b").withColumnRenamed(
                "cluster_id", "lb"
            )
            eq = (
                pk.join(la, "id_a", "left")
                .join(lb, "id_b", "left")
                .select(
                    F.coalesce("la", F.col("id_a")).alias("la"),
                    F.coalesce("lb", F.col("id_b")).alias("lb"),
                )
                .where(F.col("la") != F.col("lb"))
                .select(
                    F.greatest("la", "lb").alias("u"), F.least("la", "lb").alias("v")
                )
                .distinct()
            )
            q_edges = eq.count()
            q_nodes = (
                eq.select(F.col("u").alias("n"))
                .union(eq.select(F.col("v").alias("n")))
                .distinct()
                .count()
            )
        else:
            q_edges = pk.distinct().count()
            q_nodes = (
                pk.select(F.col("id_a").alias("n"))
                .union(pk.select(F.col("id_b").alias("n")))
                .distinct()
                .count()
            )
        acc = pairs_all.where(F.col("epoch") <= k)
        full_edges = acc.select("id_a", "id_b").distinct().count()
        full_nodes = (
            acc.select(F.col("id_a").alias("n"))
            .union(acc.select(F.col("id_b").alias("n")))
            .distinct()
            .count()
        )
        rows.append(
            {
                "wave": k,
                "quotient_nodes": q_nodes,
                "quotient_edges": q_edges,
                "full_nodes": full_nodes,
                "full_edges": full_edges,
                "edge_ratio": round(full_edges / max(q_edges, 1), 1),
            }
        )
        print(json.dumps(rows[-1]), flush=True)
    print(json.dumps({"summary": rows}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
