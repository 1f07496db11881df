"""Bucketed stage stores: co-located joins without reshuffling the big side.

The verify stage's dominant cost is the shuffle that routes each candidate
pair to its two signatures (measured ~80% of stage wall at corpus scale —
CLAUDE.md); the signature table itself is the *stable* side, rewritten
once per corpus build and joined every epoch (batch verify, streaming
probes, incremental cluster folds, span extraction all join it on the id).
Hash-bucketing that store by id removes its Exchange from every one of
those joins: Spark's bucketed scan exposes ``HashPartitioning(id,
n_buckets)``, the pair side shuffles *to* the buckets, and the
signatures — the wide side, carrying the packed shingle sets — are read
in place. That is exactly the layout a 100 TB deployment pins once and
amortizes over every downstream stage; the Iceberg mapping is the
``bucket(N, id)`` partition transform on the same table (pipeline.py's
catalog notes), and the streaming band store's ``bh_part``/``id_part``
dirs are the same idea enforced manually for partition-pruned *reads*.

The reference has no analog — its feature tables are in-heap hashmaps
rebuilt per batch; bucketing is what replaces "rebuild the hashmap" when
the index is a table that outlives any single job. No pipeline stage
calls this module yet; ``tests/test_bucketing.py`` is its only consumer.

Bucket-count sizing: buckets are fixed at write time and every reader
task maps 1:1 to a bucket, so size for the LARGEST downstream join's
parallelism (e.g. 4096 at corpus scale), not the writer's core count —
too few buckets caps join parallelism; AQE cannot split a bucket.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    bucket_col: str,
    n_buckets: int,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as an external parquet table hash-bucketed (and
    sorted) by ``bucket_col``. The sort makes each bucket file
    min/max-indexed on the id for point lookups; sorted buckets also let
    sort-merge joins skip their sort when both sides are bucketed."""
    (
        df.write.format("parquet")
        .mode(mode)
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .option("path", path)
        .saveAsTable(table)
    )


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Catalog read — the ONLY way the bucketing metadata reaches the
    planner (``spark.read.parquet(path)`` on the same files would scan
    fine but re-shuffle in every join)."""
    return spark.table(table)


def n_exchanges(df: DataFrame) -> int:
    """Count Exchange operators in the final physical plan — the test
    hook proving a join consumed the bucketed distribution in place."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("Exchange")
