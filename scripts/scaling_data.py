"""Data-size scaling evidence, and the one timed scale pipeline.

``timed_pipeline`` is the corpus-scale dedup run that both scaling scripts
time: xxhash64 surrogate key -> Arrow signature kernel (persisted) ->
bands -> ``candidate_pairs`` -> ``verify_pairs_kernel`` (localCheckpoint)
-> connected components -> noop write. ``scaling_cluster.py`` runs it on
a standalone cluster at N and 4N executors; this script runs it at a
FIXED cluster size (the default master: one task thread per CPU in the
affinity mask) on a corpus and on 4x that corpus. The north rule's
10^12-doc claim needs both "more executors -> proportionally faster" AND
"more data -> proportionally more work, no superlinear blowup" (the LSH
pair stage is the quadratic risk; bucket_cap bounds it by construction,
this run measures it).

Usage: python scripts/scaling_data.py [n_base] (default 300000 -> 1.11M
docs, then 4*n_base -> 4.44M docs). ``SPARK_GRAFT_MASTER`` /
``SPARK_GRAFT_CPUS`` pick the cluster size. Appends results to
BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from imdedup_plus_spark.session import get_spark


def ensure_corpus(n_base: int) -> str:
    """The planted fixture corpus with ``n_base`` variant groups, generated
    once into /tmp and reused by later runs."""
    corpus = f"/tmp/bench_corpus_{n_base}"
    if not os.path.exists(corpus + "/_SUCCESS"):
        from imdedup_plus_spark import fixtures as FX

        spark = get_spark()
        spark.sparkContext.setLogLevel("ERROR")
        FX.generate_documents(spark, n_base=n_base).write.mode("overwrite").parquet(corpus)
        spark.stop()
    return corpus


def timed_pipeline(spark, corpus: str) -> dict:
    """One timed SCALE_CONFIG dedup run over the parquet at ``corpus``.

    The warm-up (a noop write of the text column) is untimed and identical
    at every cluster size; the clock covers signatures through CC."""
    from pyspark.sql import functions as F

    from imdedup_plus_spark import candidates as C, clustering as CL
    from imdedup_plus_spark import signatures as S
    from imdedup_plus_spark.config import SCALE_CONFIG as CFG

    docs = spark.read.parquet(corpus)
    n_docs = docs.count()
    idc = "url" if "url" in docs.columns else "doc_id"
    if dict(docs.dtypes).get(idc) == "string":
        # 64-bit surrogate key: every downstream stage (pair groupBy,
        # verify joins, CC labels) hashes/compares/shuffles the id — longs
        # are ~5x cheaper than 40-char urls in the hot stages. Collisions
        # are content-checked away in verification.
        docs = docs.withColumn("__doc_key__", F.xxhash64(F.col(idc)))
        idc = "__doc_key__"
    docs.select("text").write.format("noop").mode("overwrite").save()
    t0 = time.time()
    sig = S.signature_kernel_arrow(docs, CFG, idc).persist()
    sig.count()
    t1 = time.time()
    bands = S.explode_bands(sig, CFG, idc)
    ver = C.verify_pairs_kernel(
        C.candidate_pairs(bands, CFG, idc), sig, CFG, idc
    ).localCheckpoint(eager=True)
    n_ver = ver.count()
    t2 = time.time()
    cl = CL.clusters_from_pairs(sig, ver, idc)
    cl.write.format("noop").mode("overwrite").save()
    t3 = time.time()
    return {
        "n_docs": n_docs,
        "n_verified_pairs": n_ver,
        "wall_sec": round(t3 - t0, 2),
        "docs_per_sec": round(n_docs / (t3 - t0), 1),
        "stage_sec": {
            "signatures": round(t1 - t0, 2),
            "pairs_verify": round(t2 - t1, 2),
            "cc_clusters": round(t3 - t2, 2),
        },
    }


def main() -> None:
    os.chdir(REPO)
    n_base = int(sys.argv[1]) if len(sys.argv) > 1 else 300000
    # corpus-scale shuffle goes to DISK, not the tmpfs default: the verify
    # shuffle is ~100 GB at 4.4M docs, and on tmpfs it competes with the
    # JVM heap for RAM (measured: an OOM kill at 4.4M docs).
    os.environ.setdefault("SPARK_GRAFT_LOCAL_DIR", "/tmp/spark-local-bench")
    results = []
    for nb, parts in ((n_base, 256), (4 * n_base, 1024)):
        corpus = ensure_corpus(nb)
        spark = get_spark(
            shuffle_partitions=parts,
            extra_conf={
                # the corpus compresses to ~10MB/file: the default 128m
                # scan split would leave most cores idle
                "spark.sql.files.maxPartitionBytes": "16m",
                # candidate/verify are CPU-bound per row; AQE's 64m default
                # would coalesce their shuffles below the core count
                "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16m",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        r = {"master": spark.sparkContext.master, **timed_pipeline(spark, corpus)}
        spark.stop()
        r["n_base"] = nb
        r["shuffle_partitions"] = parts
        results.append(r)
        print(json.dumps(r), flush=True)
        with open(f"BENCH/scaling_data_{nb}.json", "w") as fh:
            json.dump(r, fh)

    r1, r4 = results
    ratio = round(r4["docs_per_sec"] / r1["docs_per_sec"], 3)
    with open("BENCH/BASELINE.md", "a") as fh:
        fh.write(
            f"\n## Data-size scaling ({r1['master']} fixed), corpus {r1['n_docs']} vs {r4['n_docs']} docs\n\n"
            "Identical pipeline (SCALE_CONFIG) and cluster size; only the corpus\n"
            "grows 4x (shuffle partitions sized by data: 256 -> 1024):\n\n"
            "| corpus docs | wall sec | docs/sec | stage sec (sig/verify/cc) |\n|---|---|---|---|\n"
            + "".join(
                f"| {r['n_docs']} | {r['wall_sec']} | {r['docs_per_sec']} | "
                f"{r['stage_sec']['signatures']} / {r['stage_sec']['pairs_verify']} / {r['stage_sec']['cc_clusters']} |\n"
                for r in results
            )
            + f"\n**Throughput retention at 4x data = {r4['docs_per_sec']} / {r1['docs_per_sec']} "
            f"= {ratio}** (1.0 = perfectly linear in data; the LSH/verify stages'\n"
            "pair volume is bounded per-bucket by bucket_cap, so work grows ~linearly\n"
            "with docs, not quadratically).\n"
        )
    print(json.dumps({"throughput_retention_4x_data": ratio}))


if __name__ == "__main__":
    main()
