"""End-to-end directory compress / restore — the reference's CLI contract.

The reference binary runs ``-c <in_dir> <out>`` (dedup-compress a
directory of files into an ``.idp`` container) and ``-d`` back, with
``CHECK_DECOMPRESS`` comparing restored bytes against the originals
(``/root/reference/main.c:300-365``, ``jpeg.c:583-603``). This module is
that contract over the engine's own stages, byte-exact for ARBITRARY
file bytes (not just token-joinable text), because the delta lane is the
byte-level one:

``compress(in_dir, work_dir)``:

1. ingest: ``sources.read_binary_dir`` -> ``ingest_documents`` (one row
   per file: surrogate id from the relative path, sniffed media type,
   UTF-8 text when valid);
2. exact dedup of ALL payloads (FIX_OPTI analog for whole files): group
   by ``(length, crc32, xxhash64)``, keep the min-id member, then
   *verify* each dropped member's bytes against its keeper — a hash
   collision demotes the member back to stored, so exactness never
   rests on a hash;
3. near-dup dedup of the surviving text keepers: Arrow signature kernel
   -> LSH pairs verified by exact Jaccard in one band walk
   (``candidates.verified_pairs``) -> connected components;
   cluster representative (min id) is the base, every other member
   becomes a byte-delta target (CDC-anchored suffix-array LCS over the
   RAW file bytes — ``bytedelta``);
4. persist: ``names.parquet`` (relpath, role, ref), ``uniques.parquet``
   (stored payloads), ``spans/`` — the delta instructions in the
   ``.sidp`` container format — and ``_METRICS.json`` (raw vs stored
   byte counters, the ``rawSize/finalSize`` printf analog) written LAST
   (write-after-data, the lineage commit point).

``restore(work_dir, out_dir)`` replays: stored files verbatim, exact
refs from their keeper's bytes, delta targets reconstructed from base
bytes + container instructions; everything lands via the atomic
``sources.restore_to_directory`` sink. ``check(in_dir, out_dir)``
is CHECK_DECOMPRESS: per-file byte identity as a DataFrame.

Scale shape: every step is the engine's existing 100 TB lane (narrow
ingest, the verifying band walk, pair-subgraph CC, per-pair kernels, manifest
sinks); this module only composes them, adds no new shuffle, and keeps
whole-file bytes out of wide joins except the two places they must move
(exact-verify against the keeper, delta kernel input).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import bytedelta as BD
from . import candidates as C
from . import clustering as CL
from . import signatures as S
from . import sources as SRC
from .config import REFERENCE_CONFIG, DedupConfig
from .container import SpanContainerDataSource

ROLE_STORED = "stored"
ROLE_EXACT = "exact_ref"
ROLE_DELTA = "delta_ref"


def _register_sidp(spark: SparkSession) -> None:
    # register() replaces an existing registration of the same name, so
    # this is idempotent — no exception guard (one would only mask real
    # registration failures)
    spark.dataSource.register(SpanContainerDataSource)


def _rel_col(in_dir: str, path_col: str = "path") -> "F.Column":
    # binaryFile paths come back as file:<abs>/<rel>; strip the root
    prefix_len = len("file:") + len(os.path.abspath(in_dir)) + 2
    return F.expr(f"substring({path_col}, {prefix_len})")


def _raw_hex() -> "F.Column":
    return F.lower(F.hex(F.col("content")))


def ingest(spark: SparkSession, in_dir: str) -> DataFrame:
    """One row per file, keyed by ``xxhash64(rel)``: the id, and with it
    the min-id choice of exact keepers and delta bases, depends only on
    the tree's contents, not on where the tree is mounted."""
    rel = _rel_col(in_dir, "source")
    return (
        SRC.ingest_documents(SRC.read_binary_dir(spark, in_dir))
        .withColumn("rel", rel)
        .withColumn("doc_id", F.xxhash64(rel))
    )


def assign_roles(docs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(doc_id, rel, media_type, n_bytes, role, ref_id) for every file.

    Exact pass first (verified, collision-safe), then the near-dup
    cluster pass over the surviving text keepers."""
    d = docs.select(
        "doc_id", "rel", "media_type", "text", "content",
        F.length("content").cast("long").alias("n_bytes"),
        F.crc32("content").alias("ck"),
        F.xxhash64("content").alias("xh"),
    )
    # exact groups: keeper = min doc_id per (n_bytes, ck, xh)
    from pyspark.sql import Window

    w = Window.partitionBy("n_bytes", "ck", "xh")
    d = d.withColumn("keeper_id", F.min("doc_id").over(w))
    members = d.where(F.col("doc_id") != F.col("keeper_id"))
    keepers = d.where(F.col("doc_id") == F.col("keeper_id"))
    # collision check: a member whose BYTES differ from its keeper's is
    # demoted to stored (exactness never rests on the hash triple)
    verified_members = (
        members.alias("m")
        .join(
            keepers.select(
                F.col("doc_id").alias("keeper_id"),
                F.col("content").alias("keeper_content"),
            ),
            "keeper_id",
        )
        .withColumn("same", F.col("m.content") == F.col("keeper_content"))
    )
    exact_refs = verified_members.where("same").select(
        "doc_id", "rel", "media_type", "n_bytes",
        F.lit(ROLE_EXACT).alias("role"),
        F.col("keeper_id").alias("ref_id"),
    )
    demoted = verified_members.where("NOT same").select(
        "doc_id", "rel", "media_type", "text", "content", "n_bytes"
    )
    survivors = keepers.select(
        "doc_id", "rel", "media_type", "text", "content", "n_bytes"
    ).unionByName(demoted)

    # near-dup clusters over text survivors (the engine's core lane)
    text_docs = survivors.where("media_type = 'text' AND text IS NOT NULL")
    sig = S.signature_kernel_arrow(text_docs, cfg, "doc_id")
    ver = C.verified_pairs(sig, cfg, "doc_id")
    cl = CL.clusters_from_pairs(sig.select("doc_id"), ver, "doc_id")
    delta_targets = cl.where(F.col("doc_id") != F.col("cluster_id")).select(
        "doc_id", F.col("cluster_id").alias("ref_id")
    )
    roles = (
        survivors.join(delta_targets, "doc_id", "left")
        .select(
            "doc_id", "rel", "media_type", "n_bytes",
            F.when(F.col("ref_id").isNotNull(), ROLE_DELTA)
            .otherwise(ROLE_STORED)
            .alias("role"),
            "ref_id",
        )
        .unionByName(exact_refs)
    )
    return roles


def compress(
    spark: SparkSession,
    in_dir: str,
    work_dir: str,
    cfg: DedupConfig = REFERENCE_CONFIG,
) -> dict:
    _register_sidp(spark)
    docs = ingest(spark, in_dir).persist()
    # the surrogate key is xxhash64(rel); a collision would map two
    # files onto one identity and restore the wrong bytes SILENTLY —
    # fail loudly instead (at ~2^-64/pair this is a guard, not a path;
    # a real deployment widens the key to (xxhash64, length))
    counts = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("doc_id").alias("n_ids"),
    ).collect()[0]
    if counts["n"] != counts["n_ids"]:
        raise ValueError(
            f"doc_id collision: {counts['n']} files, {counts['n_ids']} ids"
        )
    roles = assign_roles(docs, cfg).persist()

    stored_ids = roles.where(F.col("role") == ROLE_STORED).select("doc_id")
    (
        docs.join(stored_ids, "doc_id")
        .select("doc_id", "content")
        .write.mode("overwrite")
        .parquet(f"{work_dir}/uniques.parquet")
    )
    roles.select("doc_id", "rel", "media_type", "n_bytes", "role", "ref_id").write.mode(
        "overwrite"
    ).parquet(f"{work_dir}/names.parquet")

    pairs = roles.where(F.col("role") == ROLE_DELTA).select(
        F.col("ref_id").alias("id_a"), F.col("doc_id").alias("id_b")
    )
    spans = BD.extract_byte_spans(
        BD.pair_payloads(pairs, docs, "doc_id", hex_col=_raw_hex()), cfg
    )
    spans.write.format("sidp").mode("overwrite").save(f"{work_dir}/spans")

    # rawSize / finalSize counters (main.c:320-331 analog); stored bytes
    # measure actual on-disk artifact sizes, manifest written LAST
    agg = roles.agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("n_bytes").alias("raw_bytes"),
        F.sum(F.when(F.col("role") == ROLE_EXACT, 1).otherwise(0)).alias("n_exact"),
        F.sum(F.when(F.col("role") == ROLE_DELTA, 1).otherwise(0)).alias("n_delta"),
    ).collect()[0]
    stored_bytes = sum(
        os.path.getsize(os.path.join(dp, f))
        for sub in ("uniques.parquet", "names.parquet", "spans")
        for dp, _dn, fn in os.walk(f"{work_dir}/{sub}")
        for f in fn
    )
    raw_bytes = int(agg["raw_bytes"] or 0)  # sum() is NULL on 0 files
    metrics = {
        "n_files": agg["n_files"],
        "raw_bytes": raw_bytes,
        "stored_bytes": int(stored_bytes),
        "n_exact_refs": int(agg["n_exact"] or 0),
        "n_delta_refs": int(agg["n_delta"] or 0),
        "ratio": round(raw_bytes / max(stored_bytes, 1), 3),
    }
    tmp = f"{work_dir}/._METRICS.tmp.{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(metrics, fh)
    os.replace(tmp, f"{work_dir}/_METRICS.json")
    docs.unpersist()
    roles.unpersist()
    return metrics


def restore(spark: SparkSession, work_dir: str, out_dir: str) -> int:
    """Replay the store into ``out_dir``; returns files written. A
    missing ``_METRICS.json`` means compress never committed — refuse."""
    if not os.path.exists(f"{work_dir}/_METRICS.json"):
        raise ValueError(f"no committed store at {work_dir} (missing _METRICS.json)")
    _register_sidp(spark)
    names = spark.read.parquet(f"{work_dir}/names.parquet")
    uniq = spark.read.parquet(f"{work_dir}/uniques.parquet")

    spans = spark.read.format("sidp").load(f"{work_dir}/spans")
    rec = BD.reconstruct_payloads(spans, uniq, "doc_id", hex_col=_raw_hex())
    # resolved bytes for every stored OR delta-reconstructed doc. Exact
    # refs must resolve against THIS union, not uniques alone: the exact
    # pass runs before clustering, so a keeper can itself end up a delta
    # target (keeper id is the exact-group min, cluster rep is the
    # cluster min — different minima), and an exact member then points
    # at a doc that is not in uniques. Keepers are never exact refs
    # themselves, so one level of indirection is complete.
    contents = uniq.unionByName(
        rec.select(
            F.col("id_b").alias("doc_id"),
            F.unhex(F.upper(F.col("reconstructed_hex"))).alias("content"),
        )
    )
    direct = (
        names.where(F.col("role") != ROLE_EXACT)
        .join(contents, "doc_id")
        .select(F.col("rel").alias("name"), "content")
    )
    exact = (
        names.where(F.col("role") == ROLE_EXACT)
        .join(contents.withColumnRenamed("doc_id", "ref_id"), "ref_id")
        .select(F.col("rel").alias("name"), "content")
    )
    all_files = direct.unionByName(exact)
    written = SRC.restore_to_directory(all_files, out_dir)
    return written.agg(F.sum("n_written")).collect()[0][0] or 0


def check(spark: SparkSession, in_dir: str, out_dir: str) -> DataFrame:
    """CHECK_DECOMPRESS: (rel, byte_identical) per original file."""
    a = SRC.read_binary_dir(spark, in_dir).select(
        _rel_col(in_dir).alias("rel"), F.col("content").alias("orig")
    )
    b = SRC.read_binary_dir(spark, out_dir).select(
        _rel_col(out_dir).alias("rel"), F.col("content").alias("restored")
    )
    return a.join(b, "rel", "left").select(
        "rel",
        (F.col("restored").isNotNull() & (F.col("orig") == F.col("restored"))).alias(
            "byte_identical"
        ),
    )
