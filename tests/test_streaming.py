"""Streaming lane: incremental insert+probe equals the batch pipeline, the
file-source checkpoint resumes across runs, and watermarked windows match
their batch values."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from imdedup_plus_spark import candidates as C
from imdedup_plus_spark import signatures as S
from imdedup_plus_spark import streaming as ST
from imdedup_plus_spark.config import DedupConfig

#: huge cap so arrival-time and global bucket-cap semantics coincide — the
#: cap-equality caveat is documented in the streaming module docstring
CFG = DedupConfig(bucket_cap=1_000_000)

PAIR_COLS = ["id_a", "id_b", "n_matching_bands", "n_eq", "inter", "un"]


def _batch_pairs(docs, id_col="url"):
    sig = S.signature_kernel_arrow(docs, CFG, id_col)
    bands = S.explode_bands(sig, CFG, id_col)
    ver = C.verify_pairs_kernel(C.candidate_pairs(bands, CFG, id_col), sig, CFG, id_col)
    return {tuple(r) for r in ver.select(*PAIR_COLS).collect()}


def _halves(fixture_corpus):
    docs = fixture_corpus.select("url", "warc_ts", "html", "text", "lang")
    h1 = docs.where(F.crc32(F.col("url")) % 2 == 0)
    h2 = docs.where(F.crc32(F.col("url")) % 2 == 1)
    return docs, h1, h2


def test_incremental_matches_batch(spark, fixture_corpus, tmp_path):
    docs, h1, h2 = _halves(fixture_corpus)
    state = str(tmp_path / "state")
    ST.incremental_dedup_batch(h1, state, CFG, "url")
    ST.incremental_dedup_batch(h2, state, CFG, "url")
    got = {tuple(r) for r in ST.read_pairs(spark, state).select(*PAIR_COLS).collect()}
    assert got == _batch_pairs(docs)


def test_supersede_recrawl_matches_batch_on_current_corpus(
    spark, fixture_corpus, tmp_path
):
    """Recrawl-aware mode: epoch 1 re-delivers some urls with NEW content
    plus brand-new docs. The current pair set must equal a one-shot batch
    run over the CURRENT corpus (old versions replaced) — retirement
    must remove the dead versions from probes, verification, and bucket
    sizes alike."""
    docs, h1, h2 = _halves(fixture_corpus)
    # recrawl 1/3 of h1's urls with different text; add h2 as new docs
    recrawled = (
        h1.where(F.crc32("url") % 3 == 0)
        .withColumn("text", F.concat(F.lit("rewritten page body "), "text"))
        .withColumn("warc_ts", F.expr("warc_ts + INTERVAL 1 DAY"))
    )
    epoch1 = h2.unionByName(recrawled)
    current = h1.join(
        recrawled.select("url"), "url", "left_anti"
    ).unionByName(epoch1)

    state = str(tmp_path / "state")
    ST.incremental_dedup_batch(h1, state, CFG, "url", epoch_id=0, supersede=True)
    ST.incremental_dedup_batch(epoch1, state, CFG, "url", epoch_id=1, supersede=True)

    got = {
        tuple(r)
        for r in ST.read_pairs(spark, state, current_only=True)
        .select(*PAIR_COLS)
        .collect()
    }
    assert got == _batch_pairs(current)
    # history is preserved: without the filter there are stale pairs too
    assert ST.read_pairs(spark, state).count() >= len(got)
    # tombstones recorded for exactly the recrawled urls that existed
    ret = {r[0] for r in spark.read.parquet(f"{state}/retired").select("url").collect()}
    assert ret == {r[0] for r in recrawled.select("url").collect()}


def test_supersede_bucket_sizes_stay_consistent(spark, fixture_corpus, tmp_path):
    """After retirement the incremental bucket-size rollup (sum of deltas,
    incl. the negative retirement deltas) equals a recount over the LIVE
    band rows."""
    docs, h1, _h2 = _halves(fixture_corpus)
    recrawled = h1.withColumn("text", F.concat(F.lit("v2 "), "text"))
    state = str(tmp_path / "state")
    ST.incremental_dedup_batch(h1, state, CFG, "url", epoch_id=0, supersede=True)
    ST.incremental_dedup_batch(recrawled, state, CFG, "url", epoch_id=1, supersede=True)

    deltas = (
        spark.read.parquet(f"{state}/bucket_deltas")
        .groupBy("band_id", "band_hash")
        .agg(F.sum("delta").alias("bucket_size"))
        .where(F.col("bucket_size") > 0)
    )
    live_sig = S.signature_kernel_arrow(recrawled, CFG, "url")
    live = (
        S.explode_bands(live_sig, CFG, "url")
        .groupBy("band_id", "band_hash")
        .agg(F.count(F.lit(1)).alias("bucket_size"))
    )
    assert sorted(map(tuple, deltas.collect())) == sorted(map(tuple, live.collect()))


def test_supersede_replay_is_idempotent(spark, fixture_corpus, tmp_path):
    docs, h1, _h2 = _halves(fixture_corpus)
    recrawled = h1.withColumn("text", F.concat(F.lit("v2 "), "text"))
    state = str(tmp_path / "state")
    ST.incremental_dedup_batch(h1, state, CFG, "url", epoch_id=0, supersede=True)
    ST.incremental_dedup_batch(recrawled, state, CFG, "url", epoch_id=1, supersede=True)
    before = {
        tuple(r)
        for r in ST.read_pairs(spark, state, current_only=True)
        .select(*PAIR_COLS)
        .collect()
    }
    n_ret = spark.read.parquet(f"{state}/retired").count()
    # clean replay of the committed epoch: everything unchanged
    ST.incremental_dedup_batch(recrawled, state, CFG, "url", epoch_id=1, supersede=True)
    after = {
        tuple(r)
        for r in ST.read_pairs(spark, state, current_only=True)
        .select(*PAIR_COLS)
        .collect()
    }
    assert after == before
    assert spark.read.parquet(f"{state}/retired").count() == n_ret


def test_compact_state_store(spark, fixture_corpus, tmp_path):
    """Physical compaction: dead versions leave the disk, the current
    view is unchanged, and subsequent epochs behave exactly like an
    uncompacted control store."""
    docs, h1, h2 = _halves(fixture_corpus)
    recrawl1 = (
        h1.where(F.crc32("url") % 3 == 0)
        .withColumn("text", F.concat(F.lit("rewritten "), "text"))
    )
    epoch1 = h2.unionByName(recrawl1)
    # a second wave for the post-compaction equivalence check
    recrawl2 = (
        h2.where(F.crc32("url") % 5 == 0)
        .withColumn("text", F.concat(F.lit("again rewritten "), "text"))
    )

    state = str(tmp_path / "state")
    control = str(tmp_path / "control")
    for s in (state, control):
        ST.incremental_dedup_batch(h1, s, CFG, "url", epoch_id=0, supersede=True)
        ST.incremental_dedup_batch(epoch1, s, CFG, "url", epoch_id=1, supersede=True)

    before = {
        tuple(r)
        for r in ST.read_pairs(spark, state, current_only=True)
        .select(*PAIR_COLS)
        .collect()
    }
    n_recrawled = recrawl1.count()
    stats = ST.compact_state_store(spark, state, "url")
    assert stats["n_superseded_ids"] == n_recrawled
    import os

    assert not os.path.exists(f"{state}/retired")
    # stale pairs physically gone: plain read == current read == before
    plain = {
        tuple(r) for r in ST.read_pairs(spark, state).select(*PAIR_COLS).collect()
    }
    assert plain == before
    assert {
        tuple(r)
        for r in ST.read_pairs(spark, state, current_only=True)
        .select(*PAIR_COLS)
        .collect()
    } == before
    # dead band rows physically gone: store count == live corpus band count
    current1 = h1.join(recrawl1.select("url"), "url", "left_anti").unionByName(epoch1)
    live_bands = S.explode_bands(
        S.signature_kernel_arrow(current1, CFG, "url"), CFG, "url"
    )
    assert spark.read.parquet(f"{state}/bands").count() == live_bands.count()
    # idempotent: nothing left to remove (the legacy n_removed_versions
    # alias — one-release compatibility, ADVICE r03 — mirrors the value)
    assert ST.compact_state_store(spark, state, "url") == {
        "n_superseded_ids": 0,
        "n_removed_versions": 0,
    }

    # subsequent epoch: compacted store == uncompacted control
    for s in (state, control):
        ST.incremental_dedup_batch(recrawl2, s, CFG, "url", epoch_id=2, supersede=True)
    got = {
        tuple(r)
        for r in ST.read_pairs(spark, state, current_only=True)
        .select(*PAIR_COLS)
        .collect()
    }
    want = {
        tuple(r)
        for r in ST.read_pairs(spark, control, current_only=True)
        .select(*PAIR_COLS)
        .collect()
    }
    assert got == want
    # and both equal the batch truth over the final corpus
    current2 = current1.join(
        recrawl2.select("url"), "url", "left_anti"
    ).unionByName(recrawl2)
    assert got == _batch_pairs(current2)


def test_supersede_rejects_duplicate_ids_in_batch(spark, fixture_corpus, tmp_path):
    docs, h1, _h2 = _halves(fixture_corpus)
    dup = h1.limit(4).unionByName(h1.limit(4))
    with pytest.raises(ValueError, match="duplicate ids"):
        ST.incremental_dedup_batch(
            dup, str(tmp_path / "state"), CFG, "url", epoch_id=0, supersede=True
        )


def test_stream_file_source_and_resume(spark, fixture_corpus, tmp_path):
    """Two stream invocations over a growing input dir: the second run's
    checkpoint skips already-processed files, and the union of emitted
    pairs equals the batch pipeline on the full corpus."""
    docs, h1, h2 = _halves(fixture_corpus)
    input_dir = str(tmp_path / "input")
    state = str(tmp_path / "state")

    h1.write.mode("append").parquet(input_dir)
    ST.run_incremental_stream(spark, input_dir, state, CFG, "url")
    n_after_first = ST.read_pairs(spark, state).count()

    h2.write.mode("append").parquet(input_dir)
    ST.run_incremental_stream(spark, input_dir, state, CFG, "url")

    got = {tuple(r) for r in ST.read_pairs(spark, state).select(*PAIR_COLS).collect()}
    assert got == _batch_pairs(docs)
    # resume really was incremental: run 1 emitted only intra-h1 pairs
    h1_ids = {r["url"] for r in h1.select("url").collect()}
    intra_h1 = {t for t in got if t[0] in h1_ids and t[1] in h1_ids}
    assert n_after_first == len(intra_h1)


def test_rerun_with_no_new_files_is_noop(spark, fixture_corpus, tmp_path):
    _, h1, _ = _halves(fixture_corpus)
    input_dir = str(tmp_path / "input")
    state = str(tmp_path / "state")
    h1.write.mode("append").parquet(input_dir)
    ST.run_incremental_stream(spark, input_dir, state, CFG, "url")
    n1 = ST.read_pairs(spark, state).count()
    ST.run_incremental_stream(spark, input_dir, state, CFG, "url")
    assert ST.read_pairs(spark, state).count() == n1


@pytest.mark.filterwarnings("ignore::ResourceWarning")
def test_windowed_event_counts_append_stream(spark, tmp_path):
    """Time-ordered arrival (the file source drains oldest-modtime first):
    every window the watermark closes must carry exactly its batch count;
    only the tail windows still within the watermark delay are withheld."""
    import time

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    input_dir = str(tmp_path / "events_in")
    q4 = events.withColumn("q", F.ntile(4).over(Window.orderBy("ts")))
    for i in range(1, 5):
        q4.where(F.col("q") == i).drop("q").coalesce(1).write.mode("append").parquet(input_dir)
        time.sleep(1.1)

    stream = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    out = ST.windowed_event_counts(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = spark.sql("SELECT * FROM win_counts").collect()
    assert emitted, "multi-batch stream should close at least one window"

    batch = {
        (r["window_start"], r["window_end"], r["event_type"]): r["n_events"]
        for r in ST.windowed_event_counts(events).collect()
    }
    for r in emitted:
        key = (r["window_start"], r["window_end"], r["event_type"])
        assert batch[key] == r["n_events"]


def test_incremental_hotwindow_recall(spark, fixture_corpus, tmp_path):
    """With a tiny cap most buckets go hot; the incremental warm-tier
    probe must keep planted recall where drop-only would lose pairs."""
    from imdedup_plus_spark import clustering as CL, fixtures as FX

    cfg = DedupConfig(bucket_cap=4, hot_window=4, mega_cap=10**6)
    docs, h1, h2 = _halves(fixture_corpus)
    state = str(tmp_path / "state")
    ST.incremental_dedup_batch(h1, state, cfg, "url")
    ST.incremental_dedup_batch(h2, state, cfg, "url")
    pairs = ST.read_pairs(spark, state)

    sig = S.signature_kernel_arrow(docs, cfg, "url")
    cl = CL.clusters_from_pairs(sig, pairs, "url")
    exp = FX.expected_dup_pairs(fixture_corpus)
    n_exp = exp.count()
    ca = cl.select(F.col("url").alias("url_a"), F.col("cluster_id").alias("ca"))
    cb = cl.select(F.col("url").alias("url_b"), F.col("cluster_id").alias("cb"))
    hit = exp.join(ca, "url_a").join(cb, "url_b").where("ca = cb").count()
    assert hit / n_exp >= 0.99, f"incremental hot-window recall {hit}/{n_exp}"


def test_incremental_replay_is_idempotent(spark, fixture_corpus, tmp_path):
    """foreachBatch is at-least-once: a replayed epoch (manifest present ->
    no-op; manifest missing -> dynamic overwrite rewrite) must leave every
    store with exactly the same content — no duplicated pairs, no inflated
    bucket sizes."""
    import os

    docs, h1, h2 = _halves(fixture_corpus)
    state = str(tmp_path / "state")
    ST.incremental_dedup_batch(h1, state, CFG, "url", epoch_id=0)
    ST.incremental_dedup_batch(h2, state, CFG, "url", epoch_id=1)
    pairs0 = sorted(
        tuple(r) for r in ST.read_pairs(spark, state).select(*PAIR_COLS).collect()
    )
    n_bands0 = spark.read.parquet(f"{state}/bands").count()
    sizes0 = sorted(
        tuple(r)
        for r in spark.read.parquet(f"{state}/bucket_deltas")
        .groupBy("band_id", "band_hash")
        .agg(F.sum("delta").alias("sz"))
        .collect()
    )

    # clean replay: manifest exists -> skip
    ST.incremental_dedup_batch(h2, state, CFG, "url", epoch_id=1)
    # crash replay: manifest lost after partial writes -> rewrite, not append
    os.remove(ST._epoch_manifest(state, 1))
    ST.incremental_dedup_batch(h2, state, CFG, "url", epoch_id=1)

    pairs1 = sorted(
        tuple(r) for r in ST.read_pairs(spark, state).select(*PAIR_COLS).collect()
    )
    assert pairs1 == pairs0
    assert spark.read.parquet(f"{state}/bands").count() == n_bands0
    sizes1 = sorted(
        tuple(r)
        for r in spark.read.parquet(f"{state}/bucket_deltas")
        .groupBy("band_id", "band_hash")
        .agg(F.sum("delta").alias("sz"))
        .collect()
    )
    assert sizes1 == sizes0
    assert pairs1 == sorted(_batch_pairs(docs))


def test_incremental_probe_is_partition_pruned(spark, fixture_corpus, tmp_path):
    """The probe's state read must touch only the bh_part partitions the
    new batch hashes into — file-level proof via input_file_name()."""
    docs, h1, _ = _halves(fixture_corpus)
    state = str(tmp_path / "state")
    ST.incremental_dedup_batch(h1, state, CFG, "url", epoch_id=0)

    # a one-doc batch touches at most n_bands bh_parts
    one = docs.orderBy("url").limit(1)
    from imdedup_plus_spark import signatures as S2

    sig1 = S2.signature_kernel_arrow(one, CFG, "url")
    bands1 = S2.explode_bands(sig1, CFG, "url").withColumn(
        "bh_part",
        F.pmod(F.xxhash64("band_id", "band_hash"), F.lit(ST.DEFAULT_N_PARTS)).cast("int"),
    )
    touched = {r[0] for r in bands1.select("bh_part").distinct().collect()}
    assert len(touched) <= CFG.n_bands

    store = spark.read.parquet(f"{state}/bands")
    read_files = {
        r[0]
        for r in store.where(F.col("bh_part").isin(list(touched)))
        .select(F.input_file_name())
        .distinct()
        .collect()
    }
    all_files = {r[0] for r in store.select(F.input_file_name()).distinct().collect()}
    assert read_files < all_files, "pruned read must touch a strict file subset"
    for f in read_files:
        assert any(f"bh_part={t}/" in f for t in touched)


# --- incremental cluster maintenance over the streaming state -----------


def _thirds(fixture_corpus):
    docs = fixture_corpus.select("url", "warc_ts", "html", "text", "lang")
    return docs, [docs.where(F.crc32(F.col("url")) % 3 == k) for k in range(3)]


def test_cluster_store_matches_batch_clusters(spark, fixture_corpus, tmp_path):
    """Fold each wave's pairs into the cluster store as it commits; the
    maintained assignment must be bit-identical to a one-shot batch
    clusters_from_pairs over the full corpus and the accumulated pairs."""
    from imdedup_plus_spark import clustering as CL

    docs, waves = _thirds(fixture_corpus)
    state = str(tmp_path / "state")
    for k, w in enumerate(waves):
        ST.incremental_dedup_batch(w, state, CFG, "url", epoch_id=k)
        folded = ST.update_cluster_store(spark, state, "url")
        assert folded == [k]

    got = {
        (r.url, r.cluster_id)
        for r in ST.read_clusters(spark, state, "url").collect()
    }
    sig = S.signature_kernel_arrow(docs, CFG, "url")
    ver = ST.read_pairs(spark, state)
    want = {
        (r.url, r.cluster_id)
        for r in CL.clusters_from_pairs(sig, ver, "url").collect()
    }
    assert got == want
    # every signed doc has exactly one row
    assert len(got) == sig.count()


def test_cluster_store_fold_is_idempotent_and_lazy(spark, fixture_corpus, tmp_path):
    """Folding with no new pairs epochs is a no-op; folding after TWO new
    epochs catches up in order; a re-fold changes nothing."""
    docs, waves = _thirds(fixture_corpus)
    state = str(tmp_path / "state")
    ST.incremental_dedup_batch(waves[0], state, CFG, "url", epoch_id=0)
    assert ST.update_cluster_store(spark, state, "url") == [0]
    assert ST.update_cluster_store(spark, state, "url") == []  # no-op

    ST.incremental_dedup_batch(waves[1], state, CFG, "url", epoch_id=1)
    ST.incremental_dedup_batch(waves[2], state, CFG, "url", epoch_id=2)
    assert ST.update_cluster_store(spark, state, "url") == [1, 2]

    before = sorted(ST.read_clusters(spark, state, "url").collect())
    assert ST.update_cluster_store(spark, state, "url") == []
    assert sorted(ST.read_clusters(spark, state, "url").collect()) == before


def test_cluster_store_compaction(spark, fixture_corpus, tmp_path):
    """Compaction rewrites the store as resolved base + empty snapshot:
    read_clusters is unchanged, the snapshot is bounded to zero rows, and
    folds after compaction still match the batch recompute."""
    from imdedup_plus_spark import clustering as CL

    docs, waves = _thirds(fixture_corpus)
    state = str(tmp_path / "state")
    ST.incremental_dedup_batch(waves[0], state, CFG, "url", epoch_id=0)
    ST.incremental_dedup_batch(waves[1], state, CFG, "url", epoch_id=1)
    ST.update_cluster_store(spark, state, "url")
    before = sorted(ST.read_clusters(spark, state, "url").collect())

    n = ST.compact_cluster_store(spark, state, "url")
    assert n == len(before)
    assert sorted(ST.read_clusters(spark, state, "url").collect()) == before
    snap = spark.read.parquet(f"{state}/cluster_remap")
    assert snap.count() == 0
    # compaction is idempotent
    assert ST.compact_cluster_store(spark, state, "url") == n

    # folds keep working on the compacted store, still batch-identical
    ST.incremental_dedup_batch(waves[2], state, CFG, "url", epoch_id=2)
    assert ST.update_cluster_store(spark, state, "url") == [2]
    got = {
        (r.url, r.cluster_id)
        for r in ST.read_clusters(spark, state, "url").collect()
    }
    sig = S.signature_kernel_arrow(docs, CFG, "url")
    want = {
        (r.url, r.cluster_id)
        for r in CL.clusters_from_pairs(
            sig, ST.read_pairs(spark, state), "url"
        ).collect()
    }
    assert got == want


def test_compaction_swap_recovery(spark, fixture_corpus, tmp_path):
    """Crash between the two renames of a swap (live moved away, staged
    not yet moved in): re-running compact_cluster_store finishes the swap
    before doing anything else, and the store reads back identically."""
    import os
    import shutil

    docs, waves = _thirds(fixture_corpus)
    state = str(tmp_path / "state")
    ST.incremental_dedup_batch(waves[0], state, CFG, "url", epoch_id=0)
    ST.incremental_dedup_batch(waves[1], state, CFG, "url", epoch_id=1)
    ST.update_cluster_store(spark, state, "url")
    ST.compact_cluster_store(spark, state, "url")
    before = sorted(ST.read_clusters(spark, state, "url").collect())

    # simulate the crash window: staged dir complete (marker present),
    # live dir already moved away
    base = f"{state}/clusters_base"
    shutil.copytree(base, base + ".compact")
    open(os.path.join(base + ".compact", "_SUCCESS_STAGED"), "w").close()
    shutil.rmtree(base)

    n = ST.compact_cluster_store(spark, state, "url")
    assert n == len(before)
    assert sorted(ST.read_clusters(spark, state, "url").collect()) == before
