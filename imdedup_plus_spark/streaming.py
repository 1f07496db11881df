"""Structured Streaming lane: incremental near-dup detection over arriving
document micro-batches, plus watermarked event-time aggregation.

The reference is a bounded batch job — its "streaming" is pthread stage
pipelining (``/root/reference/idedup.c:832-924``), and each batch gets
*fresh* feature tables (``idedup.c:824-830``), so late arrivals never match
earlier batches. What a continuously-crawled corpus actually needs is the
opposite: every arriving batch must be probed against the **accumulated**
index. This module recasts the reference's insert+probe detection loop
(``/root/reference/2df.c:458-516``: probe ``featureT[i]`` for candidates,
then insert self) as incremental DataFrame dataflow:

* per micro-batch: signature-sketch the new docs (Arrow kernel), LSH-probe
  their bands against the band store (old ∪ new), verify candidates by
  exact Jaccard, append verified pairs + the new signatures/bands to the
  stores;
* state lives in parquet stage stores (Iceberg tables on a real cluster —
  the same layout as ``pipeline.py``'s checkpointed stages), NOT in Spark's
  in-memory state store: at 10^12 docs the band index must be a table with
  partition pruning, not executor heap, and ``foreachBatch`` is the
  supported pattern for table-backed streaming state;
* **partition-pruned probes**: the band store is hash-partitioned on
  ``bh_part = pmod(xxhash64(band_id, band_hash), n_parts)`` and the
  signature store on ``id_part = pmod(xxhash64(id), n_parts)``, so each
  micro-batch reads only the store partitions its own keys hash into —
  probe I/O is proportional to the batch, not to the accumulated corpus;
  a per-epoch delta table (one row per touched bucket per epoch) keeps
  each bucket's live size as a sum, readable without a band-store scan;
* **idempotent replays**: ``foreachBatch`` is at-least-once, so every
  state write is partitioned by ``epoch``; a replay first CLEARS the
  epoch's partitions (a crashed attempt may have left partials — possibly
  for a different batch) and then rewrites them (no duplicated pairs, no
  inflated bucket sizes). A per-epoch manifest recording the epoch's
  **batch fingerprint** is written after all four stores commit: a clean
  replay of the same batch short-circuits to a no-op, while an epoch
  NUMBER collision with a different batch (checkpoint/state_dir mismatch)
  raises instead of silently dropping data; consumers (``read_pairs``)
  only see manifest-committed epochs.

Pairing is the batch walker's (``candidates._walk_buckets``): each epoch
walks the stored band rows of the touched buckets together with the
arriving ones, flagged new, and keeps the emissions with a new member. A
bucket maps to one ``bh_part``, so a run holds the bucket's live members
at arrival and is tiered by that size — the reference's featureT probe
likewise sees state as of arrival. Incremental output == batch output
**in the uncapped case** (no bucket ever crosses ``bucket_cap``): a pair
(a, b) is emitted exactly when its later member arrives, with the same
``n_matching_bands``, verification arithmetic, and size-ratio prune as
the batch path — ``tests/test_streaming.py`` asserts set equality
against the batch pipeline. Under SCALE_CONFIG caps a bucket that
crosses the cap mid-stream yields a pair set that differs from a
one-shot batch run (warm-tier rank adjacency is evaluated at arrival,
not at end state) but keeps the same recall property: group members
keep near-equal set sizes at every prefix of the stream, and
``tests/test_streaming.py`` checks planted recall through this path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import candidates as C
from . import signatures as S
from .config import DedupConfig


def _store_exists(spark: SparkSession, path: str) -> bool:
    try:
        spark.read.parquet(path).limit(1).collect()
        return True
    except Exception:
        return False


#: state-store hash-partition fan-out. At sandbox scale 64 keeps partition
#: counts sane; at 10^12 docs raise it (or use Iceberg bucket partitioning)
#: so one partition holds ~store_size/n_parts rows.
DEFAULT_N_PARTS = 64


def _dyn_overwrite(df: DataFrame, path: str, part_cols: list[str]) -> None:
    """Dynamic partition overwrite: only the partitions present in ``df``
    are replaced — the idempotency primitive (a replayed epoch rewrites
    its own ``epoch=...`` partitions and touches nothing else)."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*part_cols)
        .parquet(path)
    )


def _epoch_manifest(state_dir: str, epoch_id: int) -> str:
    import os

    return os.path.join(state_dir, "_epochs", f"epoch_{epoch_id:012d}.json")


def processed_epochs(state_dir: str) -> list[int]:
    import glob
    import os

    return sorted(
        int(os.path.basename(p)[6:-5])
        for p in glob.glob(os.path.join(state_dir, "_epochs", "epoch_*.json"))
    )


def _retired_view(
    spark: SparkSession, state_dir: str, exclude_epoch: int | None = None
) -> DataFrame | None:
    """(id, retired_epoch) — the latest retirement per superseded id, from
    committed state (optionally excluding an in-flight epoch's partials).
    None when nothing was ever retired. The table holds only ids that were
    ever recrawled — a compact dimension relative to the corpus (at
    extreme scale swap the join below for a bloom-filter broadcast)."""
    store = f"{state_dir}/retired"
    if not _store_exists(spark, store):
        return None
    # committed epochs only: a crashed attempt's tombstone partials must
    # not retire anything until its epoch's manifest lands
    df = spark.read.parquet(store).where(
        F.col("epoch").isin(processed_epochs(state_dir))
    )
    if exclude_epoch is not None:
        df = df.where(F.col("epoch") != exclude_epoch)
    return df.groupBy(df.columns[0]).agg(F.max("epoch").alias("retired_epoch"))


def _exclude_retired(
    df: DataFrame, retired: DataFrame | None, id_col: str
) -> DataFrame:
    """Drop rows of superseded versions: a state row written at ``epoch``
    is dead iff its id was retired at a LATER epoch (the retirement epoch
    itself carries the id's new live version). ``df`` must carry its
    ``epoch`` column."""
    if retired is None:
        return df
    r = retired.withColumnRenamed(retired.columns[0], "__rid__")
    return (
        df.join(r, df[id_col] == r["__rid__"], "left")
        .where(F.col("retired_epoch").isNull() | (df["epoch"] >= F.col("retired_epoch")))
        .drop("__rid__", "retired_epoch")
    )


def incremental_dedup_batch(
    batch_df: DataFrame,
    state_dir: str,
    cfg: DedupConfig,
    id_col: str = "url",
    epoch_id: int | None = None,
    n_parts: int = DEFAULT_N_PARTS,
    supersede: bool = False,
    track_distinct: bool = False,
) -> None:
    """One micro-batch of the insert+probe loop (callable directly or from
    ``foreachBatch``): sketch new docs, probe the band store, verify, and
    commit pairs + new state. Stores under ``state_dir``:

    * ``bands/``        partitioned (epoch, bh_part) — the LSH index
    * ``bucket_deltas/``partitioned (epoch, bh_part) — per-epoch bucket
      size increments (one row per touched bucket); their sum per bucket
      is the live bucket size
    * ``signatures/``   partitioned (epoch, id_part)
    * ``pairs/``        partitioned (epoch) — the output
    * ``retired/``      partitioned (epoch, id_part) — tombstones: ids
      whose pre-existing version this epoch superseded (recrawls)
    * ``distinct_sketch/`` partitioned (epoch), only with
      ``track_distinct=True`` — the batch's KMV bottom-k shingle sketch
      (``metrics.kmv_bottomk_kernel``; <= KMV_EST_K rows of ``h``).
      KMV sketches merge exactly (bottom-k of a union == bottom-k of
      the union of bottom-k's), so ``read_distinct_estimate`` folds all
      epochs into the same row the batch estimator would produce over
      the full ingested corpus — bit-exact, O(k) per epoch. Semantics
      are union-over-INGESTED versions: supersede retirement does not
      subtract (KMV sketches are not deletable), so the estimate reads
      "distinct shingles ever crawled", and ``compact_state_store``
      leaves it untouched. Cost when ``cfg.verify_sketch_k > 0``: the
      stored sets are per-doc-truncated (biased under the spreading
      permutation), so the sketch is computed from one extra
      untruncated signature pass over the batch (narrow, no shuffle;
      fusing it into the signature kernel is the zero-cost variant a
      production build would pick)
    * ``hll_registers/`` partitioned (epoch), only with
      ``track_distinct=True`` — the batch's HLL register table
      (``metrics.hll_registers_kernel``; <= HLL_M ``(j, r)`` rows).
      Registers merge by elementwise MAX, so ``read_distinct_hll``
      folds all epochs with one bounded groupBy max — the cheaper
      sibling of the KMV fold (no distinct/sort/limit), same
      union-over-ingested semantics
    * ``_epochs/``      one manifest json per committed epoch, written
      LAST — the write-ahead ordering that makes a clean replay a no-op
      (with ``track_distinct`` it also carries the batch's valid-doc and
      shingle-volume totals for the estimate's denominator)

    ``supersede=True`` is the recrawl-aware mode (the Common-Crawl shape:
    ``id_col`` is the canonical URL and a page can arrive again with new
    content). An arriving id that already has a live version in the store
    RETIRES it: a tombstone row is written, the old version's bands are
    re-derived from its stored signature (partition-pruned by id_part —
    never a band-store scan; ``explode_bands`` is deterministic) and
    cancelled out of the bucket-size deltas, and every state read —
    probe bands, verify signatures, bucket sizes — excludes versions
    retired at an earlier epoch. Invariant under consistent use: at most
    one live version per id, so the current pair set equals a batch run
    over the current corpus (tests/test_streaming.py asserts equality).
    Collapse same-id rows WITHIN a batch first (weburl.latest_revision);
    a batch with duplicate ids raises. Pairs already emitted against a
    now-retired version stay on disk as history — ``read_pairs(...,
    current_only=True)`` filters them; the incremental cluster fold is
    append-only by design, so retirement-induced cluster splits surface
    only after a full recompute (the compaction analog, documented in
    update_cluster_store).

    Idempotency (foreachBatch is at-least-once): the manifest records the
    batch FINGERPRINT (row count + id-hash sum), so a clean replay of a
    committed epoch no-ops while an epoch-number collision with a
    different batch raises; an uncommitted epoch's partitions are cleared
    before writing (a crashed attempt may have written partials for a
    different batch, which dynamic overwrite alone would orphan); prior
    epochs are explicitly excluded from the state reads (``epoch !=
    epoch_id`` guards against reading this epoch's own partial leftovers
    during a replay).

    Probe I/O is proportional to the batch: the band store is read only
    for the ``bh_part`` values the new batch's bands hash into, and the
    signature store only for the ``id_part`` values of
    verified-candidate members — both are partition columns, so Spark
    prunes at file-listing time (PLANS.md shows the PartitionFilters).
    """
    import json
    import os
    import shutil

    spark = batch_df.sparkSession
    sig_store = f"{state_dir}/signatures"
    bands_store = f"{state_dir}/bands"
    deltas_store = f"{state_dir}/bucket_deltas"
    pairs_store = f"{state_dir}/pairs"
    retired_store = f"{state_dir}/retired"
    sketch_store = f"{state_dir}/distinct_sketch"
    stores = (
        pairs_store, bands_store, deltas_store, sig_store, retired_store,
        sketch_store,
    )

    if epoch_id is None:
        done = processed_epochs(state_dir)
        epoch_id = (done[-1] + 1) if done else 0

    # Batch identity, not just the epoch NUMBER: a committed manifest
    # short-circuits a replay only when it was the SAME batch (one cheap
    # narrow scan of the id column). Without this, a fresh stream
    # checkpoint pointed at an existing state_dir restarts epochs at 0 and
    # every new batch would silently no-op against the old manifests.
    # bit_xor, not sum: order-independent like sum but cannot overflow
    # under ANSI mode (sum of ~uniform int64 hashes overflows at ~2 rows)
    fp_row = batch_df.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"bit_xor(xxhash64({id_col}))").alias("h"),
        F.countDistinct(id_col).alias("n_ids"),
    ).collect()[0]
    batch_fp = f"{fp_row['n']}:{fp_row['h']}"
    if supersede and fp_row["n"] != fp_row["n_ids"]:
        raise ValueError(
            f"supersede batch has duplicate ids ({fp_row['n']} rows, "
            f"{fp_row['n_ids']} distinct {id_col}): collapse within-batch "
            "revisions first (weburl.latest_revision)"
        )

    manifest = _epoch_manifest(state_dir, epoch_id)
    if os.path.exists(manifest):
        with open(manifest) as fh:
            committed = json.load(fh)
        if committed.get("batch_fp") == batch_fp:
            return  # clean replay of a committed epoch: no-op
        raise ValueError(
            f"epoch {epoch_id} is already committed for a DIFFERENT batch "
            f"(manifest fp {committed.get('batch_fp')!r} != {batch_fp!r}): "
            "the stream checkpoint and the state_dir are out of sync — "
            "reuse the original checkpoint dir or start a fresh state_dir"
        )

    # A crashed epoch may have left partial partitions; a replay can carry
    # a DIFFERENT batch (e.g. direct-call flow with new inputs), and
    # dynamic overwrite only rewrites the partitions present in the new
    # batch — clear the whole epoch first so no orphan (epoch, bh_part)
    # slice from the crashed attempt survives into the committed state.
    for store in stores:
        shutil.rmtree(os.path.join(store, f"epoch={epoch_id}"), ignore_errors=True)

    sig_new = S.signature_kernel_arrow(batch_df, cfg, id_col)
    sig_new = sig_new.localCheckpoint(eager=True)  # compute once: probed AND written
    bands_new = S.explode_bands(sig_new, cfg, id_col).withColumn(
        "bh_part", F.pmod(F.xxhash64("band_id", "band_hash"), F.lit(n_parts)).cast("int")
    )
    bands_new = bands_new.localCheckpoint(eager=True)
    deltas_new = bands_new.groupBy("band_id", "band_hash", "bh_part").agg(
        F.count(F.lit(1)).cast("long").alias("delta")
    )

    id_part = lambda c: F.pmod(F.xxhash64(F.col(c)), F.lit(n_parts)).cast("int")
    retired = _retired_view(spark, state_dir, exclude_epoch=epoch_id)
    retired_new = None
    if supersede and _store_exists(spark, sig_store):
        # prior LIVE versions of this batch's ids: partition-pruned read of
        # the signature store by the batch ids' id_part values, semi-joined
        # to the batch, minus versions already retired earlier. The scan
        # projects ONLY (id, sig, epoch) — the minhash array is all band
        # re-derivation needs (negative deltas count rows; n_set is never
        # used), so the heavy shingle_set column is column-pruned away:
        # measured on a SCALE_CONFIG store, (id, sig) is ~20% of the
        # parquet bytes (shingle_set alone 79%, KMV bottom-64 truncated;
        # untruncated stores skew further), so the supersede probe reads
        # ~a fifth of what an unpruned scan would.
        # On a table bucketed by id (Iceberg ``bucket(N, id)``) the same
        # lookup is a bucket-local sorted probe instead of a scan.
        bid_parts = [
            r[0]
            for r in sig_new.select(id_part(id_col).alias("p")).distinct().collect()
        ]
        prior = (
            spark.read.parquet(sig_store)
            .where(F.col("id_part").isin(bid_parts) & (F.col("epoch") != epoch_id))
            .select(id_col, "sig", "epoch")
            .join(sig_new.select(id_col), id_col, "leftsemi")
        )
        prior = _exclude_retired(prior, retired, id_col)
        prior = prior.localCheckpoint(eager=True)  # re-used: tombstones + neg deltas
        if prior.limit(1).count() > 0:
            retired_new = prior.select(id_col).distinct()
            # the dead version's bands, re-derived deterministically from its
            # signature — cancel them out of the bucket sizes as of THIS epoch
            dead_bands = S.explode_bands(
                prior.select(id_col, "sig"), cfg, id_col
            ).withColumn(
                "bh_part",
                F.pmod(F.xxhash64("band_id", "band_hash"), F.lit(n_parts)).cast("int"),
            )
            neg_deltas = dead_bands.groupBy("band_id", "band_hash", "bh_part").agg(
                (-F.count(F.lit(1))).cast("long").alias("delta")
            )
            deltas_new = deltas_new.unionByName(neg_deltas)
            retired = (
                retired.unionByName(
                    retired_new.withColumn("retired_epoch", F.lit(epoch_id))
                ).groupBy(id_col).agg(F.max("retired_epoch").alias("retired_epoch"))
                if retired is not None
                else retired_new.withColumn("retired_epoch", F.lit(epoch_id))
            )

    touched = [r[0] for r in bands_new.select("bh_part").distinct().collect()]
    band_cols = [c for c in bands_new.columns if c != "bh_part"]

    # probe, then insert: the live stored rows of the touched buckets walk
    # with the arriving ones (a bucket maps to one bh_part, so each run is
    # the whole bucket at arrival) and only pairs with a new member emit
    walked = bands_new.select(*band_cols, F.lit(True).alias("is_new"))
    if _store_exists(spark, bands_store):
        old_bands = _exclude_retired(
            spark.read.parquet(bands_store)
            .where(F.col("bh_part").isin(touched) & (F.col("epoch") != epoch_id))
            .select(*band_cols, "epoch"),
            retired,
            id_col,
        ).select(*band_cols, F.lit(False).alias("is_new"))
        walked = old_bands.unionByName(walked)
    cand = (
        C._walk_buckets(walked, cfg, id_col, new_col="is_new")
        .groupBy("id_a", "id_b")
        .agg(F.countDistinct("band_id").cast("long").alias("n_matching_bands"))
        .localCheckpoint(eager=True)
    )

    if _store_exists(spark, sig_store):
        need_parts = [
            r[0]
            for r in cand.select(id_part("id_a").alias("p"))
            .union(cand.select(id_part("id_b").alias("p")))
            .distinct()
            .collect()
        ]
        sig_cols = sig_new.columns
        old_sigs = _exclude_retired(
            spark.read.parquet(sig_store)
            .where(F.col("id_part").isin(need_parts) & (F.col("epoch") != epoch_id))
            .select(*sig_cols, "epoch"),
            retired,
            id_col,
        ).select(*sig_cols)
        sig_all = old_sigs.unionByName(sig_new)
    else:
        sig_all = sig_new
    ver = C.verify_pairs_kernel(cand, sig_all, cfg, id_col)

    _dyn_overwrite(ver.withColumn("epoch", F.lit(epoch_id)), pairs_store, ["epoch"])
    _dyn_overwrite(
        bands_new.withColumn("epoch", F.lit(epoch_id)),
        bands_store,
        ["epoch", "bh_part"],
    )
    _dyn_overwrite(
        deltas_new.withColumn("epoch", F.lit(epoch_id)),
        deltas_store,
        ["epoch", "bh_part"],
    )
    _dyn_overwrite(
        sig_new.withColumn("id_part", id_part(id_col)).withColumn(
            "epoch", F.lit(epoch_id)
        ),
        sig_store,
        ["epoch", "id_part"],
    )
    sketch_stats = None
    if track_distinct:
        import dataclasses as _dc

        from . import metrics as M

        sig_sk = (
            sig_new  # already checkpointed above
            if cfg.verify_sketch_k == 0
            else S.signature_kernel_arrow(
                batch_df, _dc.replace(cfg, verify_sketch_k=0), id_col
            ).localCheckpoint(eager=True)  # compute once: sketch AND totals
        )
        _dyn_overwrite(
            M.kmv_bottomk_kernel(sig_sk).withColumn("epoch", F.lit(epoch_id)),
            sketch_store,
            ["epoch"],
        )
        # the HLL register sibling: <= HLL_M (j, r) rows per epoch,
        # folded by MAX at read time (metrics.py merge law) — the
        # cheapest distinct summary a state store can carry
        _dyn_overwrite(
            M.hll_registers_kernel(sig_sk).withColumn(
                "epoch", F.lit(epoch_id)
            ),
            f"{state_dir}/hll_registers",
            ["epoch"],
        )
        t = M._kmv_totals(sig_sk).collect()[0]
        from .config import KMV_EST_K

        sketch_stats = {
            "k": KMV_EST_K,
            "hll_m": M.HLL_M,
            "n_docs": int(t["n_docs"]),
            "n_doc_shingles": int(t["n_doc_shingles"] or 0),
        }

    n_retired = 0
    if retired_new is not None:
        n_retired = retired_new.count()
        _dyn_overwrite(
            retired_new.withColumn("id_part", id_part(id_col)).withColumn(
                "epoch", F.lit(epoch_id)
            ),
            retired_store,
            ["epoch", "id_part"],
        )

    os.makedirs(os.path.dirname(manifest), exist_ok=True)
    tmp = manifest + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(
            {
                "epoch": epoch_id,
                "batch_fp": batch_fp,
                "touched_bh_parts": sorted(touched),
                "n_retired": n_retired,
                **({"sketch": sketch_stats} if sketch_stats else {}),
            },
            fh,
        )
    os.replace(tmp, manifest)


def run_incremental_stream(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    cfg: DedupConfig,
    id_col: str = "url",
    schema: str = "url string, warc_ts timestamp, html binary, text string, lang string",
    max_files_per_trigger: int | None = None,
    n_parts: int = DEFAULT_N_PARTS,
    supersede: bool = False,
    track_distinct: bool = False,
) -> None:
    """Drain all currently-available files under ``input_dir`` through the
    incremental loop (``Trigger.AvailableNow``) and stop. Re-invoking after
    new files land processes only the new ones — the stream checkpoint
    under ``state_dir/_stream_checkpoint`` carries source progress across
    runs (the kill-and-resume story of the north rule, streaming edition).
    ``supersede=True`` is the recrawl-aware mode (see
    ``incremental_dedup_batch``); batches must be id-unique — collapse
    within-batch revisions upstream with ``weburl.latest_revision``.
    """
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_dir)

    def _fb(batch_df: DataFrame, epoch: int) -> None:
        if batch_df.isEmpty():
            return
        incremental_dedup_batch(
            batch_df, state_dir, cfg, id_col, epoch_id=epoch, n_parts=n_parts,
            supersede=supersede, track_distinct=track_distinct,
        )

    q = (
        stream.writeStream.foreachBatch(_fb)
        .option("checkpointLocation", f"{state_dir}/_stream_checkpoint")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def update_cluster_store(
    spark: SparkSession,
    state_dir: str,
    id_col: str = "url",
) -> list[int]:
    """Fold every committed-but-unfolded pairs epoch into an incrementally
    maintained cluster assignment; returns the epochs folded this call.
    After folding, ``read_clusters`` equals a full batch
    ``clusters_from_pairs`` over all docs and pairs seen so far
    (tests/test_streaming.py asserts bit-equality).

    The reference's grouping is implicit base->target chaining within one
    batch (``/root/reference/2df.c:459-498``); a continuous crawl needs
    the accumulated grouping maintained across batches without recomputing
    components over the ever-growing pair set. State, under ``state_dir``:

    * ``clusters_base/epoch=k`` — (id, label0): one row per doc first seen
      in epoch k, labeled as of that epoch's merges. Append-only, O(batch)
      per epoch.
    * ``cluster_remap/epoch=k`` — the CUMULATIVE (old_label -> new_label)
      snapshot after epoch k, rows only for labels that ever changed (=
      merge events, not docs). Composing it with epoch k's quotient-CC
      delta (``clustering.merge_remap``) is a map-side broadcast join plus
      a union: delta old-labels are current labels while snapshot
      old-labels are permanently retired ones (labels are component
      min-ids and mins only decrease), so the two domains are provably
      disjoint and no corpus-scale shuffle ever happens. Old epochs'
      snapshots are GC-able (only the latest is read; earlier ones give
      time-travel). On Iceberg the snapshot rewrite becomes MERGE INTO on
      the remap table.
    * ``_cluster_epochs/`` — one manifest per folded epoch, written LAST;
      a replayed fold of a committed epoch no-ops (crash-safe: the
      epoch's partitions are cleared before rewriting).

    Per epoch this costs: a CC over the quotient graph of TOUCHED cluster
    labels (at most 2 x batch pairs nodes), one broadcast-joined pass to
    label the batch's new docs, and the snapshot rewrite — never a shuffle
    or rewrite of the corpus-sized assignment.
    """
    import json
    import os
    import shutil

    from . import clustering as CL

    base_store = f"{state_dir}/clusters_base"
    remap_store = f"{state_dir}/cluster_remap"

    def _cluster_manifest(epoch_id: int) -> str:
        return os.path.join(
            state_dir, "_cluster_epochs", f"epoch_{epoch_id:012d}.json"
        )

    def _folded() -> list[int]:
        import glob

        return sorted(
            int(os.path.basename(p)[6:-5])
            for p in glob.glob(
                os.path.join(state_dir, "_cluster_epochs", "epoch_*.json")
            )
        )

    done_pairs = processed_epochs(state_dir)
    folded = _folded()
    todo = [e for e in done_pairs if e not in folded]
    if folded and todo and min(todo) < max(folded):
        raise ValueError(
            f"pairs epoch {min(todo)} committed after later epochs were "
            f"already folded (folded up to {max(folded)}) — cluster folds "
            "must apply in epoch order"
        )
    for epoch_id in todo:
        for store in (base_store, remap_store):
            shutil.rmtree(
                os.path.join(store, f"epoch={epoch_id}"), ignore_errors=True
            )
        pairs_k = (
            spark.read.parquet(f"{state_dir}/pairs")
            .where(F.col("epoch") == epoch_id)
            .select("id_a", "id_b")
        )
        batch_ids = (
            spark.read.parquet(f"{state_dir}/signatures")
            .where(F.col("epoch") == epoch_id)
            .select(id_col)
            .distinct()
        )
        if not _folded():
            # BOOTSTRAP epoch: the existing assignment is empty, so the
            # quotient graph IS the pair graph and update_clusters'
            # broadcast relabel would ship a bootstrap-sized remap (=
            # every merge event of the initial corpus) — the one join
            # shape the incremental design must avoid. Run the batch CC
            # directly; base = its result, snapshot = empty (laid out as
            # a hand-built epoch partition holding one schema-carrying
            # zero-row file, as in compact_cluster_store).
            boot = CL.clusters_from_pairs(batch_ids, pairs_k, id_col).select(
                id_col, F.col("cluster_id").alias("label0")
            )
            _dyn_overwrite(
                boot.withColumn("epoch", F.lit(epoch_id)), base_store, ["epoch"]
            )
            empty_snap = batch_ids.select(
                F.col(id_col).alias("old_label"),
                F.col(id_col).alias("new_label"),
            ).limit(0)
            empty_snap.repartition(1).write.mode("overwrite").parquet(
                os.path.join(remap_store, f"epoch={epoch_id}")
            )
            manifest = _cluster_manifest(epoch_id)
            os.makedirs(os.path.dirname(manifest), exist_ok=True)
            tmp = manifest + ".tmp"
            with open(tmp, "w") as fh:
                json.dump({"epoch": epoch_id, "bootstrap": True}, fh)
            os.replace(tmp, manifest)
            continue
        current = read_clusters(spark, state_dir, id_col)
        delta = CL.merge_remap(current, pairs_k, id_col).localCheckpoint(
            eager=True
        )
        prev_folded = _folded()  # non-empty: epoch 0 took the bootstrap path
        prev = (
            spark.read.parquet(remap_store)
            .where(F.col("epoch") == prev_folded[-1])
            .select("old_label", "new_label")
        )
        d2 = delta.withColumnRenamed("old_label", "d_old").withColumnRenamed(
            "new_label", "d_new"
        )
        chained = (
            prev.join(F.broadcast(d2), prev.new_label == d2.d_old, "left")
            .select(
                "old_label",
                F.coalesce("d_new", "new_label").alias("new_label"),
            )
        )
        snapshot = chained.unionByName(delta)
        # first-seen docs only (a re-crawled id keeps its original row); at
        # scale clusters_base is id-bucketed so this anti-join prunes
        fresh = (
            batch_ids.join(current.select(id_col), id_col, "left_anti")
            .join(
                F.broadcast(delta), F.col(id_col) == F.col("old_label"), "left"
            )
            .select(
                F.col(id_col),
                F.coalesce("new_label", F.col(id_col)).alias("label0"),
            )
        )
        _dyn_overwrite(
            fresh.withColumn("epoch", F.lit(epoch_id)), base_store, ["epoch"]
        )
        _dyn_overwrite(
            snapshot.withColumn("epoch", F.lit(epoch_id)), remap_store, ["epoch"]
        )
        manifest = _cluster_manifest(epoch_id)
        os.makedirs(os.path.dirname(manifest), exist_ok=True)
        tmp = manifest + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"epoch": epoch_id}, fh)
        os.replace(tmp, manifest)
    return todo


def compact_cluster_store(
    spark: SparkSession, state_dir: str, id_col: str = "url"
) -> int:
    """Bound the cumulative remap snapshot: resolve every doc's current
    label, rewrite ``clusters_base`` as ONE generation holding the
    resolved assignment, and reset the snapshot to empty. Returns rows
    compacted (0 if nothing folded yet).

    Why: the snapshot grows with total merge events; after many epochs
    its rewrite dominates the (otherwise epoch-sized) fold cost. A
    compaction run amortizes that back to zero — afterwards the next
    fold's composition starts from an empty snapshot. On Iceberg this
    whole function is a MERGE + snapshot expiry; here it is staged dirs
    + atomic renames.

    Crash safety: the staged dirs are fully written (with Spark's
    ``_SUCCESS``) before any rename. The base store is swapped FIRST —
    a crash after that leaves resolved labels joined against the stale
    snapshot, which is still CORRECT (resolved labels are current, and
    current labels never appear as snapshot old-labels, so the join
    misses and coalesce keeps them). The only unsafe window is between
    the two renames inside one swap (live moved away, staged not yet
    moved in); recovery is re-running this function — it detects and
    finishes an interrupted swap before doing anything else.
    """
    import glob
    import os
    import shutil

    base_store = f"{state_dir}/clusters_base"
    remap_store = f"{state_dir}/cluster_remap"

    def _finish_interrupted_swap(live: str) -> None:
        staged = live + ".compact"
        if not os.path.isdir(live) and os.path.exists(
            os.path.join(staged, "_SUCCESS_STAGED")
        ):
            os.rename(staged, live)
        shutil.rmtree(live + ".old", ignore_errors=True)

    for live in (base_store, remap_store):
        _finish_interrupted_swap(live)

    folded = sorted(
        int(os.path.basename(p)[6:-5])
        for p in glob.glob(
            os.path.join(state_dir, "_cluster_epochs", "epoch_*.json")
        )
    )
    if not folded:
        return 0
    latest = folded[-1]

    resolved = read_clusters(spark, state_dir, id_col).select(
        id_col, F.col("cluster_id").alias("label0"), F.lit(latest).alias("epoch")
    )
    empty_snap = (
        spark.read.parquet(remap_store).select("old_label", "new_label").limit(0)
    )

    def _mark(staged: str) -> str:
        # our own completeness marker (Spark's _SUCCESS lives per write,
        # but be explicit about what recovery keys on)
        open(os.path.join(staged, "_SUCCESS_STAGED"), "w").close()
        return staged

    staged_base = base_store + ".compact"
    shutil.rmtree(staged_base, ignore_errors=True)
    resolved.write.mode("overwrite").partitionBy("epoch").parquet(staged_base)
    _mark(staged_base)
    n = spark.read.parquet(staged_base).count()

    # an EMPTY partitioned write emits no files (nothing to discover), so
    # lay the partition dir out by hand: epoch=latest/ holding one
    # schema-carrying zero-row file — exactly what a non-empty write of
    # this partition would look like to partition discovery
    staged_remap = remap_store + ".compact"
    shutil.rmtree(staged_remap, ignore_errors=True)
    empty_snap.repartition(1).write.mode("overwrite").parquet(
        os.path.join(staged_remap, f"epoch={latest}")
    )
    _mark(staged_remap)

    def _swap(live: str, staged: str) -> None:
        old = live + ".old"
        shutil.rmtree(old, ignore_errors=True)
        if os.path.isdir(live):
            os.rename(live, old)
        os.rename(staged, live)
        shutil.rmtree(old, ignore_errors=True)

    _swap(base_store, staged_base)   # base first: stale snapshot is harmless
    _swap(remap_store, staged_remap)
    return n


def read_clusters(
    spark: SparkSession, state_dir: str, id_col: str = "url"
) -> DataFrame:
    """(id_col, cluster_id) for every doc in folded epochs: the base
    assignment resolved through the LATEST cumulative remap snapshot — one
    left join, label = coalesce(snapshot[label0], label0). Labels written
    at epoch k already include epoch-k merges, and any label retired later
    appears as an old_label in every subsequent snapshot (composition
    keeps retired labels in the domain forever), so one application of the
    latest snapshot fully resolves every doc."""
    import glob
    import os

    folded = sorted(
        int(os.path.basename(p)[6:-5])
        for p in glob.glob(os.path.join(state_dir, "_cluster_epochs", "epoch_*.json"))
    )
    if not folded:
        # nothing folded yet: empty assignment, id-typed like the corpus
        # (the signature store when one exists, else the url-string shape)
        try:
            ids = (
                spark.read.parquet(f"{state_dir}/signatures")
                .select(id_col)
                .limit(0)
            )
            return ids.withColumn("cluster_id", F.col(id_col))
        except Exception:
            return spark.createDataFrame([], f"{id_col} string, cluster_id string")
    base = (
        spark.read.parquet(f"{state_dir}/clusters_base")
        .where(F.col("epoch").isin(folded))
        .select(id_col, "label0")
    )
    snapshot = (
        spark.read.parquet(f"{state_dir}/cluster_remap")
        .where(F.col("epoch") == folded[-1])
        .select("old_label", "new_label")
    )
    return base.join(snapshot, base.label0 == snapshot.old_label, "left").select(
        F.col(id_col),
        F.coalesce("new_label", "label0").alias("cluster_id"),
    )


def read_pairs(
    spark: SparkSession, state_dir: str, current_only: bool = False
) -> DataFrame:
    """Pairs from COMMITTED epochs only. ``pairs/`` is the first of the
    stores written, so a crash mid-epoch leaves a pairs partition whose
    backing band/signature state never committed — filtering on the
    manifests keeps phantom epochs out of consumer counts.

    ``current_only=True`` additionally drops pairs that involve a
    SUPERSEDED version (supersede mode): a pair emitted at epoch P is
    current iff neither member was retired at an epoch later than P —
    the pair re-materializes at the retirement epoch when the new
    version still matches. With one live version per id (the supersede
    invariant) the current pair set equals a batch run over the current
    corpus."""
    done = processed_epochs(state_dir)
    pairs = spark.read.parquet(f"{state_dir}/pairs").where(F.col("epoch").isin(done))
    if current_only:
        retired = _retired_view(spark, state_dir)
        if retired is not None:
            idc = retired.columns[0]
            for side in ("id_a", "id_b"):
                r = retired.select(
                    F.col(idc).alias(f"__r_{side}__"),
                    F.col("retired_epoch").alias(f"__re_{side}__"),
                )
                pairs = (
                    pairs.join(r, pairs[side] == r[f"__r_{side}__"], "left")
                    .where(
                        F.col(f"__re_{side}__").isNull()
                        | (F.col("epoch") >= F.col(f"__re_{side}__"))
                    )
                    .drop(f"__r_{side}__", f"__re_{side}__")
                )
    return pairs.drop("epoch")


def read_distinct_estimate(
    spark: SparkSession, state_dir: str, k: int | None = None
) -> DataFrame:
    """Fold every committed epoch's KMV sketch into the one-row distinct-
    shingle estimate — the same schema as
    ``metrics.distinct_shingle_estimate`` and, by the KMV union property,
    the IDENTICAL row the batch estimator would produce over all ingested
    documents (tests/test_kmv.py asserts bit-equality). O(k) rows read per
    epoch; the corpus is never touched.

    Semantics are union-over-ingested versions (see
    ``incremental_dedup_batch`` ``track_distinct``): identical-content
    recrawls add totals volume but no new distinct shingles; retirement
    never subtracts. Requires every committed epoch to have been ingested
    with ``track_distinct=True`` (else the union would silently
    undercount — raises instead) and with a sketch width >= ``k``."""
    import json

    from . import metrics as M
    from .config import KMV_EST_K

    k = KMV_EST_K if k is None else k
    done = processed_epochs(state_dir)
    store = f"{state_dir}/distinct_sketch"
    if not done or not _store_exists(spark, store):
        raise ValueError(f"no committed distinct_sketch state under {state_dir}")
    n_docs = 0
    n_doc_shingles = 0
    for e in done:
        with open(_epoch_manifest(state_dir, e)) as fh:
            man = json.load(fh)
        sk = man.get("sketch")
        if sk is None:
            raise ValueError(
                f"epoch {e} was committed without track_distinct: the "
                "union sketch would undercount — re-ingest with "
                "track_distinct=True"
            )
        if sk["k"] < k:
            raise ValueError(
                f"epoch {e} sketch width {sk['k']} < requested k={k}: "
                "a narrower stored sketch cannot answer a wider bottom-k"
            )
        n_docs += sk["n_docs"]
        n_doc_shingles += sk["n_doc_shingles"]
    bot = (
        spark.read.parquet(store)
        .where(F.col("epoch").isin(done))
        .select("h")
        .distinct()
        .orderBy("h")
        .limit(k)
    )
    totals = spark.createDataFrame(
        [(n_docs, n_doc_shingles, 0)],
        "n_docs long, n_doc_shingles long, _trunc int",
    )
    return M._kmv_assemble(totals, bot, k)


def read_distinct_hll(
    spark: SparkSession, state_dir: str, m: int | None = None
) -> DataFrame:
    """Fold every committed epoch's HLL registers into the one-row
    distinct-shingle estimate — the same schema as
    ``metrics.distinct_shingle_hll`` and, by the register-MAX merge law,
    the IDENTICAL row the batch estimator would produce over all
    ingested documents (tests/test_hll.py asserts bit-equality). At most
    ``HLL_M`` rows read per epoch, merged by one bounded groupBy max —
    no distinct, no sort, no limit: the cheapest of the engine's two
    streaming distinct summaries (the KMV fold needs a distinct+sort).

    Union-over-ingested-versions semantics, exactly as
    :func:`read_distinct_estimate`; requires every committed epoch to
    have been ingested with ``track_distinct=True`` on a build that
    writes the register store (raises otherwise — a missing store would
    silently undercount)."""
    import json

    from . import metrics as M

    m = M.HLL_M if m is None else m
    done = processed_epochs(state_dir)
    store = f"{state_dir}/hll_registers"
    if not done or not _store_exists(spark, store):
        raise ValueError(f"no committed hll_registers state under {state_dir}")
    n_docs = 0
    n_doc_shingles = 0
    for e in done:
        with open(_epoch_manifest(state_dir, e)) as fh:
            man = json.load(fh)
        sk = man.get("sketch")
        if sk is None:
            raise ValueError(
                f"epoch {e} was committed without track_distinct: the "
                "register union would undercount — re-ingest with "
                "track_distinct=True"
            )
        if sk.get("hll_m") is None:
            raise ValueError(
                f"epoch {e} predates the HLL register store: re-ingest "
                "with track_distinct=True to materialize its registers"
            )
        if sk["hll_m"] != m:
            raise ValueError(
                f"epoch {e} registers were built at m={sk['hll_m']} != "
                f"requested m={m}: register widths cannot be re-binned"
            )
        n_docs += sk["n_docs"]
        n_doc_shingles += sk["n_doc_shingles"]
    regs = (
        spark.read.parquet(store)
        .where(F.col("epoch").isin(done))
        .groupBy("j")
        .agg(F.max("r").alias("r"))
    )
    totals = spark.createDataFrame(
        [(n_docs, n_doc_shingles, 0)],
        "n_docs long, n_doc_shingles long, _trunc int",
    )
    return M._hll_assemble(totals, regs, m)


def compact_state_store(
    spark: SparkSession, state_dir: str, id_col: str = "url"
) -> dict:
    """Physically remove superseded versions from the dedup state — the
    Iceberg ``rewrite_data_files`` + tombstone-expiry analog. Supersede
    mode accumulates garbage monotonically (dead band/signature rows
    filtered on every probe, stale pairs filtered by ``current_only``,
    tombstones joined per read); run this periodically — with no stream
    in flight — to reset that cost to zero.

    What it does, in crash-safe order (tombstones are the source of
    truth for deadness, so they are cleared LAST; a crash anywhere
    earlier leaves a state that still reads correctly and a re-run
    completes the job):

    1. rewrite ``bands/`` and ``signatures/`` keeping live rows only,
       each row staying in its ORIGINAL (epoch, part) partition (dynamic
       overwrite — epochs, manifests, and replay fingerprints are
       untouched);
    2. recompute ``bucket_deltas/`` from the live bands (each live row
       contributes +1 at its insertion epoch; retirement negatives and
       their matching positives vanish together — future probe-time
       rollups are unchanged);
    3. rewrite ``pairs/`` keeping current pairs only (the
       ``read_pairs(current_only=True)`` predicate, materialized);
    4. sweep partition directories that became empty (dynamic overwrite
       cannot delete a partition it writes no rows for — without the
       sweep, fully-dead partitions would resurrect at step 5);
    5. remove ``retired/`` — the commit point.

    After compaction ``read_pairs(current_only=True)`` ==
    ``read_pairs(...)`` and subsequent epochs behave identically to an
    uncompacted store (asserted in tests). The incremental cluster store
    is NOT rewritten (its fold is append-only by design — see
    ``update_cluster_store``); a full recompute over the compacted pairs
    is the cluster-side analog."""
    import os
    import shutil

    retired = _retired_view(spark, state_dir)
    if retired is None:
        return {"n_superseded_ids": 0, "n_removed_versions": 0}
    done = processed_epochs(state_dir)
    # distinct ids with at least one dead version (the retired view is a
    # per-id watermark); the number of REMOVED VERSION ROWS is the sum of
    # per-epoch manifest n_retired counts, >= this when an id was
    # superseded in several epochs
    n_removed = retired.count()

    def _sweep(store: str, keep: set[tuple], levels: list[str]) -> None:
        """Remove partition dirs not present in the live output."""
        if not os.path.isdir(store):
            return
        for d1 in os.listdir(store):
            p1 = os.path.join(store, d1)
            if not (os.path.isdir(p1) and d1.startswith(f"{levels[0]}=")):
                continue
            v1 = d1.split("=", 1)[1]
            if len(levels) == 1:
                if (v1,) not in keep:
                    shutil.rmtree(p1)
                continue
            for d2 in os.listdir(p1):
                p2 = os.path.join(p1, d2)
                if not (os.path.isdir(p2) and d2.startswith(f"{levels[1]}=")):
                    continue
                if (v1, d2.split("=", 1)[1]) not in keep:
                    shutil.rmtree(p2)
            if not any(e.startswith(f"{levels[1]}=") for e in os.listdir(p1)):
                shutil.rmtree(p1)

    def _keep_set(df: DataFrame, levels: list[str]) -> set[tuple]:
        return {
            tuple(str(r[c]) for c in levels)
            for r in df.select(*levels).distinct().collect()
        }

    # 1. bands + signatures: live rows, original partitions
    bands_store = f"{state_dir}/bands"
    live_bands = _exclude_retired(
        spark.read.parquet(bands_store).where(F.col("epoch").isin(done)),
        retired,
        id_col,
    ).localCheckpoint(eager=True)  # severed from the store it overwrites
    _dyn_overwrite(live_bands, bands_store, ["epoch", "bh_part"])
    keep_bands = _keep_set(live_bands, ["epoch", "bh_part"])

    sig_store = f"{state_dir}/signatures"
    live_sigs = _exclude_retired(
        spark.read.parquet(sig_store).where(F.col("epoch").isin(done)),
        retired,
        id_col,
    ).localCheckpoint(eager=True)
    _dyn_overwrite(live_sigs, sig_store, ["epoch", "id_part"])
    keep_sigs = _keep_set(live_sigs, ["epoch", "id_part"])

    # 2. deltas: recomputed from live bands
    deltas_store = f"{state_dir}/bucket_deltas"
    live_deltas = live_bands.groupBy("epoch", "bh_part", "band_id", "band_hash").agg(
        F.count(F.lit(1)).cast("long").alias("delta")
    )
    _dyn_overwrite(
        live_deltas.select("band_id", "band_hash", "delta", "epoch", "bh_part"),
        deltas_store,
        ["epoch", "bh_part"],
    )

    # 3. pairs: the current_only predicate, materialized
    pairs_store = f"{state_dir}/pairs"
    pairs = spark.read.parquet(pairs_store).where(F.col("epoch").isin(done))
    for side in ("id_a", "id_b"):
        r = retired.select(
            F.col(retired.columns[0]).alias(f"__r_{side}__"),
            F.col("retired_epoch").alias(f"__re_{side}__"),
        )
        pairs = (
            pairs.join(r, pairs[side] == r[f"__r_{side}__"], "left")
            .where(
                F.col(f"__re_{side}__").isNull()
                | (F.col("epoch") >= F.col(f"__re_{side}__"))
            )
            .drop(f"__r_{side}__", f"__re_{side}__")
        )
    pairs = pairs.localCheckpoint(eager=True)
    keep_pairs = _keep_set(pairs, ["epoch"])
    if keep_pairs:
        _dyn_overwrite(pairs, pairs_store, ["epoch"])
    else:
        # partitionBy on an empty frame writes no files at all; park a
        # zero-row file in the newest epoch so the store stays readable
        d = os.path.join(pairs_store, f"epoch={done[-1]}")
        pairs.drop("epoch").coalesce(1).write.mode("overwrite").parquet(d)
        keep_pairs = {(str(done[-1]),)}

    # 4. sweep fully-dead partitions, 5. drop tombstones (commit point)
    _sweep(bands_store, keep_bands, ["epoch", "bh_part"])
    _sweep(sig_store, keep_sigs, ["epoch", "id_part"])
    _sweep(deltas_store, _keep_set(live_deltas, ["epoch", "bh_part"]), ["epoch", "bh_part"])
    _sweep(pairs_store, keep_pairs, ["epoch"])
    shutil.rmtree(f"{state_dir}/retired", ignore_errors=True)
    # n_removed_versions: legacy alias kept one release for external
    # consumers of the pre-rename key (ADVICE r03); same value — the
    # semantics changed to DISTINCT superseded ids when the key was
    # renamed, and both keys now carry that count.
    return {"n_superseded_ids": n_removed, "n_removed_versions": n_removed}


def windowed_event_counts(
    events: DataFrame,
    window_duration: str = "1 hour",
    watermark_delay: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Watermarked tumbling-window counts per event type — the late-data
    aggregation pattern for streaming event tables. Works on both batch
    and streaming DataFrames; on a stream in append mode a window is
    emitted once the watermark (max event time − ``watermark_delay``)
    passes its end, so stragglers within the delay still count and older
    ones are dropped deterministically."""
    return (
        events.withWatermark(ts_col, watermark_delay)
        .groupBy(F.window(ts_col, window_duration).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )
