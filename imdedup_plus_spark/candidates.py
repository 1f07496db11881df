"""Stage 1b — LSH bucket self-pairing, verification, best-base vote.

Recasts the reference's detection stage (``/root/reference/2df.c:428-549``):
probing ``SF_NUM`` in-memory feature hash tables becomes a
``groupBy(band_id, band_hash)`` self-join — the shuffle *is* the hash table;
the per-candidate matching-SF count and arg-max vote (``2df.c:459-499``)
become an aggregate + window; the DC-coefficient content check
(FEATURE_CHECK, ``2df.c:471-475``) becomes exact shingle-set Jaccard
verification (``verify_pairs``).

Scale notes (100 TB):

* ``bucket_cap`` drops buckets bigger than the cap *before* pairing — a band
  hash shared by millions of boilerplate pages would otherwise explode the
  self-join quadratically. This is the single most important web-scale
  defense; dropped buckets are observable via ``hot_buckets``.
* The self-join key is (band_id, band_hash); AQE skew-join splitting handles
  residual imbalance below the cap (enable ``spark.sql.adaptive.enabled``).
* Everything here is expressible in ANSI SQL — the DuckDB oracle replays it
  bit-for-bit (``oracle.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .config import DedupConfig

#: buckets above this many members are salted into ceil(size/threshold)^2
#: join tasks (exact grid blocking, ``candidate_pairs_salted``) so one hot
#: bucket cannot become the stage straggler
PAIR_SPLIT_THRESHOLD = 64


def band_buckets(bands: DataFrame, cfg: DedupConfig, id_col: str) -> DataFrame:
    """(band_id, band_hash, bucket_size) for every occupied bucket."""
    return bands.groupBy("band_id", "band_hash").agg(
        F.count(F.col(id_col)).cast("long").alias("bucket_size")
    )


def hot_buckets(bands: DataFrame, cfg: DedupConfig, id_col: str) -> DataFrame:
    """Buckets dropped by the cap — the observability side-channel the
    reference keeps as its feature-collision counter (``main.c:483-487``)."""
    return band_buckets(bands, cfg, id_col).where(F.col("bucket_size") > cfg.bucket_cap)


def candidate_pairs(bands: DataFrame, cfg: DedupConfig, id_col: str) -> DataFrame:
    """Within-bucket self-pairing -> (id_a, id_b, n_matching_bands).

    Delegates to the salted grid-blocked implementation (identical output,
    no stragglers); ``candidate_pairs_direct`` keeps the plain self-join
    for tests and reference. With ``cfg.hot_window > 0`` hot buckets
    additionally contribute sorted-neighborhood pairs instead of being
    dropped (``candidate_pairs_hotwindow`` — the corpus-size-stable
    recall path).
    """
    if cfg.hot_window > 0:
        return candidate_pairs_hotwindow(bands, cfg, id_col)
    return candidate_pairs_salted(bands, cfg, id_col)


def candidate_pairs_direct(bands: DataFrame, cfg: DedupConfig, id_col: str) -> DataFrame:
    """Plain within-bucket self-join (one task per bucket key).

    ``id_a < id_b`` canonical orientation (the reference's base/target order
    is arrival order, ``2df.c:462-498``; ours is id order — deterministic and
    order-free). Buckets of size 1 or larger than the cap are pruned before
    the join, so the quadratic step only ever sees bounded buckets.

    When the bands carry ``n_set`` (shingle-set sizes), pairs whose size
    ratio already bounds the Jaccard below the verify threshold are pruned
    AT EMISSION — before the per-pair aggregation shuffle. This is the same provable bound
    ``J <= min(|A|,|B|)/max(|A|,|B|)`` applied as early as possible; the
    verified output is unchanged, only the candidate volume shrinks.
    """
    has_set = "n_set" in bands.columns
    w = Window.partitionBy("band_id", "band_hash")
    sized = bands.withColumn("bucket_size", F.count(F.col(id_col)).over(w))
    keep_cols = [id_col, "band_id", "band_hash"] + (["n_set"] if has_set else [])
    kept = sized.where(
        (F.col("bucket_size") >= 2) & (F.col("bucket_size") <= cfg.bucket_cap)
    ).select(*keep_cols)

    a = kept.alias("a")
    b = kept.alias("b")
    pairs0 = a.join(b, ["band_id", "band_hash"], "inner").where(
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    )
    if has_set:
        pairs0 = pairs0.where(
            F.expr(
                "least(a.n_set, b.n_set) * 100 >= "
                f"greatest(a.n_set, b.n_set) * {cfg.verify_jaccard_pct}"
            )
        )
    return (
        pairs0.select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_matching_bands"))
    )


def candidate_pairs_salted(
    bands: DataFrame, cfg: DedupConfig, id_col: str,
    split_threshold: int = PAIR_SPLIT_THRESHOLD,
) -> DataFrame:
    """Skew-defused pair generation — identical output to
    ``candidate_pairs`` (tested), different physical shape.

    Buckets larger than ``split_threshold`` get a salt ``s = pmod(
    xxhash64(id), g)`` with ``g = ceil(size/threshold)`` and the pair space
    is covered by the g x g salt-task grid: side A is replicated to tasks
    ``(salt_a, j)`` for all j, side B to ``(i, salt_b)`` for all i, and the
    join key is ``(band, ta, tb)``. An unordered pair {x, y} therefore
    matches in exactly two cells — ``(salt_x, salt_y)`` with A=x and
    ``(salt_y, salt_x)`` with A=y — and the ``id_a < id_b`` filter keeps
    exactly one. One giant bucket becomes g^2 bounded join partitions
    instead of one straggler task: the 'salted repartitioning of hot LSH
    buckets' from SURVEY.md §4. Replication factor is g per side, i.e.
    O(size^2 / threshold) work — the same pair count, spread evenly.

    Buckets above ``cfg.bucket_cap`` are still dropped (boilerplate bands —
    the quadratic pair *count* is inherent, no salt fixes that).
    """
    has_set = "n_set" in bands.columns
    w = Window.partitionBy("band_id", "band_hash")
    sized = bands.withColumn("bucket_size", F.count(F.col(id_col)).over(w))
    kept = sized.where(
        (F.col("bucket_size") >= 2) & (F.col("bucket_size") <= cfg.bucket_cap)
    )
    g = F.greatest(
        F.lit(1), F.ceil(F.col("bucket_size") / split_threshold)
    ).cast("int")
    salted = kept.withColumn("g", g).withColumn(
        "salt", F.pmod(F.xxhash64(F.col(id_col)), F.col("g")).cast("int")
    )
    a_cols = [
        F.col(id_col).alias("id_a"), F.col("band_id"), F.col("band_hash"),
        F.col("salt").alias("ta"),
        F.explode(F.sequence(F.lit(0), F.col("g") - 1)).alias("tb"),
    ] + ([F.col("n_set").alias("n_set_a")] if has_set else [])
    b_cols = [
        F.col(id_col).alias("id_b"), F.col("band_id"), F.col("band_hash"),
        F.col("salt").alias("tb"),
        F.explode(F.sequence(F.lit(0), F.col("g") - 1)).alias("ta"),
    ] + ([F.col("n_set").alias("n_set_b")] if has_set else [])
    a = salted.select(*a_cols)
    b = salted.select(*b_cols)
    pairs0 = a.join(b, ["band_id", "band_hash", "ta", "tb"], "inner").where(
        F.col("id_a") < F.col("id_b")
    )
    if has_set:
        pairs0 = pairs0.where(
            F.expr(
                "least(n_set_a, n_set_b) * 100 >= "
                f"greatest(n_set_a, n_set_b) * {cfg.verify_jaccard_pct}"
            )
        )
    return (
        pairs0.select("id_a", "id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_matching_bands"))
    )


def candidate_pairs_hotwindow(
    bands: DataFrame, cfg: DedupConfig, id_col: str
) -> DataFrame:
    """Salted full pairing for buckets <= ``bucket_cap`` PLUS
    sorted-neighborhood pairing *inside* hot buckets, instead of dropping
    them.

    Why: dropping hot buckets makes recall corpus-size-dependent —
    measured on the planted corpus at cap=32, pair recall is 0.9996 at
    1.11M docs but 0.9935 at 4.44M docs (BENCH/BASELINE.md), because the
    collision mass of popular band values grows with N and pushes true
    groups' buckets over the cap. Extrapolated to 10^12 docs the
    drop-the-bucket design breaches the >=0.99 criterion.

    Fix (classic sorted-neighborhood blocking): members of a hot bucket
    are sorted by ``(n_set, id)`` and each member pairs with its
    ``cfg.hot_window`` successors — O(s*window) pairs per bucket instead
    of s^2 (linear in bucket size, so hot buckets are affordable at any N).
    True near-dups have near-equal shingle-set sizes, so group members
    sort adjacently and keep enough intra-pairs for connected components
    to merge the group; boilerplate interlopers of different lengths sort
    away from them. Requires ``n_set`` on the bands (the kernel signature
    path provides it).

    Three tiers by bucket size (masses measured at 4.44M docs in
    config.py): quiet (2..bucket_cap] full salted pairing; warm
    (bucket_cap..mega_cap] sorted-neighborhood window; mega (> mega_cap)
    dropped — a band value shared by thousands+ of documents is a corpus
    stop-shingle whose match carries no pair signal, and window-pairing
    it would add W*mass useless candidates to the verify shuffle.
    """
    if "n_set" not in bands.columns:
        # a silent fall-through to drop-only capping would quietly lose
        # SCALE_CONFIG's size-stable-recall guarantee — fail loudly
        raise ValueError(
            "cfg.hot_window > 0 requires bands with an n_set column "
            "(use the kernel signature path / explode_bands); refusing "
            "to silently fall back to drop-only capping"
        )
    quiet = candidate_pairs_salted(bands, cfg, id_col)

    w = Window.partitionBy("band_id", "band_hash")
    sized = bands.withColumn("bucket_size", F.count(F.col(id_col)).over(w))
    hot = sized.where(
        (F.col("bucket_size") > cfg.bucket_cap)
        & (F.col("bucket_size") <= cfg.mega_cap)
    )
    rw = Window.partitionBy("band_id", "band_hash").orderBy(
        F.col("n_set").asc(), F.col(id_col).asc()
    )
    ranked = hot.withColumn("r", F.row_number().over(rw))
    # NB: Spark's sequence(start, stop) DESCENDS when stop < start, so the
    # last-ranked member (r == bucket_size) must not build a probe list at
    # all — sequence(r+1, r) would yield [r+1, r] and pair it with itself
    a = ranked.where(F.col("r") < F.col("bucket_size")).select(
        F.col(id_col).alias("ida"),
        "band_id",
        "band_hash",
        F.col("n_set").alias("n_set_a"),
        F.explode(
            F.sequence(
                F.col("r") + 1,
                F.least(F.col("r") + cfg.hot_window, F.col("bucket_size")),
            )
        ).alias("rp"),
    )
    b = ranked.select(
        F.col(id_col).alias("idb"),
        "band_id",
        "band_hash",
        F.col("n_set").alias("n_set_b"),
        F.col("r").alias("rp"),
    )
    hot_pairs = (
        a.join(b, ["band_id", "band_hash", "rp"])
        .where(
            F.expr(
                "least(n_set_a, n_set_b) * 100 >= "
                f"greatest(n_set_a, n_set_b) * {cfg.verify_jaccard_pct}"
            )
        )
        .select(
            F.least(F.col("ida"), F.col("idb")).alias("id_a"),
            F.greatest(F.col("ida"), F.col("idb")).alias("id_b"),
            "band_id",
        )
    )
    all_emissions = quiet.select(
        "id_a", "id_b", F.lit(None).cast("int").alias("band_id"), "n_matching_bands"
    ).unionByName(
        hot_pairs.select(
            "id_a", "id_b", "band_id", F.lit(1).cast("long").alias("n_matching_bands")
        )
    )
    # quiet-bucket counts are already aggregated; hot emissions add one per
    # (pair, band). A pair can appear in both regimes (quiet in one band,
    # hot in another) — sum the contributions.
    return (
        all_emissions.groupBy("id_a", "id_b")
        .agg(
            F.sum(
                F.when(F.col("band_id").isNull(), F.col("n_matching_bands")).otherwise(0)
            ).alias("quiet_bands"),
            F.countDistinct(F.col("band_id")).alias("hot_bands"),
        )
        .select(
            "id_a",
            "id_b",
            (F.col("quiet_bands") + F.col("hot_bands")).cast("long").alias(
                "n_matching_bands"
            ),
        )
    )


def verify_pairs(
    pairs: DataFrame, sig_df: DataFrame, cfg: DedupConfig, id_col: str
) -> DataFrame:
    """FEATURE_CHECK analog (``/root/reference/2df.c:471-475``): before
    accepting a candidate, check the actual content, not just the sketch.

    Default mode computes the **exact shingle-set Jaccard** per candidate
    pair: ``inter`` = |A ∩ B|, ``un`` = |A ∪ B| over distinct shingle sets,
    verified iff ``100 * inter >= verify_jaccard_pct * un`` (pure integer
    math — bit-exact in the DuckDB oracle). This is affordable because LSH
    already reduced the universe to candidate pairs, and it is what protects
    precision against site boilerplate: two pages sharing only a 24-token
    header/footer have J ~ 0.1 and are rejected, while true near-dups sit
    at J >= 0.5.

    Also emits ``n_eq`` (equal signature positions, the MinHash Jaccard
    estimate) for the similarity histogram.
    """
    sigs = sig_df.select(F.col(id_col), F.col("sig"), F.col("shingle_set"))
    sa = (
        sigs.withColumnRenamed(id_col, "id_a")
        .withColumnRenamed("sig", "sig_a")
        .withColumnRenamed("shingle_set", "set_a")
    )
    sb = (
        sigs.withColumnRenamed(id_col, "id_b")
        .withColumnRenamed("sig", "sig_b")
        .withColumnRenamed("shingle_set", "set_b")
    )
    n_eq = (
        f"CAST(size(filter(sequence(1, {cfg.n_perm}), "
        f"i -> element_at(sig_a, i) = element_at(sig_b, i))) AS BIGINT)"
    )
    # array_intersect is a hash-based JVM built-in: O(|A|+|B|) per pair,
    # and both inputs are already distinct so it returns exactly |A ∩ B|
    inter = "CAST(size(array_intersect(set_a, set_b)) AS BIGINT)"
    un = "CAST(size(set_a) + size(set_b) AS BIGINT) - inter"
    # shuffle_hash: the per-partition build side (signatures) is a few MB,
    # and unlike sort-merge the 10M+-row pair side is never sorted -> no
    # spill, scales with cores (measured: the SMJ plan was disk-bound)
    out = pairs.join(sa.hint("shuffle_hash"), "id_a").join(
        sb.hint("shuffle_hash"), "id_b"
    )
    # provable upper bound J <= min(|A|,|B|)/max(|A|,|B|): prune pairs
    # that cannot pass BEFORE the per-pair intersection (integer math,
    # implied by the final filter -> output is unchanged)
    out = (
        out.where(
            F.expr(
                "least(size(set_a), size(set_b)) * 100 >= "
                f"greatest(size(set_a), size(set_b)) * {cfg.verify_jaccard_pct}"
            )
        )
        .withColumn("n_eq", F.expr(n_eq))
        .withColumn("inter", F.expr(inter))
        .withColumn("un", F.expr(un))
        .where(F.col("inter") * 100 >= F.col("un") * cfg.verify_jaccard_pct)
    )
    return out.select("id_a", "id_b", "n_matching_bands", "n_eq", "inter", "un")


def verify_pairs_kernel(
    pairs: DataFrame, sig_df: DataFrame, cfg: DedupConfig, id_col: str
) -> DataFrame:
    """Scale-path twin of ``verify_pairs`` — identical output (tested),
    different physical execution for the per-pair arithmetic.

    The SQL form evaluates ``array_intersect``/``filter`` per pair on the
    JVM, which boxes every element and allocates a hash set per row —
    measured ~355us/pair CPU *and* it anti-scales with executor threads
    (allocation-rate contention). Here the joins still co-locate
    ``(sig, shingle_set)`` onto each candidate pair (that shuffle is
    unavoidable and healthy), but n_eq / inter / un run in Arrow-batched
    Python workers, with the physical form picked per mode:

    * **KMV mode (``verify_sketch_k > 0``, the SCALE_CONFIG path)** —
      **chunked-flat**: 1024-pair slices of the Arrow batch are
      concatenated and every per-pair quantity falls out of vectorized
      numpy passes, no per-pair Python at all. The trick: tag each
      shingle hash with its pair index in the high bits
      (``key = pair_idx * 2^31 + hash``; hashes live in ``[0, 2^31)``).
      Sets are stored sorted-distinct and pair indices are nondecreasing
      under ``np.repeat``, so the concatenated key arrays are *globally*
      sorted — per-pair intersection sizes reduce to ONE ``searchsorted``
      of A-keys into B-keys plus a ``bincount`` of the matches, and the
      KMV window to one mergesort + first-occurrence dedup of the
      combined keys. Chunk size matters under concurrency: whole-batch
      flat streams ~40 MB of temporaries per batch and anti-scales on
      DRAM bandwidth (6.2 -> 11.2 us/pair from 1 -> 16 pinned procs);
      1024-pair chunks stay L2-resident at 4.7/6.9 us/pair, vs the
      per-pair loop's 17.4/19.8 (BENCH/BASELINE.md, "Data-size
      re-measurement with this round's kernels").
      Requires the malloc env set by ``session.get_spark`` — without
      heap reuse each batch re-faults its working set at ~70us/page.
    * **exact mode (``verify_sketch_k == 0``, the oracle/reference
      path)** — per-pair ``np.intersect1d`` loop: full sets (~300
      elements at web-page size) amortize the call overhead and stay
      L1-resident, measured 2x FASTER than the flat form's ~10 extra
      memory passes. Exact mode at 100 TB would carry whole shingle sets
      through the shuffle anyway — KMV is the scale path by design.
    """
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator

    sigs = sig_df.select(F.col(id_col), F.col("sig"), F.col("shingle_set"))
    sa = (
        sigs.withColumnRenamed(id_col, "id_a")
        .withColumnRenamed("sig", "sig_a")
        .withColumnRenamed("shingle_set", "set_a")
    )
    sb = (
        sigs.withColumnRenamed(id_col, "id_b")
        .withColumnRenamed("sig", "sig_b")
        .withColumnRenamed("shingle_set", "set_b")
    )
    joined = pairs.join(sa.hint("shuffle_hash"), "id_a").join(
        sb.hint("shuffle_hash"), "id_b"
    )

    pct = cfg.verify_jaccard_pct
    sketch_k = cfg.verify_sketch_k
    id_type = pairs.schema["id_a"].dataType.simpleString()
    packed = dict(sig_df.dtypes).get("shingle_set") == "binary"

    def _flat(values, n):
        """Concatenate a batch column of sets -> (flat int64 values,
        per-row lengths). Packed cells are one buffer-join + one memcpy."""
        if packed:
            lens = np.fromiter((len(x) >> 2 for x in values), np.int64, n)
            flat = np.frombuffer(b"".join(values), dtype="<i4").astype(np.int64)
        else:
            lens = np.fromiter((len(x) for x in values), np.int64, n)
            flat = (
                np.concatenate(list(values)).astype(np.int64)
                if lens.sum()
                else np.empty(0, np.int64)
            )
        return flat, lens

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            # --- n_eq: one (n, n_perm) equality reduction ---
            sig_a = np.concatenate(list(pdf["sig_a"].values)).reshape(n, -1)
            sig_b = np.concatenate(list(pdf["sig_b"].values)).reshape(n, -1)
            n_eq = (sig_a == sig_b).sum(axis=1).astype(np.int64)

            if not sketch_k:
                # exact mode: full sets stay L1-resident per pair — the
                # loop beats the flat form here (see docstring)
                set_a = pdf["set_a"].values
                set_b = pdf["set_b"].values
                inter = np.empty(n, dtype=np.int64)
                un = np.empty(n, dtype=np.int64)
                for i in range(n):
                    if packed:
                        a = np.frombuffer(set_a[i], dtype="<i4")
                        b = np.frombuffer(set_b[i], dtype="<i4")
                    else:
                        a, b = set_a[i], set_b[i]
                    # sets sorted+distinct by construction -> exact counts
                    ab = np.intersect1d(a, b, assume_unique=True)
                    inter[i] = ab.size
                    un[i] = a.size + b.size - ab.size
                # NOTE an empty-vs-empty pair (inter=un=0) would pass the
                # Jaccard predicate (0 >= 0) — deliberate and unreachable:
                # valid_documents filters to >= min_tokens and a signature
                # needs >= shingle_window tokens, so every doc reaching
                # verification has a non-empty shingle set. The SQL twin
                # (verify_pairs) and the chunked form below share the
                # exact predicate, so all three agree if that ever changes.
                keep = inter * 100 >= un * pct
                yield pd.DataFrame(
                    {
                        "id_a": pdf["id_a"].values[keep],
                        "id_b": pdf["id_b"].values[keep],
                        "n_matching_bands": pdf["n_matching_bands"].values[keep],
                        "n_eq": n_eq[keep],
                        "inter": inter[keep],
                        "un": un[keep],
                    }
                )
                continue

            # --- KMV: pair-tagged key spaces (globally sorted by
            #     construction: sets are sorted-distinct, pair index is
            #     nondecreasing), evaluated over CACHE-RESIDENT CHUNKS.
            #     Whole-batch flat streams ~40 MB of int64 temporaries per
            #     10k-pair batch; at 16 concurrent workers that saturates
            #     DRAM bandwidth (measured 6.2 -> 11.2 us/pair going
            #     1 -> 16 pinned procs). 1024-pair chunks keep the working
            #     set ~4 MB (L2-resident): 4.7 us/pair at 1 proc and 6.9
            #     at 16 (BENCH/BASELINE.md, "Data-size re-measurement
            #     with this round's kernels"). Chunking is
            #     output-invariant: every quantity is per-pair.
            set_a_vals = pdf["set_a"].values
            set_b_vals = pdf["set_b"].values
            inter = np.empty(n, dtype=np.int64)
            un = np.empty(n, dtype=np.int64)
            CHUNK = 1024
            for lo in range(0, n, CHUNK):
                hi_ = min(lo + CHUNK, n)
                m = hi_ - lo
                va, la = _flat(set_a_vals[lo:hi_], m)
                vb, lb = _flat(set_b_vals[lo:hi_], m)
                ia = np.repeat(np.arange(m, dtype=np.int64), la)
                ib = np.repeat(np.arange(m, dtype=np.int64), lb)
                ka = ia * (1 << 31) + va
                kb = ib * (1 << 31) + vb

                # intersection mask over A-keys: (pair, hash) present in B
                if kb.size:
                    pos = np.searchsorted(kb, ka)
                    hit = pos < kb.size
                    hit[hit] = kb[pos[hit]] == ka[hit]
                else:
                    hit = np.zeros(ka.size, dtype=bool)

                # KMV: bottom-k of the union (a, b are each bottom-k of
                # their sets, so the union's true bottom-k is contained in
                # merge(a, b)); estimate J on that window. Union per pair =
                # first-occurrence dedup of the combined sorted keys.
                allk = np.sort(np.concatenate([ka, kb]), kind="mergesort")
                if allk.size:
                    first = np.empty(allk.size, dtype=bool)
                    first[0] = True
                    np.not_equal(allk[1:], allk[:-1], out=first[1:])
                    uk = allk[first]
                else:
                    uk = allk
                upair = uk >> 31
                seg_len = np.bincount(upair, minlength=m)
                un_c = np.minimum(seg_len, sketch_k)
                # k-th smallest union key per pair (the KMV window top)
                seg_start = np.concatenate(([0], np.cumsum(seg_len)[:-1]))
                hi_idx = seg_start + np.maximum(un_c, 1) - 1
                hi_key = (
                    uk[np.minimum(hi_idx, max(uk.size - 1, 0))]
                    if uk.size
                    else np.zeros(m, dtype=np.int64)
                )
                # inter = intersection keys inside the window (key <= top;
                # same pair prefix, so key order == hash order)
                km, pm = ka[hit], ia[hit]
                inter[lo:hi_] = np.bincount(
                    pm[km <= hi_key[pm]], minlength=m
                )
                un[lo:hi_] = un_c
            # empty==empty auto-pass: deliberate, unreachable — see the
            # per-pair form above (min_tokens/shingle_window upstream)
            keep = inter * 100 >= un * pct
            out = pd.DataFrame(
                {
                    "id_a": pdf["id_a"].values[keep],
                    "id_b": pdf["id_b"].values[keep],
                    "n_matching_bands": pdf["n_matching_bands"].values[keep],
                    "n_eq": n_eq[keep],
                    "inter": inter[keep],
                    "un": un[keep],
                }
            )
            yield out

    schema = (
        f"id_a {id_type}, id_b {id_type}, n_matching_bands bigint, "
        "n_eq bigint, inter bigint, un bigint"
    )
    return joined.select(
        "id_a", "id_b", "n_matching_bands", "sig_a", "sig_b", "set_a", "set_b"
    ).mapInPandas(fn, schema=schema)


def best_base(verified: DataFrame) -> DataFrame:
    """Per-target arg-max vote (``/root/reference/2df.c:484-495``).

    Target = ``id_b`` (the later id), base = ``id_a``; ties broken by higher
    ``n_eq`` then smaller base id — deterministic, unlike the reference's
    arrival-order scan.
    """
    w = (
        Window.partitionBy("id_b")
        .orderBy(
            F.col("n_matching_bands").desc(), F.col("n_eq").desc(), F.col("id_a").asc()
        )
    )
    return (
        verified.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("id_b").alias("target_id"),
            F.col("id_a").alias("base_id"),
            "n_matching_bands",
            "n_eq",
        )
    )


def short_doc_pairs(
    valid_docs: DataFrame, cfg: DedupConfig, id_col: str, text_col: str = "text"
) -> DataFrame:
    """SimHash fallback for short documents (north-star requirement).

    MinHash over a handful of shingles is high-variance, so documents with
    fewer than ``cfg.short_doc_tokens`` tokens additionally pair within
    equal-SimHash buckets (Hamming distance 0 — near-identical token
    distributions). Output shape matches ``candidate_pairs`` with
    ``n_matching_bands = 0`` (these pairs bypassed the band vote); they are
    verified by the same exact-Jaccard check downstream.

    Hot-bucket defense (same treatment as the band join): one popular short
    page (empty-ish boilerplate sharing a SimHash) would otherwise explode
    the self-join quadratically. Buckets up to ``cfg.bucket_cap`` pair fully
    through the salted g x g grid; larger buckets chain by id-sorted
    neighborhood windows (``max(1, cfg.hot_window)`` successors per member)
    — every member of an equal-SimHash bucket has the same token
    distribution, so the chain keeps the whole bucket connected for
    connected-components while the pair count stays O(s * window) instead
    of s^2.
    """
    from .textfns import simhash

    if cfg.short_doc_tokens <= 0:
        raise ValueError("short_doc_tokens must be > 0 to use the fallback")
    short = valid_docs.where(F.size("tokens") < cfg.short_doc_tokens)
    sh = simhash(short, id_col, text_col).select(F.col(id_col), F.col("simhash"))

    # quiet tier: full pairing via the band path's salted grid, with the
    # SimHash as the one band (no n_set, so no size-ratio prune)
    quiet_pairs = candidate_pairs_salted(
        sh.select(
            F.col(id_col), F.lit(0).alias("band_id"),
            F.col("simhash").alias("band_hash"),
        ),
        cfg,
        id_col,
    ).select("id_a", "id_b")

    # hot tier: id-sorted neighborhood chain (window pairing)
    win = max(1, cfg.hot_window)
    w = Window.partitionBy("simhash")
    sized = sh.withColumn("bucket_size", F.count(F.col(id_col)).over(w))
    hot = sized.where(F.col("bucket_size") > cfg.bucket_cap)
    rw = Window.partitionBy("simhash").orderBy(F.col(id_col).asc())
    ranked = hot.withColumn("r", F.row_number().over(rw))
    ha = ranked.where(F.col("r") < F.col("bucket_size")).select(
        F.col(id_col).alias("id_a"), "simhash",
        F.explode(
            F.sequence(F.col("r") + 1, F.least(F.col("r") + win, F.col("bucket_size")))
        ).alias("rp"),
    )
    hb = ranked.select(F.col(id_col).alias("id_b"), "simhash", F.col("r").alias("rp"))
    hot_pairs = ha.join(hb, ["simhash", "rp"]).select("id_a", "id_b")

    return (
        quiet_pairs.unionByName(hot_pairs)
        .distinct()
        .select("id_a", "id_b", F.lit(0).cast("long").alias("n_matching_bands"))
    )


def unique_documents(valid_docs: DataFrame, verified: DataFrame, id_col: str) -> DataFrame:
    """Left-anti pass-through: documents in no verified pair
    (``/root/reference/2df.c:545-548`` writes them out verbatim)."""
    members = (
        verified.select(F.col("id_a").alias(id_col))
        .union(verified.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    return valid_docs.join(members, id_col, "left_anti")


# ---------------------------------------------------------------------------
# Asymmetric containment (Broder 1997's "containment" next to "resemblance"):
# doc-inside-doc detection the symmetric Jaccard verify deliberately rejects
# ---------------------------------------------------------------------------

#: emit a pair when the SMALLER shingle set is >= this permille contained
#: in the other — at 500, every verified near-dup qualifies (J >= pct/100
#: implies containment >= Jaccard) plus the asymmetric quote/aggregator
#: pairs the size-ratio prune screens out of the verify lane
CONTAIN_PERMILLE = 500


def containment_pairs(
    bands: DataFrame, sig_df: DataFrame, cfg: DedupConfig, id_col: str,
    threshold_permille: int = CONTAIN_PERMILLE,
) -> DataFrame:
    """Containment-scored candidate pairs: (id_a, id_b, n_matching_bands,
    inter, n_set_a, n_set_b, containment_permille).

    ``containment_permille = floor(1000 * |A∩B| / min(|A|, |B|))`` — the
    containment of the smaller set in the larger (Broder's c(A,B) =
    |A∩B|/|A| evaluated for the smaller side). A short page quoted whole
    inside a long aggregator page has Jaccard ~ |A|/|B| (tiny) but
    containment ~ 1000, so this lane keeps exactly the pairs the
    symmetric verify stage is designed to reject; consequently the
    candidate generation here must NOT apply the size-ratio emission
    prune (that prune is provable only for the Jaccard predicate), hence
    ``bands.drop("n_set")`` before the salted pairing.

    Recall honesty at scale: candidates still come from MinHash LSH,
    which recalls *resemblance*, not containment — an extreme-asymmetry
    pair (|A| << |B|) rarely band-matches because the superset's minima
    dominate the signature. The lane therefore scores the asymmetric
    TAIL of the LSH candidate set (moderate asymmetry); full containment
    recall at 100 TB needs a different stage-1 sketch (bottom-k of A
    probed against a global shingle index — the CDC shared-chunk lane
    covers the exact-substring slice of that today).
    """
    cand = candidate_pairs_salted(bands.drop("n_set"), cfg, id_col)
    sigs = sig_df.select(F.col(id_col), F.col("shingle_set"))
    sa = (
        sigs.withColumnRenamed(id_col, "id_a")
        .withColumnRenamed("shingle_set", "set_a")
    )
    sb = (
        sigs.withColumnRenamed(id_col, "id_b")
        .withColumnRenamed("shingle_set", "set_b")
    )
    inter = "CAST(size(array_intersect(set_a, set_b)) AS BIGINT)"
    out = (
        cand.join(sa.hint("shuffle_hash"), "id_a")
        .join(sb.hint("shuffle_hash"), "id_b")
        .withColumn("inter", F.expr(inter))
        .withColumn("n_set_a", F.expr("CAST(size(set_a) AS BIGINT)"))
        .withColumn("n_set_b", F.expr("CAST(size(set_b) AS BIGINT)"))
        .where(
            F.expr(
                f"inter * 1000 >= least(n_set_a, n_set_b) * {threshold_permille}"
            )
        )
    )
    return out.select(
        "id_a", "id_b", "n_matching_bands", "inter", "n_set_a", "n_set_b",
        F.expr(
            "CAST(floor(1000.0 * inter / least(n_set_a, n_set_b)) AS BIGINT)"
        ).alias("containment_permille"),
    )


def containment_pairs_kernel(
    bands: DataFrame, sig_df: DataFrame, cfg: DedupConfig, id_col: str,
    threshold_permille: int = CONTAIN_PERMILLE,
) -> DataFrame:
    """Scale-path twin of ``containment_pairs`` — identical output
    (tested), Arrow-batched per-pair arithmetic, accepts the packed
    little-endian int32 BINARY ``shingle_set`` the signature kernel
    emits (the production store format). Same join/hint shape as
    ``verify_pairs_kernel``; the per-pair intersection is the exact-mode
    ``np.intersect1d`` loop (sets are sorted-distinct by construction).

    ``containment_permille`` uses exact integer floor division —
    identical to the SQL twins' ``floor(1000.0 * inter / least)``: the
    double quotient of ints this small cannot round across an integer
    boundary (|a/b - n| >= 1/b > n * 2^-53 for b < 2^53/n), so the two
    forms agree bit-for-bit.
    """
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator

    cand = candidate_pairs_salted(bands.drop("n_set"), cfg, id_col)
    sigs = sig_df.select(F.col(id_col), F.col("shingle_set"))
    sa = (
        sigs.withColumnRenamed(id_col, "id_a")
        .withColumnRenamed("shingle_set", "set_a")
    )
    sb = (
        sigs.withColumnRenamed(id_col, "id_b")
        .withColumnRenamed("shingle_set", "set_b")
    )
    joined = cand.join(sa.hint("shuffle_hash"), "id_a").join(
        sb.hint("shuffle_hash"), "id_b"
    )
    packed = dict(sig_df.dtypes).get("shingle_set") == "binary"
    thr = threshold_permille
    id_type = sig_df.schema[id_col].dataType.simpleString()

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            set_a = pdf["set_a"].values
            set_b = pdf["set_b"].values
            inter = np.empty(n, dtype=np.int64)
            na = np.empty(n, dtype=np.int64)
            nb = np.empty(n, dtype=np.int64)
            for i in range(n):
                if packed:
                    a = np.frombuffer(set_a[i], dtype="<i4")
                    b = np.frombuffer(set_b[i], dtype="<i4")
                else:
                    a, b = np.asarray(set_a[i]), np.asarray(set_b[i])
                inter[i] = np.intersect1d(a, b, assume_unique=True).size
                na[i] = a.size
                nb[i] = b.size
            mn = np.minimum(na, nb)
            keep = inter * 1000 >= mn * thr
            yield pd.DataFrame(
                {
                    "id_a": pdf["id_a"].values[keep],
                    "id_b": pdf["id_b"].values[keep],
                    "n_matching_bands": pdf["n_matching_bands"].values[keep],
                    "inter": inter[keep],
                    "n_set_a": na[keep],
                    "n_set_b": nb[keep],
                    "containment_permille": (1000 * inter[keep]) // mn[keep],
                }
            )

    return joined.mapInPandas(
        fn,
        schema=(
            f"id_a {id_type}, id_b {id_type}, n_matching_bands long, "
            "inter long, n_set_a long, n_set_b long, "
            "containment_permille long"
        ),
    )


def containment_pairs_sql(
    cfg: DedupConfig, threshold_permille: int = CONTAIN_PERMILLE,
    id_col: str = "doc_id", table: str = "documents",
) -> str:
    """DuckDB twin: recomputes UNPRUNED full pairing from ``kept_bands``
    (the pipeline chain's ``cand_pairs`` CTE carries the size-ratio
    emission prune, which is sound only for the Jaccard predicate)."""
    from . import oracle

    sel = f""", cp0 AS (
  SELECT a.id AS id_a, b.id AS id_b, CAST(count(*) AS BIGINT) AS n_matching_bands
  FROM kept_bands a JOIN kept_bands b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.id < b.id
  GROUP BY 1, 2
),
cont AS (
  SELECT p.id_a, p.id_b, p.n_matching_bands,
         CAST(len(list_intersect(sa.shingle_set, sb.shingle_set)) AS BIGINT) AS inter,
         CAST(len(sa.shingle_set) AS BIGINT) AS n_set_a,
         CAST(len(sb.shingle_set) AS BIGINT) AS n_set_b
  FROM cp0 p JOIN sig sa ON sa.id = p.id_a JOIN sig sb ON sb.id = p.id_b
)
SELECT id_a, id_b, n_matching_bands, inter, n_set_a, n_set_b,
       CAST(floor(1000.0 * inter / least(n_set_a, n_set_b)) AS BIGINT)
         AS containment_permille
FROM cont
WHERE inter * 1000 >= least(n_set_a, n_set_b) * {threshold_permille}"""
    return oracle.stage_query(cfg, sel, id_col=id_col, table=table)
