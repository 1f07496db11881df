"""Stage 1b — LSH bucket self-pairing, verification, best-base vote.

Recasts the reference's detection stage (``/root/reference/2df.c:428-549``):
probing ``SF_NUM`` in-memory feature hash tables becomes one
``repartition(band_id, band_hash)`` of the band rows, sorted within each
partition so every bucket is one contiguous run — the shuffle *is* the hash
table. One mapInArrow kernel walks the runs and emits each bucket's pairs;
``verified_pairs`` also checks each pair's content there (FEATURE_CHECK,
``2df.c:471-475``, as exact shingle-set Jaccard) so the per-candidate
matching-SF count (``2df.c:459-499``) is one ``groupBy`` of verified
emissions.

Scale notes (100 TB):

* Buckets are paired in three tiers by size: quiet (2..``bucket_cap``)
  pair fully; warm (``bucket_cap``..``mega_cap``] pair each member with its
  ``hot_window`` successors in ``(n_set, id)`` order, or are dropped when
  ``hot_window == 0``; mega (> ``mega_cap``) are dropped. A band hash shared
  by millions of boilerplate pages would otherwise explode quadratically;
  dropped buckets are observable via ``hot_buckets``.
* The walker streams: it carries at most ``mega_cap`` rows of an open
  run into the next Arrow batch, so one stop-shingle bucket (512,610
  members at 4.44M docs, ``config.py``) costs a scan, not memory.
* Every pair rule is expressible in ANSI SQL — the DuckDB oracle replays
  it bit-for-bit (``oracle._cand_pairs_ctes``).
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import replace

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .config import DedupConfig


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

    One sorted walk of the band rows (``_walk_buckets``) plus one
    ``groupBy``; ``verified_pairs`` is the same walk with the content
    check fused in. ``candidate_pairs_direct`` keeps the plain self-join
    for tests and reference.
    """
    return (
        _walk_buckets(bands, cfg, id_col)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_matching_bands"))
    )


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


def verified_pairs(sig_df: DataFrame, cfg: DedupConfig, id_col: str) -> DataFrame:
    """``verify_pairs_kernel(candidate_pairs(explode_bands(sig)), sig)`` in
    one exchange: the band rows carry ``sig`` and ``shingle_set``, the
    walker verifies every pair it emits, and one ``groupBy`` counts the
    verified emissions into ``n_matching_bands``.

    Sound because the verify result depends only on the pair, and a doc
    sits in one bucket per band, so a pair is emitted at most once per
    band: the count equals the oracle's ``count(DISTINCT band_id)``.
    """
    from . import signatures as S

    bands = S.explode_bands(sig_df, cfg, id_col, carry=("sig", "shingle_set"))
    return (
        _walk_buckets(bands, cfg, id_col, verify=True)
        .groupBy("id_a", "id_b", "n_eq", "inter", "un")
        .agg(F.count(F.lit(1)).alias("n_matching_bands"))
        .select("id_a", "id_b", "n_matching_bands", "n_eq", "inter", "un")
    )


def _walk_buckets(
    bands: DataFrame, cfg: DedupConfig, id_col: str, verify: bool = False,
    new_col: str | None = None,
) -> DataFrame:
    """One row per pair emission: ``(id_a, id_b)``, plus ``(n_eq, inter,
    un)`` of the verified emissions when ``verify``.

    ``repartition(band_id, band_hash)`` puts each bucket in one partition
    and ``sortWithinPartitions(band_id, band_hash, n_set, id)`` makes it
    one run, so the kernel finds bucket boundaries with ``np.diff``. Runs
    of 2..``bucket_cap`` rows emit every pair; runs up to ``mega_cap``
    emit each member's ``hot_window`` successors (none when it is 0);
    longer runs and singletons emit nothing. With ``n_set`` on the rows,
    pairs whose size ratio bounds the Jaccard below the verify threshold
    (``J <= min/max``) are pruned at emission. Pairs are oriented
    ``id_a < id_b``; for string ids Python's code-point order equals
    Spark's UTF-8 byte order.

    ``new_col`` names a boolean column that marks new members: the
    streaming epoch's insert+probe (``2df.c:458-516``) walks the stored
    rows of the touched buckets with the arriving ones, so each run is
    tiered by its size at arrival. Only emissions with a new member are
    kept, pairs of two rows with one id (an id sent again) are dropped,
    and each emission carries its ``band_id``: an id with two versions in
    a run emits a pair twice in one band, so the caller counts distinct
    bands.
    """
    import pyarrow as pa

    has_set = "n_set" in bands.columns
    if cfg.hot_window > 0 and not has_set:
        # a silent fall-through to drop-only capping would quietly lose
        # SCALE_CONFIG's size-stable-recall guarantee — fail loudly
        raise ValueError(
            "cfg.hot_window > 0 requires bands with an n_set column "
            "(use the kernel signature path / explode_bands); refusing "
            "to silently fall back to drop-only capping"
        )
    quiet_cap, win, pct = cfg.bucket_cap, cfg.hot_window, cfg.verify_jaccard_pct
    # runs above `cap` are dropped; it is also the most rows of one run the
    # walker ever holds across a batch boundary
    cap = max(quiet_cap, cfg.mega_cap) if win > 0 else quiet_cap
    n_perm, sketch_k = cfg.n_perm, cfg.verify_sketch_k
    packed = verify and dict(bands.dtypes).get("shingle_set") == "binary"
    id_type = bands.schema[id_col].dataType.simpleString()

    def keys(t: pa.Table):
        return t.column("band_id").to_numpy(), t.column("band_hash").to_numpy()

    def emit(t: pa.Table) -> Iterator[pa.RecordBatch]:
        """Pairs of the complete runs in ``t``."""
        n = t.num_rows
        if n < 2:
            return
        bid, bh = keys(t)
        start = np.ones(n, dtype=bool)
        start[1:] = (bid[1:] != bid[:-1]) | (bh[1:] != bh[:-1])
        starts = np.flatnonzero(start)
        sizes = np.diff(np.append(starts, n))
        size = np.repeat(sizes, sizes)
        # successors each row pairs with, in run order
        reach = np.repeat(starts + sizes, sizes) - np.arange(n) - 1
        reach = np.where(
            size <= quiet_cap, reach,
            np.where(size <= cap, np.minimum(reach, win), 0),
        )
        a = np.repeat(np.arange(n), reach)
        if a.size == 0:
            return
        first = np.cumsum(reach) - reach
        b = a + 1 + np.arange(a.size) - np.repeat(first, reach)
        if new_col:
            fresh = t.column(new_col).to_numpy(zero_copy_only=False)
            idv = t.column(id_col).to_numpy(zero_copy_only=False)
            keep = (fresh[a] | fresh[b]) & (idv[a] != idv[b])
            a, b = a[keep], b[keep]
        if has_set:
            ns = t.column("n_set").to_numpy().astype(np.int64)
            lo, hi = np.minimum(ns[a], ns[b]), np.maximum(ns[a], ns[b])
            keep = lo * 100 >= hi * pct
            a, b = a[keep], b[keep]
            if a.size == 0:
                return
        checked = {}
        if verify:
            sig = t.column("sig").combine_chunks().flatten().to_numpy().reshape(n, n_perm)
            sets = t.column("shingle_set")
            keep, *vals = _verify_arith(
                sig[a], sig[b],
                sets.take(a).to_numpy(zero_copy_only=False),
                sets.take(b).to_numpy(zero_copy_only=False),
                pct, sketch_k, packed,
            )
            a, b = a[keep], b[keep]
            checked = {k: pa.array(v[keep]) for k, v in zip(("n_eq", "inter", "un"), vals)}
        ids = t.column(id_col)
        ia = ids.take(a).to_numpy(zero_copy_only=False)
        ib = ids.take(b).to_numpy(zero_copy_only=False)
        swap = ia > ib
        yield pa.RecordBatch.from_pydict({
            "id_a": pa.array(np.where(swap, ib, ia), type=ids.type),
            "id_b": pa.array(np.where(swap, ia, ib), type=ids.type),
            **checked,
            **({"band_id": pa.array(bid[a])} if new_col else {}),
        })

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        held = None  # rows of the open run: the last run of the batch so far
        skip = None  # key of an open run already longer than `cap`
        for rb in batches:
            t = pa.Table.from_batches([rb])
            if t.num_rows == 0:
                continue
            if skip is not None:
                bid, bh = keys(t)
                rest = np.flatnonzero((bid != skip[0]) | (bh != skip[1]))
                if rest.size == 0:
                    continue
                t, skip = t.slice(int(rest[0])), None
            if held is not None:
                t = pa.concat_tables([held, t]).combine_chunks()
            bid, bh = keys(t)
            n = t.num_rows
            tail = np.flatnonzero((bid != bid[-1]) | (bh != bh[-1]))
            last = int(tail[-1]) + 1 if tail.size else 0
            if n - last > cap:
                held, skip = None, (bid[-1], bh[-1])
            else:
                held = t.slice(last)
            yield from emit(t.slice(0, last))
        if held is not None:
            yield from emit(held)

    order = ["band_id", "band_hash"] + (["n_set"] if has_set else []) + [id_col]
    cols = [id_col, "band_id", "band_hash"] + (["n_set"] if has_set else [])
    schema = f"id_a {id_type}, id_b {id_type}"
    if verify:
        cols += ["sig", "shingle_set"]
        schema += ", n_eq bigint, inter bigint, un bigint"
    if new_col:
        cols.append(new_col)
        schema += f", band_id {bands.schema['band_id'].dataType.simpleString()}"
    return (
        bands.select(*cols)
        .repartition("band_id", "band_hash")
        .sortWithinPartitions(*order)
        .mapInArrow(fn, schema)
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



def _flat_sets(values, n: int, packed: bool):
    """Concatenate a column of sets -> (flat int64 values, per-row
    lengths). Packed cells are one buffer-join + one memcpy."""
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


def _verify_arith(sig_a, sig_b, set_a, set_b, pct: int, sketch_k: int, packed: bool):
    """Per-pair content check of ``verify_pairs_kernel`` and
    ``verified_pairs``: ``(keep, n_eq, inter, un)`` for ``n`` pairs, from
    ``(n, n_perm)`` signature matrices and two length-``n`` sequences of
    sorted-distinct shingle sets (packed int32 bytes or int arrays).

    * **exact mode (``sketch_k == 0``, the oracle/reference path)** —
      per-pair ``np.intersect1d`` loop: full sets (~300 elements at
      web-page size) amortize the call overhead and stay L1-resident,
      measured 2x FASTER than the flat form's ~10 extra memory passes.
    * **KMV mode (``sketch_k > 0``, the SCALE_CONFIG path)** —
      **chunked-flat**: 1024-pair slices are concatenated and every
      per-pair quantity falls out of vectorized numpy passes, no per-pair
      Python at all. The trick: tag each shingle hash with its pair index
      in the high bits (``key = pair_idx * 2^31 + hash``; hashes live in
      ``[0, 2^31)``). Sets are stored sorted-distinct and pair indices are
      nondecreasing under ``np.repeat``, so the concatenated key arrays
      are *globally* sorted — per-pair intersection sizes reduce to ONE
      ``searchsorted`` of A-keys into B-keys plus a ``bincount`` of the
      matches, and the KMV window to one mergesort + first-occurrence
      dedup of the combined keys. Chunk size matters under concurrency:
      whole-batch flat streams ~40 MB of temporaries per batch and
      anti-scales on DRAM bandwidth (6.2 -> 11.2 us/pair from 1 -> 16
      pinned procs); 1024-pair chunks stay L2-resident at 4.7/6.9
      us/pair, vs the per-pair loop's 17.4/19.8 (BENCH/BASELINE.md,
      "Data-size re-measurement with this round's kernels"). Requires the
      malloc env set by ``session.get_spark`` — without heap reuse each
      batch re-faults its working set at ~70us/page.

    An empty-vs-empty pair (inter=un=0) passes the Jaccard predicate
    (0 >= 0) — deliberate and unreachable: valid_documents filters to
    >= min_tokens and a signature needs >= shingle_window tokens, so every
    doc reaching verification has a non-empty shingle set. The SQL twin
    (``verify_pairs``) shares the exact predicate, so all forms agree if
    that ever changes.
    """
    n = len(set_a)
    n_eq = (sig_a == sig_b).sum(axis=1).astype(np.int64)
    inter = np.empty(n, dtype=np.int64)
    un = np.empty(n, dtype=np.int64)
    if not sketch_k:
        for i in range(n):
            if packed:
                a = np.frombuffer(set_a[i], dtype="<i4")
                b = np.frombuffer(set_b[i], dtype="<i4")
            else:
                a, b = np.asarray(set_a[i]), np.asarray(set_b[i])
            # sets sorted+distinct by construction -> exact counts
            ab = np.intersect1d(a, b, assume_unique=True)
            inter[i] = ab.size
            un[i] = a.size + b.size - ab.size
        return inter * 100 >= un * pct, n_eq, inter, un

    # chunking is output-invariant: every quantity is per-pair
    CHUNK = 1024
    for lo in range(0, n, CHUNK):
        hi_ = min(lo + CHUNK, n)
        m = hi_ - lo
        va, la = _flat_sets(set_a[lo:hi_], m, packed)
        vb, lb = _flat_sets(set_b[lo:hi_], m, packed)
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

        # KMV: bottom-k of the union (a, b are each bottom-k of their
        # sets, so the union's true bottom-k is contained in merge(a, b));
        # estimate J on that window. Union per pair = first-occurrence
        # dedup of the combined sorted keys.
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
        # inter = intersection keys inside the window (key <= top; same
        # pair prefix, so key order == hash order)
        km, pm = ka[hit], ia[hit]
        inter[lo:hi_] = np.bincount(pm[km <= hi_key[pm]], minlength=m)
        un[lo:hi_] = un_c
    return inter * 100 >= un * pct, n_eq, inter, un


def verify_pairs_kernel(
    pairs: DataFrame, sig_df: DataFrame, cfg: DedupConfig, id_col: str
) -> DataFrame:
    """Scale-path twin of ``verify_pairs`` — identical output (tested),
    different physical execution for the per-pair arithmetic.

    The SQL form evaluates ``array_intersect``/``filter`` per pair on the
    JVM, which boxes every element and allocates a hash set per row —
    measured ~355us/pair CPU *and* it anti-scales with executor threads
    (allocation-rate contention). Here the joins still co-locate
    ``(sig, shingle_set)`` onto each candidate pair, but n_eq / inter / un
    run in Arrow-batched Python workers (``_verify_arith``, shared with
    ``verified_pairs``). The band pipeline uses ``verified_pairs``; this
    form verifies pair lists that do not come from one band walk
    (streaming probes, the short-doc lane).
    """
    import pandas as pd

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

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            keep, n_eq, inter, un = _verify_arith(
                np.concatenate(list(pdf["sig_a"].values)).reshape(n, -1),
                np.concatenate(list(pdf["sig_b"].values)).reshape(n, -1),
                pdf["set_a"].values, pdf["set_b"].values, pct, sketch_k, packed,
            )
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
    through the band walker; larger buckets chain by id-sorted
    neighborhood windows (``max(1, cfg.hot_window)`` successors per member)
    — every member of an equal-SimHash bucket has the same token
    distribution, so the chain keeps the whole bucket connected for
    connected-components while the pair count stays O(s * window) instead
    of s^2.

    The chain stays outside ``_walk_buckets`` on purpose: it has no mega
    cap, and the walker bounds its carry only by dropping runs above
    ``mega_cap``. Folding the chain in would either make the carry
    unbounded or drop a boilerplate short-page bucket instead of chaining
    it, which changes the output.
    """
    from .textfns import simhash

    if cfg.short_doc_tokens <= 0:
        raise ValueError("short_doc_tokens must be > 0 to use the fallback")
    short = valid_docs.where(F.size("tokens") < cfg.short_doc_tokens)
    sh = simhash(short, id_col, text_col).select(F.col(id_col), F.col("simhash"))

    # quiet tier: full pairing via the band walker, with the SimHash as
    # the one band (no n_set, so no size-ratio prune)
    quiet_pairs = candidate_pairs(
        sh.select(
            F.col(id_col), F.lit(0).alias("band_id"),
            F.col("simhash").alias("band_hash"),
        ),
        replace(cfg, hot_window=0),
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
    ``bands.drop("n_set")`` before the drop-only pairing.

    Recall honesty at scale: candidates still come from MinHash LSH,
    which recalls *resemblance*, not containment — an extreme-asymmetry
    pair (|A| << |B|) rarely band-matches because the superset's minima
    dominate the signature. The lane therefore scores the asymmetric
    TAIL of the LSH candidate set (moderate asymmetry); full containment
    recall at 100 TB needs a different stage-1 sketch (bottom-k of A
    probed against a global shingle index — the CDC shared-chunk lane
    covers the exact-substring slice of that today).
    """
    cand = candidate_pairs(bands.drop("n_set"), replace(cfg, hot_window=0), id_col)
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
    import pandas as pd

    cand = candidate_pairs(bands.drop("n_set"), replace(cfg, hot_window=0), id_col)
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
