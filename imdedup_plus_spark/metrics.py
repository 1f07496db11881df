"""Similarity histogram, distinct-shingle sketches and the ratio fold.

Analog of the reference's result accounting: ratio/bandwidth fold
(``/root/reference/main.c:412-501``, ``idedup.c:952-978``) and the 20-bin
similarity histogram (``/root/reference/idelta.c:382-401``,
``main.c:488-492``). All are single-pass aggregates; the final collect is
~20 scalars (never a data-sized collect).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def similarity_histogram(verified: DataFrame, n_perm: int, bins: int = 20) -> DataFrame:
    """20-bin histogram of estimated Jaccard (n_eq / n_perm) over verified
    pairs — integer arithmetic only so the oracle matches bit-for-bit."""
    bin_expr = F.least(
        F.lit(bins - 1), (F.col("n_eq") * bins / n_perm).cast("int")
    ).alias("bin")
    return (
        verified.select(bin_expr)
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


# ---------------------------------------------------------------------------
# KMV bottom-k distinct-shingle estimator (single-pass redundancy estimate)
# ---------------------------------------------------------------------------
#
# Estimates the number of DISTINCT shingles in the corpus — and from it the
# shingle-level duplication mass — without ever materializing the distinct
# set. This is the scale answer to the reference's exact feature-table
# accounting (`/root/reference/main.c:483-487` counts every feature insert
# into SF_NUM exact hash tables): at 10^12 docs the exact distinct is a
# petabyte shuffle, while a KMV sketch of width k answers with ~1/sqrt(k)
# relative error from one narrow pass.
#
# Arithmetic (identical in Spark, numpy kernel, and the DuckDB oracle —
# oracle.kmv_estimate_sql):
#   h            = (KMV_EST_A * s + KMV_EST_B) mod PERM_P   for each shingle s
#   bottom-k     = the k smallest DISTINCT h over the whole corpus
#   est_distinct = n        if n < k  (sketch not full: exact count)
#                = (n-1) * PERM_P div (kth + 1)   otherwise (integer floor)
# with n = |bottom-k| and kth = max(bottom-k). The +1 maps h in [0, P) onto
# (0, P] so the divisor is never zero; integer div keeps both sides
# bit-exact (DuckDB `//` == Spark `div` for non-negative operands).


def _kmv_set_size(sig_df: DataFrame):
    if dict(sig_df.dtypes).get("shingle_set") == "binary":
        return F.expr("CAST(length(shingle_set) / 4 AS INT)")
    return F.size("shingle_set")


def _kmv_totals(sig_df: DataFrame) -> DataFrame:
    """One row ``(n_docs, n_doc_shingles, _trunc)`` over a signature frame."""
    set_sz = _kmv_set_size(sig_df)
    # the estimator is only meaningful over UNTRUNCATED shingle sets: a
    # per-doc KMV bottom-64 set (SCALE_CONFIG kernel output) keeps the
    # smallest *shingle values*, which under the spreading permutation is a
    # biased sample of h — refuse loudly at execution time. The guard
    # needs ``n_set_true`` to see truncation, and every packed (binary)
    # frame comes from a kernel that emits it — so a binary frame WITHOUT
    # the column is a projection that dropped the evidence (ADVICE r03):
    # refuse at plan time rather than silently under-estimate.
    if (
        dict(sig_df.dtypes).get("shingle_set") == "binary"
        and "n_set_true" not in sig_df.columns
    ):
        raise ValueError(
            "distinct_shingle_estimate: packed shingle_set without "
            "n_set_true — cannot prove the sets are untruncated; keep "
            "n_set_true in the projection (signature kernels emit it)"
        )
    trunc = (
        F.max(F.col("n_set_true") - set_sz) if "n_set_true" in sig_df.columns
        else F.lit(0)
    )
    return sig_df.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(set_sz.cast("long")).alias("n_doc_shingles"),
        trunc.cast("int").alias("_trunc"),
    )


def _kmv_assemble(totals: DataFrame, bot: DataFrame, k: int) -> DataFrame:
    """Fold a bottom-k sketch + a ``_kmv_totals``-shaped row into the
    one-row estimate (shared by the batch forms and the streaming-state
    reader)."""
    from .config import PERM_P

    sketch = bot.agg(
        F.count(F.lit(1)).cast("long").alias("kmv_k"),
        F.max("h").cast("long").alias("kth_hash"),
    )
    est = (
        F.when(F.col("kmv_k") < k, F.col("kmv_k"))
        .otherwise(F.expr(f"(kmv_k - 1) * {PERM_P} div (kth_hash + 1)"))
        .alias("est_distinct")
    )
    guard = F.when(
        F.col("_trunc") > 0,
        F.expr(
            "raise_error('distinct_shingle_estimate: shingle_set is "
            "KMV-truncated (n_set_true > |set|); run on untruncated sets')"
        ).cast("long"),
    ).otherwise(F.col("n_docs"))
    return (
        totals.crossJoin(sketch)
        .select(
            guard.alias("n_docs"), "n_doc_shingles", "kmv_k", "kth_hash", est
        )
        .withColumn(
            "dup_shingle_ratio",
            F.round(F.lit(1.0) - F.col("est_distinct") / F.col("n_doc_shingles"), 6),
        )
    )


def distinct_shingle_estimate(sig_df: DataFrame, k: int | None = None) -> DataFrame:
    """REFERENCE form: exact global bottom-k over ``distinct`` h via SQL.

    One row: ``(n_docs, n_doc_shingles, kmv_k, kth_hash, est_distinct,
    dup_shingle_ratio)``. ``n_doc_shingles`` sums per-doc DISTINCT set
    sizes, so ``dup_shingle_ratio`` is the cross-document shingle
    duplication mass — the fraction of per-doc shingle volume that is a
    repeat of some other document's shingles.

    Scale note: ``.distinct()`` here shuffles every distinct hash once
    (8 bytes/value — at web scale that is the expensive-but-exact form);
    :func:`distinct_shingle_estimate_kernel` is the production path that
    never shuffles the universe.
    """
    from .config import KMV_EST_A, KMV_EST_B, KMV_EST_K, PERM_P

    k = KMV_EST_K if k is None else k
    h = F.pmod(
        F.lit(KMV_EST_A) * F.col("s").cast("long") + F.lit(KMV_EST_B),
        F.lit(PERM_P),
    )
    bot = (
        sig_df.select(F.explode("shingle_set").alias("s"))
        .select(h.alias("h"))
        .distinct()
        .orderBy("h")
        .limit(k)
    )
    return _kmv_assemble(_kmv_totals(sig_df), bot, k)


def kmv_bottomk_kernel(sig_df: DataFrame, k: int | None = None) -> DataFrame:
    """The bottom-k sketch itself: ``<=k`` rows ``(h BIGINT)``, ascending
    semantics (unordered rows). Per-chunk numpy partials merged exactly —
    see :func:`distinct_shingle_estimate_kernel`. KMV sketches are
    mergeable (bottom-k of a union == bottom-k of the union of per-part
    bottom-k's), so this frame is also the unit the streaming state
    persists per epoch (``streaming.incremental_dedup_batch
    track_distinct=True``)."""
    from .config import KMV_EST_A, KMV_EST_B, KMV_EST_K, PERM_P

    k = KMV_EST_K if k is None else k
    binary = dict(sig_df.dtypes).get("shingle_set") == "binary"

    def part(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            col = pdf["shingle_set"]
            outs = []
            for lo in range(0, len(col), 1024):
                chunk = col.iloc[lo : lo + 1024]
                if binary:
                    arrs = [np.frombuffer(b, dtype="<i4") for b in chunk]
                else:
                    arrs = [np.asarray(a, dtype=np.int64) for a in chunk]
                arrs = [a for a in arrs if a.size]
                if not arrs:
                    continue
                s = np.concatenate(arrs).astype(np.int64, copy=False)
                hv = (KMV_EST_A * s + KMV_EST_B) % PERM_P
                outs.append(np.unique(hv)[:k])
            if outs:
                merged = np.unique(np.concatenate(outs))[:k]
                yield pd.DataFrame({"h": merged})

    return (
        sig_df.select("shingle_set")
        .mapInPandas(part, "h long")
        .distinct()
        .orderBy("h")
        .limit(k)
    )


def distinct_shingle_estimate_kernel(sig_df: DataFrame, k: int | None = None) -> DataFrame:
    """SCALE form: per-chunk numpy bottom-k partials, then an exact merge.

    ``mapInPandas`` emits at most k candidate hashes per 1024-row chunk
    (cache-resident, per the measured chunking rule in BENCH/BASELINE.md,
    "Data-size re-measurement with this round's kernels"), so the merge
    input is ~``n_chunks * k`` rows — the full shingle universe is never
    shuffled or distinct-ed.
    Correct by the KMV union property: any global bottom-k member is a
    bottom-k member of its own chunk. Bit-identical to
    :func:`distinct_shingle_estimate` (tests/test_kmv.py parity).

    Accepts ``shingle_set`` as ``ARRAY<INT>`` (SQL path) or packed
    little-endian int32 ``BINARY`` (kernel path) — untruncated only.
    """
    from .config import KMV_EST_K

    k = KMV_EST_K if k is None else k
    return _kmv_assemble(_kmv_totals(sig_df), kmv_bottomk_kernel(sig_df, k), k)


# ---------------------------------------------------------------------------
# HyperLogLog distinct-shingle estimator (fixed-width register sketch)
# ---------------------------------------------------------------------------
#
# The register-based sibling of the KMV lane above (Flajolet, Fusy,
# Gandouet & Meunier 2007, "HyperLogLog: the analysis of a near-optimal
# cardinality estimation algorithm"). Same question — how many DISTINCT
# shingles — different summary shape, and the shape is what matters at
# 100 TB: a KMV sketch is k *rows* merged by a distinct+sort, while an
# HLL sketch is m fixed *registers* merged by elementwise MAX — the
# cheapest possible combine (one groupBy(j).max over <= m rows per map
# task, no order sensitivity, no distinct). That makes HLL the natural
# per-epoch/streaming-state distinct summary and the industry default
# (Spark's own approx_count_distinct is HLL++); this lane implements it
# under the repo's two-compilers discipline so the estimate itself is
# oracle-checkable bit-for-bit, which approx_count_distinct is not.
#
# Completes the sketch family: KMV = distinct (bottom-k rows),
# HLL = distinct (fixed registers), Bloom = membership (bloom.py),
# CMS = point frequency (cms.py), top-k bracket (topk.py).
#
# The register statistic is a LEADING-ZERO count, so unlike the
# rank-based KMV it needs a hash with real avalanche: an affine LCG maps
# arithmetic progressions (synthetic ids, templated shingles) onto
# correlated (register, rho) pairs and the estimate biases by 20%+
# (measured on consecutive-integer shingle sets). The mixer here is the
# classic public-domain 32-bit xorshift-multiply finalizer ("lowbias" /
# Wang-hash family, the xxhash/murmur avalanche construction):
#
#   x1 = ((s div 2^16) XOR s) * 73244475  mod 2^32
#   x2 = ((x1 div 2^16) XOR x1) * 73244475  mod 2^32
#   h  =  (x2 div 2^16) XOR x2
#
# Every step is a bijection on [0, 2^32) (xorshift keeps the top half,
# odd-constant multiply mod 2^32 is invertible), so the map is
# INJECTIVE on the 31-bit shingle domain — zero extra collisions — and
# every intermediate fits int64 (max product 2^32 * 73244475 < 2^59).
#
# Arithmetic (identical in Spark SQL, the numpy kernel and the DuckDB
# oracle — all BIGINT; the only float is the one ln() in the
# small-range branch, same libm double both engines):
#   h     = lowbias32(s)            h in [0, 2^32)
#   j     = h mod m                 register index, m = HLL_M = 512
#   q     = h div m                 the remaining "word", q < 2^23
#   rho   = 23 - floor(log2 q)  if q >= 1   (leftmost-1 position in a
#         = 24                 if q == 0     23-bit word, 1-based)
#           with floor(log2 q) == length(bin(q)) - 1 (lmquality idiom)
#   M_j   = max rho over values landing in register j   (merge = MAX)
#   Z*2^S = sum_j 2^(S - M_j)   with S = 24 and empty registers
#           contributing 2^S each — an exact BIGINT (<= m * 2^24 = 2^33)
#   est_raw      = (ALPHA_PPM * m^2 * 2^S) div z_scaled div 10^6
#   est_distinct = linear counting  floor(m * ln(m / V))  when
#                  est_raw <= 5m/2 and V = n_zero_regs > 0, else est_raw
# The 32-bit large-range correction fires at est > 2^32/30 ~ 1.4e8
# distinct — beyond the 31-bit shingle domain; documented, not
# implemented.

#: number of registers (power of two). Standard error ~ 1.04/sqrt(m)
#: = 4.6% at 512 — one 2 KB summary regardless of corpus size.
HLL_M = 512
#: the finalizer's multiply constant (0x45d9f3b, public domain)
HLL_MIX_K = 73244475
#: bit width of q = h div m (h < 2^32, m = 512 -> q < 2^23)
HLL_Q_BITS = 23
#: S = rho's max value = Q_BITS + 1; empty registers contribute 2^S
HLL_S = HLL_Q_BITS + 1
#: alpha_512 = 0.7213 / (1 + 1.079/512), pinned in parts-per-million so
#: the estimator is pure integer arithmetic in every engine
HLL_ALPHA_PPM = 719783
#: the estimator numerator, shared verbatim by all three forms
HLL_NUMER = HLL_ALPHA_PPM * HLL_M * HLL_M * (1 << HLL_S)
assert HLL_NUMER < 2**63  # BIGINT-safe: max z division operand
#: linear-counting threshold 5m/2 (integer: m is even)
HLL_LC_MAX = (5 * HLL_M) // 2


def hll_registers(sig_df: DataFrame, m: int = HLL_M) -> DataFrame:
    """REFERENCE form: the register table ``(j INT, r INT)`` (<= m rows)
    via SQL explode + groupBy max. The shuffle after partial aggregation
    is <= m rows per map task — the shingle universe is never
    distinct-ed or sorted (contrast ``distinct_shingle_estimate``)."""
    rho = F.expr(
        f"CASE WHEN q = 0 THEN {HLL_S} "
        f"ELSE {HLL_Q_BITS} - (length(bin(q)) - 1) END"
    )
    return (
        sig_df.select(F.explode("shingle_set").alias("s"))
        .select(F.expr("CAST(s AS BIGINT)").alias("x0"))
        .select(
            F.expr(
                f"(((x0 div 65536) ^ x0) * {HLL_MIX_K}) % 4294967296"
            ).alias("x1")
        )
        .select(
            F.expr(
                f"(((x1 div 65536) ^ x1) * {HLL_MIX_K}) % 4294967296"
            ).alias("x2")
        )
        .select(F.expr("(x2 div 65536) ^ x2").alias("h"))
        .select(
            F.expr(f"CAST(h % {m} AS INT)").alias("j"),
            F.expr(f"h div {m}").alias("q"),
        )
        .select("j", rho.cast("int").alias("rho"))
        .groupBy("j")
        .agg(F.max("rho").alias("r"))
    )


def hll_registers_kernel(sig_df: DataFrame, m: int = HLL_M) -> DataFrame:
    """SCALE form: per-chunk numpy partial registers merged by the same
    groupBy(j).max. Each 1024-row cache-resident chunk emits at most m
    ``(j, r)`` rows; registers are trivially mergeable (MAX is
    associative/commutative/idempotent — property-tested in
    tests/test_hll.py), which is why this frame is also the right
    per-epoch distinct summary for the streaming state. Accepts
    ``shingle_set`` as ``ARRAY<INT>`` or packed ``<i4`` BINARY."""
    binary = dict(sig_df.dtypes).get("shingle_set") == "binary"

    def part(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            col = pdf["shingle_set"]
            reg = np.zeros(m, dtype=np.int32)
            for lo in range(0, len(col), 1024):
                chunk = col.iloc[lo : lo + 1024]
                if binary:
                    arrs = [np.frombuffer(b, dtype="<i4") for b in chunk]
                else:
                    arrs = [np.asarray(a, dtype=np.int64) for a in chunk]
                arrs = [a for a in arrs if a.size]
                if not arrs:
                    continue
                s = np.concatenate(arrs).astype(np.int64, copy=False)
                # lowbias32 finalizer — max intermediate 2^32 * K < 2^59
                x = ((s >> 16) ^ s) * HLL_MIX_K % 4294967296
                x = ((x >> 16) ^ x) * HLL_MIX_K % 4294967296
                hv = (x >> 16) ^ x
                j = hv % m
                q = hv // m
                # floor(log2 q) via float64 log2 — exact for q < 2^23:
                # log2(2^k - 1) sits ~2^-k/ln2 below k, far beyond the
                # ~1e-16 relative rounding of float64 (lmquality rule)
                rho = np.full(hv.shape, HLL_S, dtype=np.int32)
                nz = q > 0
                rho[nz] = HLL_Q_BITS - np.floor(
                    np.log2(q[nz].astype(np.float64))
                ).astype(np.int32)
                np.maximum.at(reg, j, rho)
            used = np.flatnonzero(reg)
            if used.size:
                yield pd.DataFrame(
                    {"j": used.astype(np.int32), "r": reg[used]}
                )

    return (
        sig_df.select("shingle_set")
        .mapInPandas(part, "j int, r int")
        .groupBy("j")
        .agg(F.max("r").alias("r"))
    )


def _hll_assemble(totals: DataFrame, regs: DataFrame, m: int) -> DataFrame:
    """Fold the register table + a ``_kmv_totals`` row into the one-row
    estimate (shared by the SQL and kernel forms)."""
    sk = regs.agg(
        F.count(F.lit(1)).cast("long").alias("n_used"),
        F.coalesce(
            F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {HLL_S} - r)")),
            F.lit(0),
        ).cast("long").alias("z_ne"),
    )
    guard = F.when(
        F.col("_trunc") > 0,
        F.expr(
            "raise_error('distinct_shingle_hll: shingle_set is "
            "KMV-truncated (n_set_true > |set|); run on untruncated sets')"
        ).cast("long"),
    ).otherwise(F.col("n_docs"))
    est_raw = F.expr(f"{HLL_NUMER} div z_scaled div 1000000")
    est = F.expr(
        f"CASE WHEN est_raw <= {HLL_LC_MAX} AND n_zero_regs > 0 "
        f"THEN CAST(floor({m} * ln(CAST({m} AS DOUBLE) / n_zero_regs)) "
        "AS BIGINT) ELSE est_raw END"
    )
    return (
        totals.crossJoin(sk)
        .select(
            guard.alias("n_docs"),
            "n_doc_shingles",
            F.lit(m).cast("long").alias("hll_m"),
            (F.lit(m) - F.col("n_used")).cast("long").alias("n_zero_regs"),
            (
                F.col("z_ne")
                + (F.lit(m) - F.col("n_used")) * F.lit(1 << HLL_S)
            ).cast("long").alias("z_scaled"),
        )
        .withColumn("est_raw", est_raw)
        .withColumn("est_distinct", est)
        .withColumn(
            "dup_shingle_ratio",
            F.round(
                F.lit(1.0) - F.col("est_distinct") / F.col("n_doc_shingles"),
                6,
            ),
        )
    )


def distinct_shingle_hll(sig_df: DataFrame, m: int = HLL_M) -> DataFrame:
    """One-row HLL distinct estimate, SQL register form: ``(n_docs,
    n_doc_shingles, hll_m, n_zero_regs, z_scaled, est_raw, est_distinct,
    dup_shingle_ratio)``. Bit-identical to the kernel form and to
    ``oracle.hll_estimate_sql`` (tests/test_hll.py)."""
    return _hll_assemble(_kmv_totals(sig_df), hll_registers(sig_df, m), m)


def distinct_shingle_hll_kernel(sig_df: DataFrame, m: int = HLL_M) -> DataFrame:
    """One-row HLL distinct estimate, numpy-kernel register form — the
    production path (handles packed-binary shingle sets)."""
    return _hll_assemble(
        _kmv_totals(sig_df), hll_registers_kernel(sig_df, m), m
    )


def dedup_ratio(span_sum: DataFrame) -> DataFrame:
    """Token-level dedup ratio over the span summaries — the analog of the
    reference's compression ratio ``(raw - undecodable)/final``
    (``/root/reference/main.c:444``): copied tokens are the bytes the
    delta eliminated."""
    return span_sum.agg(
        F.sum("copied_tokens").cast("long").alias("copied_tokens"),
        F.sum("inserted_tokens").cast("long").alias("inserted_tokens"),
        F.round(
            F.sum("copied_tokens")
            / (F.sum("copied_tokens") + F.sum("inserted_tokens")),
            6,
        ).alias("dedup_fraction"),
    )
