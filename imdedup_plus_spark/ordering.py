"""Deterministic training-order shuffle: shard assignment + in-shard
position.

The last stage of a training-data pipeline after select/pack: write the
surviving documents in a REPRODUCIBLE pseudorandom order so every
training batch is an unbiased corpus sample and a re-run (or a resumed
run, or an independent auditor) derives byte-identical shards — the
fixed-seed shuffle of tf.data / MosaicML-StreamingDataset-style shard
composition, expressed as a pure function of the data:

    A_e    = ORD_A^(epoch+1) mod PERM_P     (resolved at plan time)
    B_e    = (ORD_B + epoch * ORD_EPOCH) mod PERM_P
    perm_h = (A_e * id + B_e) mod PERM_P
    shard  = perm_h mod n_shards
    pos    = rank of perm_h within the shard (ties impossible: the
             affine map mod a prime is injective on id < PERM_P)

    Epochs change the MULTIPLIER, not just the offset: two affine maps
    with the same multiplier differ by a constant mod P, which is a
    rank ROTATION of the same order — a re-run would walk the corpus in
    nearly the same sequence. Distinct powers of ORD_A give genuinely
    different rank structures (tested: < 5% of (shard, pos) assignments
    coincide across epochs).

An affine LCG is the RIGHT hash here, unlike the HLL lane (metrics.py):
shard/position read only the RANK structure of perm_h, and an affine
map mod a prime equidistributes ranks for ANY input id set — the
leading-zero pathology that forced HLL onto the lowbias32 finalizer
cannot occur (no bit-position statistic is taken). The ``epoch`` term
re-keys the permutation per training epoch — distinct epochs give
independent-looking orders from the same one-line arithmetic, no state.

Reference discipline: the reference processes files in readdir order
(``/root/reference/main.c:300-365``) — ordering is implicit and
irreproducible across filesystems; this lane is the corpus-scale
replacement where order is part of the contract.

Scale notes (100 TB): ONE exchange keyed on shard, then a per-shard
sort — never a global sort. Shard count is chosen so one shard is one
writer task's worth (10^3-10^5 shards at corpus scale), so the window
partitions are bounded by construction and every executor sorts only
its shards. The output is the write manifest: (doc -> shard, pos)
drives a partitioned write where file = shard and row order = pos.

Two-compilers discipline: the arithmetic is identical in Spark and
DuckDB (``pmod``/``%`` on non-negative BIGINTs, ``row_number`` over the
same injective key); all columns BIGINT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .config import PERM_P

#: Marsaglia's classic 32-bit LCG multiplier/increment (public domain),
#: distinct from the sampling LCG (trainprep.SAMPLE_MULT) and the KMV
#: spreading permutation so the three streams are independent affine maps
ORD_A = 69069
ORD_B = 362437
#: per-epoch offset step (Knuth MMIX increment reduced mod the prime —
#: shares no structure with ORD_A/ORD_B)
ORD_EPOCH = 1442695040888963407 % PERM_P
#: default shard count for the sf-scale driver query; production sizes
#: this to one writer task per shard (10^3-10^5 shards)
ORD_N_SHARDS = 8

#: any A_e < P, B_e < P keeps A_e * id + B_e < P^2 + P < 2^63
assert (PERM_P - 1) * (PERM_P - 1) + PERM_P - 1 < 2**63


def _perm_expr(id_col: str, epoch: int) -> str:
    """The permutation key — valid in BOTH Spark SQL and DuckDB (pmod
    spelled per engine by the callers; operands non-negative). The
    epoch-resolved constants are computed here once, so both compilers
    see literal integers."""
    a_e = pow(ORD_A, epoch + 1, PERM_P)
    b_e = (ORD_B + epoch * ORD_EPOCH) % PERM_P
    return f"({a_e} * {id_col} + {b_e})"


def shuffle_shards(
    docs: DataFrame,
    id_col: str,
    n_shards: int = ORD_N_SHARDS,
    epoch: int = 0,
) -> DataFrame:
    """Per-document shard + position: ``(id_col, perm_h, shard, pos)``.

    ``pos`` is 0-based within the shard, ordered by the injective
    ``perm_h`` (id tiebreak kept as belt-and-braces; it can never fire
    for ids < PERM_P). Deterministic for any partitioning of the input.

    Execution-time guards (ADVICE r04; the KMV truncation-guard
    pattern): ids outside ``[0, PERM_P)`` — reachable via
    ``run_trainprep_pipeline --id-expr`` with 64-bit surrogate hashes —
    would silently wrap ``a_e * id`` under Spark's non-ANSI int64 (while
    DuckDB raises on overflow), and NULL or duplicate ids void the
    byte-identical-shards contract (a duplicate makes the (perm_h, id)
    tiebreak partition-order-dependent). Both fail loudly here:

    * range/NULL: a per-row CASE inside the narrow projection — zero
      extra cost, raises on the first offending row;
    * uniqueness: ``lag(perm_h)`` over the SAME window that ranks the
      shard — the affine map mod a prime is injective on the (now
      range-checked) domain, so equal adjacent perm_h ⟺ duplicate id.
      Same window spec as ``row_number`` ⇒ one Window operator, zero
      extra exchange.
    """
    guarded_perm = F.expr(
        f"CASE WHEN {id_col} IS NULL OR {id_col} < 0 "
        f"OR {id_col} >= {PERM_P} THEN CAST(raise_error(concat("
        f"'shuffle_shards: id out of domain [0, {PERM_P}): ', "
        f"coalesce(CAST({id_col} AS STRING), 'NULL'), "
        f"' — the affine permutation would wrap silently (non-ANSI "
        f"int64); remap surrogate ids into the domain first')) AS "
        f"BIGINT) ELSE pmod({_perm_expr(id_col, epoch)}, {PERM_P}) END"
    )
    d = docs.select(
        F.col(id_col), guarded_perm.alias("perm_h")
    ).withColumn(
        "shard", F.expr(f"pmod(perm_h, {n_shards})")
    )
    w = Window.partitionBy("shard").orderBy(
        F.col("perm_h").asc(), F.col(id_col).asc()
    )
    dup = F.lag("perm_h").over(w) == F.col("perm_h")
    pos = F.when(
        dup,
        F.expr(
            "CAST(raise_error(concat('shuffle_shards: duplicate id ', "
            f"CAST({id_col} AS STRING), ' — shard positions would be "
            "partition-order-dependent; deduplicate ids first')) AS "
            "BIGINT)"
        ),
    ).otherwise((F.row_number().over(w) - F.lit(1)).cast("long"))
    return d.withColumn("pos", pos).select(id_col, "perm_h", "shard", "pos")


def shuffle_shards_sql(
    id_col: str,
    table: str = "documents",
    n_shards: int = ORD_N_SHARDS,
    epoch: int = 0,
) -> str:
    """DuckDB twin of ``shuffle_shards`` — identical permutation,
    shard split and rank rule, and the same two guards: an id that is
    NULL or outside ``[0, PERM_P)`` and a duplicate id each raise (DuckDB
    evaluates ``error()`` inside CASE per row, so valid rows pass)."""
    return f"""WITH d AS (
  SELECT {id_col},
         CASE WHEN {id_col} IS NULL OR {id_col} < 0 OR {id_col} >= {PERM_P}
              THEN error('shuffle_shards: id out of domain [0, {PERM_P}): '
                         || coalesce(CAST({id_col} AS VARCHAR), 'NULL'))
              ELSE {_perm_expr(id_col, epoch)} % {PERM_P} END AS perm_h
  FROM {table}
),
s AS (SELECT {id_col}, perm_h, perm_h % {n_shards} AS shard FROM d)
SELECT {id_col},
       CAST(perm_h AS BIGINT) AS perm_h,
       CAST(shard AS BIGINT) AS shard,
       CAST(CASE WHEN lag(perm_h) OVER w = perm_h
                 THEN error('shuffle_shards: duplicate id '
                            || CAST({id_col} AS VARCHAR))
                 ELSE row_number() OVER w - 1 END AS BIGINT) AS pos
FROM s
WINDOW w AS (PARTITION BY shard ORDER BY perm_h ASC, {id_col} ASC)"""
