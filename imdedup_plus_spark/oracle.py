"""DuckDB oracle SQL for every relational stage of the pipeline.

Each builder returns ANSI SQL (DuckDB dialect) that replays the *identical*
modular arithmetic as the Spark expressions in ``signatures.py`` /
``candidates.py`` / ``clustering.py``, so the driver's side-by-side
value-hash comparison is bit-exact. Single source of truth for the
constants: ``config.py``.

Equivalences relied on (each covered by tests/test_oracle_parity.py):

* ``list_reduce(xs, f)`` == fold with init 0 for our f's, because
  ``f(0, x0) == x0`` for both the word hash and the shingle combiner;
* ``list_aggregate(xs, 'max')`` == Spark ``aggregate(xs, 0L, greatest)``
  for non-empty, non-negative xs;
* DuckDB ``ord`` == Spark ``ascii`` (unicode code point of 1st char).
"""

from __future__ import annotations

from .config import HASH_MOD, PERM_P, SHINGLE_MULT, WORD_MULT, DedupConfig
from .signatures import WS_CLASS


def tokens_sql(text_col: str) -> str:
    # explicit ASCII whitespace class, NOT RE2 \s: RE2 \s lacks \x0B while
    # Java \s (the Spark tokenizer) includes it — see signatures.WS_CLASS
    return (
        f"list_filter(string_split_regex(lower({text_col}), '{WS_CLASS}+'), "
        f"t -> t != '')"
    )


def word_hashes_sql(tokens: str) -> str:
    return (
        f"list_transform({tokens}, w -> list_reduce("
        f"list_transform(string_split(w, ''), c -> CAST(ord(c) AS BIGINT)), "
        f"(a, b) -> (a * {WORD_MULT} + b) % {HASH_MOD}))"
    )


def shingles_sql(wh: str, window: int) -> str:
    return (
        f"CASE WHEN len({wh}) < {window} THEN [] "
        f"ELSE list_transform(generate_series(1, len({wh}) - {window} + 1), "
        f"i -> list_reduce({wh}[i : i + {window} - 1], "
        f"(a, b) -> (a * {SHINGLE_MULT} + b) % {HASH_MOD})) END"
    )


def signature_sql(shingles: str, cfg: DedupConfig) -> str:
    ks, bs = cfg.perms
    feats = ", ".join(
        f"list_aggregate(list_transform({shingles}, "
        f"s -> ({ks[m]} * s + {bs[m]}) % {PERM_P}), 'max')"
        for m in range(cfg.n_perm)
    )
    return f"[{feats}]"


def band_hash_sql(sig: str, band_id: str, rows_per_band: int) -> str:
    if rows_per_band == 1:
        return f"{sig}[{band_id} + 1]"
    lo = f"{band_id} * {rows_per_band} + 1"
    hi = f"{band_id} * {rows_per_band} + {rows_per_band}"
    return f"list_aggregate({sig}[{lo} : {hi}], 'sum')"


def pipeline_ctes(cfg: DedupConfig, id_col: str = "doc_id", table: str = "documents") -> str:
    """The full CTE chain: docs -> valid -> sig -> bands -> pairs ->
    verified -> clusters.  Prepend ``WITH RECURSIVE`` and select from any
    stage. Mirrors, stage for stage, the Spark pipeline."""
    min_toks = max(cfg.min_tokens, cfg.shingle_window)
    n_eq = (
        f"CAST(len(list_filter(generate_series(1, {cfg.n_perm}), "
        f"i -> sa.sig[i] = sb.sig[i])) AS BIGINT)"
    )
    ratio = (
        f"least(a.n_set, b.n_set) * 100 >= "
        f"greatest(a.n_set, b.n_set) * {cfg.verify_jaccard_pct}"
    )
    inter = "CAST(len(list_intersect(sa.shingle_set, sb.shingle_set)) AS BIGINT)"
    un = f"CAST(len(sa.shingle_set) + len(sb.shingle_set) AS BIGINT) - ({inter})"
    # same provable size-ratio prune as the Spark side (no semantic change)
    verify_filter = (
        f"least(len(sa.shingle_set), len(sb.shingle_set)) * 100 >= "
        f"greatest(len(sa.shingle_set), len(sb.shingle_set)) * {cfg.verify_jaccard_pct} "
        f"AND ({inter}) * 100 >= ({un}) * {cfg.verify_jaccard_pct}"
    )
    return f"""
docs AS (
  SELECT {id_col} AS id, text, {tokens_sql('text')} AS tokens FROM {table}
),
valid AS (
  SELECT * FROM docs WHERE len(tokens) >= {min_toks}
),
wh AS (
  SELECT id, {word_hashes_sql('tokens')} AS whs FROM valid
),
sh AS (
  SELECT id, {shingles_sql('whs', cfg.shingle_window)} AS shingles FROM wh
),
sig AS (
  SELECT id, {signature_sql('shingles', cfg)} AS sig,
         list_transform(list_sort(list_distinct(shingles)),
                        x -> CAST(x AS INTEGER)) AS shingle_set
  FROM sh WHERE len(shingles) > 0
),
bands AS (
  SELECT id, CAST(t.band_id AS INT) AS band_id,
         {band_hash_sql('sig', 't.band_id', cfg.rows_per_band)} AS band_hash,
         CAST(len(shingle_set) AS INT) AS n_set
  FROM sig CROSS JOIN (SELECT range AS band_id FROM range(0, {cfg.n_bands})) t
),
bucket_sizes AS (
  SELECT band_id, band_hash, CAST(count(*) AS BIGINT) AS bucket_size
  FROM bands GROUP BY 1, 2
),
kept_bands AS (
  SELECT b.id, b.band_id, b.band_hash, b.n_set
  FROM bands b JOIN bucket_sizes s
    ON s.band_id = b.band_id AND s.band_hash = b.band_hash
  WHERE s.bucket_size >= 2 AND s.bucket_size <= {cfg.bucket_cap}
),
{_cand_pairs_ctes(cfg, ratio)}
verified AS (
  SELECT p.id_a, p.id_b, p.n_matching_bands, {n_eq} AS n_eq,
         {inter} AS inter, {un} AS un
  FROM cand_pairs p
  JOIN sig sa ON sa.id = p.id_a
  JOIN sig sb ON sb.id = p.id_b
  WHERE {verify_filter}
),
edges_sym AS (
  SELECT id_a AS src, id_b AS dst FROM verified
  UNION
  SELECT id_b AS src, id_a AS dst FROM verified
),
reach(node, lbl) AS (
  SELECT id, id FROM sig
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges_sym e ON e.src = r.node
),
clusters AS (
  SELECT node AS id, min(lbl) AS cluster_id FROM reach GROUP BY 1
)"""


def _cand_pairs_ctes(cfg: DedupConfig, ratio: str) -> str:
    """``cand_pairs`` CTE(s). With ``hot_window > 0``, hot buckets
    contribute sorted-neighborhood pairs instead of being dropped
    (mirrors ``candidates._walk_buckets``): a band bucket is either quiet
    (<= cap, full pairing) or hot (> cap, window pairing), and a doc sits
    in one bucket per band, so ``count(DISTINCT band_id)`` over the union
    of per-band emissions equals the walker's per-emission count."""
    quiet_emit = f"""
  SELECT a.id AS id_a, b.id AS id_b, a.band_id
  FROM kept_bands a
  JOIN kept_bands b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.id < b.id
  WHERE {ratio}"""
    if cfg.hot_window <= 0:
        return f"""cand_pairs AS (
  SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS n_matching_bands
  FROM ({quiet_emit})
  GROUP BY 1, 2
),"""
    return f"""hot_ranked AS (
  SELECT b.id, b.band_id, b.band_hash, b.n_set,
         CAST(row_number() OVER (PARTITION BY b.band_id, b.band_hash
              ORDER BY b.n_set ASC, b.id ASC) AS BIGINT) AS r
  FROM bands b JOIN bucket_sizes s
    ON s.band_id = b.band_id AND s.band_hash = b.band_hash
  WHERE s.bucket_size > {cfg.bucket_cap} AND s.bucket_size <= {cfg.mega_cap}
),
cand_emissions AS (
  {quiet_emit}
  UNION ALL
  SELECT least(a.id, b.id) AS id_a, greatest(a.id, b.id) AS id_b, a.band_id
  FROM hot_ranked a JOIN hot_ranked b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
   AND b.r > a.r AND b.r <= a.r + {cfg.hot_window}
  AND {ratio}
),
cand_pairs AS (
  SELECT id_a, id_b, CAST(count(DISTINCT band_id) AS BIGINT) AS n_matching_bands
  FROM cand_emissions
  GROUP BY 1, 2
),"""


def stage_query(cfg: DedupConfig, select: str, id_col: str = "doc_id",
                table: str = "documents") -> str:
    return f"WITH RECURSIVE {pipeline_ctes(cfg, id_col, table)}\n{select}"


def kmv_estimate_sql(cfg: DedupConfig, k: int, id_col: str = "doc_id",
                     table: str = "documents") -> str:
    """DuckDB replay of ``metrics.distinct_shingle_estimate`` — identical
    spreading permutation, bottom-k, and integer-floor estimator (DuckDB
    ``//`` == Spark ``div`` for the non-negative operands here)."""
    from .config import KMV_EST_A, KMV_EST_B, PERM_P

    sel = f""", exh AS (
  SELECT DISTINCT ({KMV_EST_A} * CAST(s AS BIGINT) + {KMV_EST_B}) % {PERM_P} AS h
  FROM (SELECT unnest(shingle_set) AS s FROM sig)
),
bot AS (SELECT h FROM exh ORDER BY h LIMIT {k}),
sk AS (SELECT CAST(count(*) AS BIGINT) AS kmv_k,
              CAST(max(h) AS BIGINT) AS kth_hash FROM bot),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(shingle_set)) AS BIGINT) AS n_doc_shingles FROM sig),
est AS (
  SELECT t.n_docs, t.n_doc_shingles, s.kmv_k, s.kth_hash,
         CASE WHEN s.kmv_k < {k} THEN s.kmv_k
              ELSE ((s.kmv_k - 1) * {PERM_P}) // (s.kth_hash + 1) END AS est_distinct
  FROM tot t CROSS JOIN sk s
)
SELECT n_docs, n_doc_shingles, kmv_k, kth_hash, est_distinct,
       round(1.0 - est_distinct / n_doc_shingles, 6) AS dup_shingle_ratio
FROM est"""
    return stage_query(cfg, sel, id_col, table)


def hll_estimate_sql(cfg: DedupConfig, m: int, id_col: str = "doc_id",
                     table: str = "documents") -> str:
    """DuckDB replay of ``metrics.distinct_shingle_hll`` — identical
    lowbias32 xorshift-multiply finalizer (DuckDB ``xor()``/``//`` ==
    Spark ``^``/``div`` on these non-negative BIGINTs), register split
    (j = h mod m, q = h div m), ``length(bin(q)) - 1`` integer log2,
    scaled-BIGINT harmonic sum and integer-floor estimator; the one
    ln() in the linear-counting branch is the same libm double both
    engines."""
    from .metrics import HLL_LC_MAX, HLL_MIX_K, HLL_NUMER, HLL_Q_BITS, HLL_S

    two_s = 1 << HLL_S
    sel = f""", exs AS (
  SELECT DISTINCT CAST(s AS BIGINT) AS x0
  FROM (SELECT unnest(shingle_set) AS s FROM sig)
),
mx1 AS (SELECT (xor(x0 // 65536, x0) * {HLL_MIX_K}) % 4294967296 AS x1 FROM exs),
mx2 AS (SELECT (xor(x1 // 65536, x1) * {HLL_MIX_K}) % 4294967296 AS x2 FROM mx1),
exh AS (SELECT xor(x2 // 65536, x2) AS h FROM mx2),
regs AS (
  SELECT CAST(h % {m} AS INT) AS j,
         max(CASE WHEN h // {m} = 0 THEN {HLL_S}
                  ELSE {HLL_Q_BITS} - (length(bin(h // {m})) - 1) END) AS r
  FROM exh GROUP BY 1
),
sk AS (
  SELECT CAST(count(*) AS BIGINT) AS n_used,
         CAST(coalesce(sum(CAST(1 AS BIGINT) << ({HLL_S} - r)), 0) AS BIGINT) AS z_ne
  FROM regs
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(shingle_set)) AS BIGINT) AS n_doc_shingles FROM sig),
est0 AS (
  SELECT t.n_docs, t.n_doc_shingles,
         CAST({m} AS BIGINT) AS hll_m,
         CAST({m} - s.n_used AS BIGINT) AS n_zero_regs,
         CAST(s.z_ne + ({m} - s.n_used) * {two_s} AS BIGINT) AS z_scaled
  FROM tot t CROSS JOIN sk s
),
est1 AS (
  SELECT *, {HLL_NUMER} // z_scaled // 1000000 AS est_raw FROM est0
)
SELECT n_docs, n_doc_shingles, hll_m, n_zero_regs, z_scaled, est_raw,
       CASE WHEN est_raw <= {HLL_LC_MAX} AND n_zero_regs > 0
            THEN CAST(floor({m} * ln(CAST({m} AS DOUBLE) / n_zero_regs)) AS BIGINT)
            ELSE est_raw END AS est_distinct,
       round(1.0 - (CASE WHEN est_raw <= {HLL_LC_MAX} AND n_zero_regs > 0
            THEN CAST(floor({m} * ln(CAST({m} AS DOUBLE) / n_zero_regs)) AS BIGINT)
            ELSE est_raw END) / n_doc_shingles, 6) AS dup_shingle_ratio
FROM est1"""
    return stage_query(cfg, sel, id_col, table)


# ---------------------------------------------------------------------------
# Span-lane oracle: recursive-CTE replay of the greedy matcher
# ---------------------------------------------------------------------------

#: raw (case-preserving) tokenization — the Python kernel uses
#: ``signatures.ascii_tokens`` (the canonical whitespace class), so the
#: replay here spells the identical class instead of RE2's narrower \s
_RAW_TOK = (
    "list_filter(string_split_regex({c}, '" + WS_CLASS + "+'), t -> t != '')"
)


def span_ctes(cfg: DedupConfig, pair_sel: str, id_col: str = "doc_id",
              table: str = "documents", tok_a: str | None = None,
              tok_b: str | None = None, min_copy: int | None = None,
              joiner: str = " ", pre_cte: str = "",
              tok_table: str | None = None) -> str:
    """CTE chain replaying ``spans.greedy_spans`` + ``spans.extract_spans``
    (the non-SQL-expressible-looking kernel) as a DuckDB **recursive CTE**:

    * one recursion step per scan position of the greedy matcher
      (``spans.py greedy_spans``: probe the base for the current target
      token, extend the longest match, emit COPY and jump, else advance by
      one) — the working table holds one state row per (base, target) pair,
      so recursion depth = max target token count (docs are bounded;
      sf0.01 max is 99 tokens);
    * candidate base positions = EVERY occurrence of the current target
      token in base order (the production suffix-array kernel has no probe
      cap — it finds the true longest match); tie on extension length ->
      smallest base offset (both kernels keep the first maximum);
    * INSERT instructions are derived afterwards as the complement of the
      COPY spans over [0, len(B)) — instruction order is strictly
      increasing ``b_off``, so ``row_number() - 1`` reproduces ``instr_id``;
    * OMIT_LOW_DELTA: same float comparison as the kernel
      (``matched / len(B) < omit``).

    ``pair_sel`` must yield ``(sp_base, sp_target)`` — parameterized so the
    best-base pairs (dedup_spans) and the cluster-representative pairs
    (dedup_roundtrip_check) share the machinery.

    The *token domain* is parameterized too (``tok_a``/``tok_b``: SQL list
    expressions over aliases ``da``/``db``; ``min_copy``; ``joiner``;
    ``tok_table`` redirects the two ``sp_toks`` joins at a CTE injected
    via ``pre_cte``): the token-level span lane uses whitespace tokens,
    and the byte-delta lane (``bytedelta.py``) reuses the identical greedy
    machinery over content-defined byte chunks encoded as hex strings —
    the matcher only needs list element equality. ``pre_cte`` exists
    because DuckDB cannot resolve a correlated column through nested
    derived tables, so the chunker must be a standalone staged CTE.

    Bit-exactness argument: all values are integers and strings; the only
    float op is the OMIT ratio, computed with the identical IEEE-754 double
    division on both sides. Verified instruction-for-instruction against
    the Python kernel (tests/test_oracle_parity.py).
    """
    from .spans import MIN_COPY_LEN

    if min_copy is None:
        min_copy = MIN_COPY_LEN
    omit = cfg.omit_low_delta
    cand = (
        "list_filter(generate_series(0, len(p.A) - 1), "
        "q -> p.A[q + 1] = p.B[s.i + 1])"
    )
    ext = (
        "coalesce(list_min(list_transform("
        "generate_series(1, least(len(p.A) - {P}, len(p.B) - s.i)), "
        "j -> CASE WHEN p.A[{P} + j] = p.B[s.i + j] THEN NULL ELSE j END)) - 1, "
        "least(len(p.A) - {P}, len(p.B) - s.i))"
    )
    best_l = f"list_max(list_transform({cand}, q -> {ext.format(P='q')}))"
    best_a = f"list_filter({cand}, q -> {ext.format(P='q')} = ({best_l}))[1]"
    if tok_a is None:
        tok_a = _RAW_TOK.format(c="da.text")
    if tok_b is None:
        tok_b = _RAW_TOK.format(c="db.text")
    tok_tbl = tok_table or table
    return f"""
{pre_cte}span_pairs AS ({pair_sel}),
sp_toks AS MATERIALIZED (
  SELECT sp.sp_base AS id_a, sp.sp_target AS id_b,
         {tok_a} AS A, {tok_b} AS B
  FROM span_pairs sp
  JOIN {tok_tbl} da ON da.{id_col} = sp.sp_base
  JOIN {tok_tbl} db ON db.{id_col} = sp.sp_target
),
sp_steps AS (
  SELECT id_a, id_b, 0 AS i,
         CAST(NULL AS INT) AS c_a, CAST(NULL AS INT) AS c_b, CAST(NULL AS INT) AS c_l
  FROM sp_toks WHERE len(B) > 0
  UNION ALL
  SELECT s.id_a, s.id_b,
         CASE WHEN coalesce(({best_l}), 0) >= {min_copy} THEN s.i + ({best_l}) ELSE s.i + 1 END,
         CASE WHEN coalesce(({best_l}), 0) >= {min_copy} THEN ({best_a}) END,
         CASE WHEN coalesce(({best_l}), 0) >= {min_copy} THEN s.i END,
         CASE WHEN coalesce(({best_l}), 0) >= {min_copy} THEN ({best_l}) END
  FROM sp_steps s JOIN sp_toks p ON p.id_a = s.id_a AND p.id_b = s.id_b
  WHERE s.i < len(p.B)
),
sp_copies AS MATERIALIZED (
  SELECT id_a, id_b, c_a AS a_off, c_b AS b_off, c_l AS length
  FROM sp_steps WHERE c_l IS NOT NULL
),
sp_gap_before AS (
  SELECT id_a, id_b,
         lag(b_off + length, 1, 0) OVER (PARTITION BY id_a, id_b ORDER BY b_off) AS gb_off,
         b_off AS gb_end
  FROM sp_copies
),
sp_max_end AS (
  SELECT id_a, id_b, max(b_off + length) AS max_end FROM sp_copies GROUP BY 1, 2
),
sp_inserts AS (
  SELECT id_a, id_b, gb_off AS b_off, gb_end - gb_off AS length
  FROM sp_gap_before WHERE gb_end > gb_off
  UNION ALL
  SELECT p.id_a, p.id_b, coalesce(m.max_end, 0) AS b_off,
         len(p.B) - coalesce(m.max_end, 0) AS length
  FROM sp_toks p LEFT JOIN sp_max_end m ON m.id_a = p.id_a AND m.id_b = p.id_b
  WHERE len(p.B) > coalesce(m.max_end, 0) AND len(p.B) > 0
),
sp_instrs0 AS MATERIALIZED (
  SELECT id_a, id_b, 'COPY' AS kind, a_off, b_off, length, CAST(NULL AS VARCHAR) AS payload
  FROM sp_copies
  UNION ALL
  SELECT i.id_a, i.id_b, 'INSERT', -1, i.b_off, i.length,
         array_to_string(p.B[i.b_off + 1 : i.b_off + i.length], '{joiner}')
  FROM sp_inserts i JOIN sp_toks p ON p.id_a = i.id_a AND p.id_b = i.id_b
),
sp_matched AS (
  SELECT p.id_a, p.id_b, len(p.B) AS nb,
         coalesce(sum(CASE WHEN x.kind = 'COPY' THEN x.length END), 0) AS matched
  FROM sp_toks p LEFT JOIN sp_instrs0 x ON x.id_a = p.id_a AND x.id_b = p.id_b
  WHERE len(p.B) > 0
  GROUP BY 1, 2, 3
),
sp_low AS (
  SELECT id_a, id_b, nb FROM sp_matched WHERE CAST(matched AS DOUBLE) / nb < {omit}
),
sp_spans AS MATERIALIZED (
  SELECT id_a, id_b,
         CAST(row_number() OVER (PARTITION BY id_a, id_b ORDER BY b_off) - 1 AS INT) AS instr_id,
         kind, CAST(a_off AS INT) AS a_off, CAST(b_off AS INT) AS b_off,
         CAST(length AS INT) AS length, payload
  FROM (
    SELECT i.* FROM sp_instrs0 i ANTI JOIN sp_low l ON l.id_a = i.id_a AND l.id_b = i.id_b
    UNION ALL
    SELECT l.id_a, l.id_b, 'INSERT', -1, 0, l.nb, array_to_string(p.B, '{joiner}')
    FROM sp_low l JOIN sp_toks p ON p.id_a = l.id_a AND p.id_b = l.id_b
  )
)"""


#: best-base pair selection (mirrors candidates.best_base over verified)
BEST_BASE_PAIR_SEL = """
  SELECT id_a AS sp_base, id_b AS sp_target FROM (
    SELECT id_a, id_b, row_number() OVER (PARTITION BY id_b
        ORDER BY n_matching_bands DESC, n_eq DESC, id_a ASC) AS rn
    FROM verified) WHERE rn = 1
"""

#: cluster-representative pair selection (mirrors spans.pair_texts_from_clusters)
CLUSTER_PAIR_SEL = """
  SELECT cluster_id AS sp_base, id AS sp_target FROM clusters WHERE id != cluster_id
"""


def span_stage_query(cfg: DedupConfig, select: str, pair_sel: str = BEST_BASE_PAIR_SEL,
                     id_col: str = "doc_id", table: str = "documents",
                     **span_kw) -> str:
    return (
        f"WITH RECURSIVE {pipeline_ctes(cfg, id_col, table)},"
        f"{span_ctes(cfg, pair_sel, id_col, table, **span_kw)}\n{select}"
    )


def roundtrip_check_sql(cfg: DedupConfig, id_col: str = "doc_id",
                        table: str = "documents") -> str:
    """CHECK_DECOMPRESS analog (``/root/reference/jpeg.c:583-603``): rebuild
    every cluster member from its representative + instruction stream and
    byte-compare against the original text."""
    recon = """
  SELECT s.id_b, string_agg(
    CASE WHEN s.kind = 'COPY'
         THEN array_to_string(p.A[s.a_off + 1 : s.a_off + s.length], ' ')
         ELSE s.payload END, ' ' ORDER BY s.instr_id) AS reconstructed_text
  FROM sp_spans s JOIN sp_toks p ON p.id_a = s.id_a AND p.id_b = s.id_b
  GROUP BY 1
"""
    return span_stage_query(
        cfg,
        f"SELECT r.id_b AS target_id, (r.reconstructed_text = d.text) AS byte_identical\n"
        f"FROM ({recon}) r JOIN {table} d ON d.{id_col} = r.id_b",
        pair_sel=CLUSTER_PAIR_SEL,
        id_col=id_col,
        table=table,
    )


SPAN_SUMMARY_SELECT = """
SELECT id_a, id_b,
  CAST(sum(CASE WHEN kind = 'COPY' THEN length ELSE 0 END) AS BIGINT) AS copied_tokens,
  CAST(sum(CASE WHEN kind = 'INSERT' THEN length ELSE 0 END) AS BIGINT) AS inserted_tokens,
  CAST(count(*) AS BIGINT) AS n_instructions,
  round(sum(CASE WHEN kind = 'COPY' THEN length ELSE 0 END)
        / (sum(CASE WHEN kind = 'COPY' THEN length ELSE 0 END)
           + sum(CASE WHEN kind = 'INSERT' THEN length ELSE 0 END)), 6) AS matched_fraction
FROM sp_spans GROUP BY 1, 2"""


DEDUP_RATIO_SELECT = f"""
SELECT CAST(sum(copied_tokens) AS BIGINT) AS copied_tokens,
       CAST(sum(inserted_tokens) AS BIGINT) AS inserted_tokens,
       round(sum(copied_tokens) / (sum(copied_tokens) + sum(inserted_tokens)), 6)
         AS dedup_fraction
FROM ({SPAN_SUMMARY_SELECT})"""
