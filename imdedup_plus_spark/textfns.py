"""Text-analysis operators for a training-data pipeline.

Beyond the reference's own operator set (SURVEY.md §2.2): token counting,
quality scoring, language-ID heuristic, document fingerprinting, SimHash.
Every function is implemented twice from the same constants — as Spark
built-in expressions (JVM-side) or a numpy kernel, and as DuckDB oracle
SQL — with arithmetic restricted to integers / well-ordered folds so the
side-by-side check is bit-exact. ``fingerprint`` has only the kernel form,
shared with the signature stage. ``floor()`` (not casts) converts ratios
to integers: Spark CAST truncates while DuckDB CAST rounds, so casts on
ratios would diverge.

Scale notes: all are narrow per-row maps over ``tokens``; no shuffles
except the final groupBys of the fingerprint dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .config import HASH_MOD, SHINGLE_MULT
from .signatures import tokens_expr, word_hashes_expr

STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "for", "on", "that"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "auf"),
    "fr": ("le", "la", "les", "et", "est", "dans", "un", "une", "pour", "que"),
    "es": ("el", "los", "y", "es", "en", "un", "una", "por", "para", "con"),
}
LANG_ORDER = ("en", "de", "fr", "es")
SIMHASH_BITS = 32


def _inlist(vals: tuple[str, ...]) -> str:
    return ", ".join(f"'{v}'" for v in vals)


# ---------------------------------------------------------------------------
# Spark expressions (over a df that already has `tokens`)
# ---------------------------------------------------------------------------


def token_stats(docs: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """(id, n_tokens, total_token_chars, n_chars)."""
    return docs.select(
        F.col(id_col),
        F.expr(f"CAST(size({tokens_expr(text_col)}) AS BIGINT)").alias("n_tokens"),
        F.expr(
            f"aggregate(transform({tokens_expr(text_col)}, t -> CAST(length(t) AS BIGINT)),"
            " 0L, (a, x) -> a + x)"
        ).alias("total_token_chars"),
        F.expr(f"CAST(length({text_col}) AS BIGINT)").alias("n_chars"),
    )


#: BPE-ish pre-tokenizer: letter runs, digit runs, single other-glyphs.
#: The three alternatives match DISJOINT character classes, so
#: leftmost-first (Java regex) and leftmost-longest agree — the count is
#: engine-independent by construction (same string in DuckDB's RE2).
#: the whitespace atom is the engine's canonical 6-char WS class spelled
#: explicitly — `\s` is NOT portable between the two compilers: Java's
#: \s includes \x0B (vertical tab), RE2's does not, so a \x0B-bearing
#: text counted differently per engine (found by differential fuzz)
BPE_PATTERN = r"\p{L}+|\p{N}+|[^\p{L}\p{N} \t\n\x0B\f\r]"


def bpe_token_stats(docs: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """(id, n_bpe_tokens, n_ws_tokens): subword-style pre-tokenizer count
    next to the whitespace count — the pair a training-data pipeline uses
    to budget sequence lengths before real BPE runs. All JVM built-ins
    (regexp_extract_all), narrow map."""
    return docs.select(
        F.col(id_col),
        F.size(
            F.regexp_extract_all(F.col(text_col), F.lit(BPE_PATTERN), F.lit(0))
        ).cast("bigint").alias("n_bpe_tokens"),
        F.expr(f"CAST(size({tokens_expr(text_col)}) AS BIGINT)").alias("n_ws_tokens"),
    )


def bpe_token_stats_sql(id_col: str, table: str = "documents") -> str:
    from .oracle import tokens_sql

    toks = tokens_sql("text")
    return f"""
SELECT {id_col},
  CAST(len(regexp_extract_all(text, '{BPE_PATTERN}')) AS BIGINT) AS n_bpe_tokens,
  CAST(len({toks}) AS BIGINT) AS n_ws_tokens
FROM {table}"""


def quality_score(docs: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Heuristic quality features, all integer (permille ratios via floor):
    stopword density, punctuation density, mean token length, plus the
    composite ``quality_permille`` (stopword-rich, moderately long tokens =
    high quality — the usual web-text filter shape)."""
    toks = tokens_expr(text_col)
    all_stop = _inlist(tuple(w for ws in STOPWORDS.values() for w in ws))
    punct_cls = "[.,!?;:]"
    return docs.select(
        F.col(id_col),
        F.expr(f"CAST(size({toks}) AS BIGINT)").alias("n_tokens"),
        F.expr(
            f"CAST(size(filter({toks}, t -> t IN ({all_stop}))) AS BIGINT)"
        ).alias("n_stopwords"),
        F.expr(
            f"CAST(length({text_col}) - length(regexp_replace({text_col}, "
            f"'{punct_cls}', '')) AS BIGINT)"
        ).alias("n_punct"),
    ).select(
        id_col,
        "n_tokens",
        "n_stopwords",
        "n_punct",
        F.expr(
            "CASE WHEN n_tokens = 0 THEN CAST(0 AS BIGINT) ELSE "
            "CAST(floor(1000.0 * n_stopwords / n_tokens) AS BIGINT) END"
        ).alias("stopword_permille"),
        F.expr(
            "CASE WHEN n_tokens = 0 THEN CAST(0 AS BIGINT) ELSE CAST(least(1000, "
            "floor(500.0 * n_stopwords / n_tokens) + "
            "CASE WHEN n_tokens >= 50 THEN 500 ELSE floor(10.0 * n_tokens) END"
            ") AS BIGINT) END"
        ).alias("quality_permille"),
    )


def lang_id(docs: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Stopword-vote language ID; deterministic argmax in LANG_ORDER."""
    toks = tokens_expr(text_col)
    sel = [F.col(id_col)]
    for lg in LANG_ORDER:
        sel.append(
            F.expr(
                f"CAST(size(filter({toks}, t -> t IN ({_inlist(STOPWORDS[lg])}))) "
                "AS BIGINT)"
            ).alias(f"h_{lg}")
        )
    base = docs.select(*sel)
    cases = []
    for lg in LANG_ORDER:
        conds = " AND ".join(
            f"h_{lg} >= h_{other}" for other in LANG_ORDER if other != lg
        )
        cases.append(f"WHEN h_{lg} > 0 AND {conds} THEN '{lg}'")
    pred = "CASE " + " ".join(cases) + " ELSE 'unknown' END"
    return base.select(id_col, *[f"h_{lg}" for lg in LANG_ORDER], F.expr(pred).alias("predicted_lang"))


def fingerprint(docs: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Whole-document rolling hash (the FIX_OPTI exact-dup prepass analog,
    reference ``2df.c:477-494``): fold the word-hash stream with
    ``(a*SHINGLE_MULT + h) % 2**31``. NULL text gives NULL, token-free
    text 0 (``fingerprint_sql``).

    The fold is the signature kernel's (``signatures._doc_fingerprints``
    over ``_flat_word_hashes``), so this and the pipeline's single text
    pass (``signature_kernel_arrow(..., fingerprint=True)``) agree bit for
    bit."""
    import numpy as np
    import pandas as pd

    from .signatures import _doc_fingerprints, _flat_word_hashes, _iter_text_chunks

    def fn(batches):
        for pdf in batches:
            null = pdf[text_col].isna().values
            texts = np.where(null, "", pdf[text_col].values)
            fps = [np.empty(0, np.int64)]
            for chunk, _ in _iter_text_chunks(range(len(texts)), texts):
                wh_all, _, n_tok = _flat_word_hashes(chunk)
                fps.append(_doc_fingerprints(wh_all, n_tok))
            fp = pd.array(np.concatenate(fps), dtype="Int64")
            fp[null] = pd.NA
            yield pd.DataFrame({id_col: pdf[id_col].values, "fingerprint": fp})

    id_type = docs.schema[id_col].dataType.simpleString()
    return docs.select(id_col, text_col).mapInPandas(
        fn, schema=f"{id_col} {id_type}, fingerprint bigint"
    )


def exact_dup_groups(docs: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Exact-duplicate assignment: every doc -> representative (min id of
    its identical-fingerprint group) + group size. The cheap pre-pass that
    removes identical docs before LSH (SURVEY.md §4 FIX_OPTI row).

    ``docs`` may already carry ``fingerprint`` (the pipeline passes the
    signature stage's ``(id, fingerprint)`` rows, so neither side of the
    join below reads text); otherwise it is folded from ``text_col``.
    Aggregate-then-join rather than a window: a huge group (one page
    copied millions of times) stays a map-side partial aggregate plus a
    skew-splittable join, never one buffered window partition. NULL-text
    docs have no group (the equi-join drops them, as in
    ``exact_dup_groups_sql``)."""
    fp = (
        docs.select(id_col, "fingerprint")
        if "fingerprint" in docs.columns
        else fingerprint(docs, id_col, text_col)
    )
    grp = fp.groupBy("fingerprint").agg(
        F.min(id_col).alias("exact_rep"),
        F.count(F.lit(1)).cast("long").alias("group_size"),
    )
    return fp.join(grp, "fingerprint").select(id_col, "fingerprint", "exact_rep", "group_size")


def simhash(docs: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """32-bit SimHash over word hashes: bit b set iff strictly more than
    half the tokens have bit b set. Integer-only; BIGINT result."""
    whs = word_hashes_expr(tokens_expr(text_col))
    expr = (
        f"aggregate(sequence(0, {SIMHASH_BITS - 1}), 0L, (acc, b) -> acc + "
        f"CASE WHEN 2 * size(filter({whs}, h -> (h div shiftleft(CAST(1 AS BIGINT), b)) % 2 = 1)) "
        f"> size({whs}) THEN shiftleft(CAST(1 AS BIGINT), b) ELSE 0L END)"
    )
    return docs.select(F.col(id_col), F.expr(expr).alias("simhash"))


SIMHASH_PAIR_BITS = 48  # shingle-simhash width for the pairing lane
SIMHASH_BITS_PER_PERM = 24  # bits 0..23 of each LCG permutation
SIMHASH_BANDS = 4  # 4 bands x 12 bits
SIMHASH_MAX_HAMMING = 3  # pigeonhole: <=3 flipped bits leave >=1 band intact


def _simhash_sh_perm_bits() -> list[tuple[int, int, int]]:
    """(k, b, bit_in_perm) per simhash bit — bit j tests bit ``j % 24`` of
    the LCG-permuted shingle under permutation ``j // 24``."""
    from .config import REFERENCE_CONFIG

    ks, bs = REFERENCE_CONFIG.perms
    out = []
    for j in range(SIMHASH_PAIR_BITS):
        p = j // SIMHASH_BITS_PER_PERM
        out.append((ks[p], bs[p], j % SIMHASH_BITS_PER_PERM))
    return out


def simhash_sh(docs: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """48-bit SimHash over *shingle* hashes (not word hashes): bit j is the
    majority vote of bit ``j%24`` of LCG-permutation ``j//24`` applied to
    each shingle. Word-hash simhash bits are heavily correlated across
    same-language docs (every page votes 'the'); shingle sets differ
    per document, so accidental collisions vanish while true near-dups
    (shared shingles) still agree."""
    from .config import PERM_P, REFERENCE_CONFIG as _CFG
    from .signatures import shingles_expr

    base = docs.select(
        F.col(id_col),
        F.expr(
            shingles_expr(word_hashes_expr(tokens_expr(text_col)), _CFG.shingle_window)
        ).alias("shingles"),
    )
    terms = []
    for j, (k, b, r) in enumerate(_simhash_sh_perm_bits()):
        cnt = (
            f"size(filter(shingles, s -> "
            f"((({k} * s + {b}) % {PERM_P}) div {1 << r}) % 2 = 1))"
        )
        terms.append(
            f"CASE WHEN 2 * {cnt} > size(shingles) "
            f"THEN CAST({1 << j} AS BIGINT) ELSE 0L END"
        )
    return base.select(F.col(id_col), F.expr(" + ".join(terms)).alias("simhash"))


def simhash_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str = "text",
    max_hamming: int = SIMHASH_MAX_HAMMING,
    n_bands: int = SIMHASH_BANDS,
) -> DataFrame:
    """SimHash-based near-duplicate pairing (the cheap fallback lane next
    to MinHash/LSH): band the 48-bit shingle-simhash into ``n_bands``
    12-bit bands, self-join on (band_id, band_val), keep distinct pairs
    whose full Hamming distance is <= ``max_hamming``.

    Exactness guarantee: a pair at Hamming distance d <= n_bands - 1 must
    agree on at least one band (pigeonhole), so for d <= 3 with 4 bands the
    banding loses nothing — this is an exact near-dup join, not
    approximate. Scale shape: identical to the MinHash LSH stage (one
    shuffle on band key, quadratic only within buckets), so the same
    bucket-cap treatment applies at 10^12 docs.
    """
    bits_per = SIMHASH_PAIR_BITS // n_bands
    sh = simhash_sh(docs, id_col, text_col)
    bands = sh.select(
        F.col(id_col),
        "simhash",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {n_bands - 1}), j -> "
                f"(simhash div shiftleft(CAST(1 AS BIGINT), j * {bits_per})) "
                f"% {1 << bits_per})"
            )
        ).alias("band_id", "band_val"),
    )
    a = bands.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"),
        "band_id", "band_val",
    )
    b = bands.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"),
        "band_id", "band_val",
    )
    return (
        a.join(b, ["band_id", "band_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.expr("CAST(bit_count(sh_a ^ sh_b) AS INT)").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# DuckDB oracle SQL (same constants, same arithmetic)
# ---------------------------------------------------------------------------


def token_stats_sql(id_col: str, table: str = "documents") -> str:
    from .oracle import tokens_sql

    toks = tokens_sql("text")
    return f"""
SELECT {id_col},
  CAST(len({toks}) AS BIGINT) AS n_tokens,
  CAST(CASE WHEN text IS NULL THEN NULL
       ELSE coalesce(list_aggregate(list_transform({toks}, t -> CAST(length(t) AS BIGINT)), 'sum'), 0)
       END AS BIGINT) AS total_token_chars,
  CAST(length(text) AS BIGINT) AS n_chars
FROM {table}"""


def quality_score_sql(id_col: str, table: str = "documents") -> str:
    from .oracle import tokens_sql

    toks = tokens_sql("text")
    all_stop = _inlist(tuple(w for ws in STOPWORDS.values() for w in ws))
    return f"""
WITH q AS (
  SELECT {id_col},
    CAST(len({toks}) AS BIGINT) AS n_tokens,
    CAST(len(list_filter({toks}, t -> t IN ({all_stop}))) AS BIGINT) AS n_stopwords,
    CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct
  FROM {table}
)
SELECT {id_col}, n_tokens, n_stopwords, n_punct,
  CASE WHEN n_tokens = 0 THEN CAST(0 AS BIGINT) ELSE CAST(floor(1000.0 * n_stopwords / n_tokens) AS BIGINT) END AS stopword_permille,
  CASE WHEN n_tokens = 0 THEN CAST(0 AS BIGINT) ELSE CAST(least(1000, floor(500.0 * n_stopwords / n_tokens) + CASE WHEN n_tokens >= 50 THEN 500 ELSE floor(10.0 * n_tokens) END) AS BIGINT) END AS quality_permille
FROM q"""


def lang_id_sql(id_col: str, table: str = "documents") -> str:
    from .oracle import tokens_sql

    toks = tokens_sql("text")
    hits = ",\n    ".join(
        f"CAST(len(list_filter({toks}, t -> t IN ({_inlist(STOPWORDS[lg])}))) AS BIGINT) AS h_{lg}"
        for lg in LANG_ORDER
    )
    cases = []
    for lg in LANG_ORDER:
        conds = " AND ".join(f"h_{lg} >= h_{o}" for o in LANG_ORDER if o != lg)
        cases.append(f"WHEN h_{lg} > 0 AND {conds} THEN '{lg}'")
    pred = "CASE " + " ".join(cases) + " ELSE 'unknown' END"
    return f"""
WITH h AS (
  SELECT {id_col},
    {hits}
  FROM {table}
)
SELECT {id_col}, h_en, h_de, h_fr, h_es, {pred} AS predicted_lang FROM h"""


def fingerprint_sql(id_col: str, table: str = "documents") -> str:
    from .oracle import tokens_sql, word_hashes_sql

    whs = word_hashes_sql(tokens_sql("text"))
    return f"""
SELECT {id_col},
  CASE WHEN len({whs}) = 0 THEN CAST(0 AS BIGINT)
       ELSE list_reduce({whs}, (a, h) -> (a * {SHINGLE_MULT} + h) % {HASH_MOD}) END AS fingerprint
FROM {table}"""


def exact_dup_groups_sql(id_col: str, table: str = "documents") -> str:
    fp = fingerprint_sql(id_col, table)
    return f"""
WITH fp AS ({fp}),
grp AS (
  SELECT fingerprint, min({id_col}) AS exact_rep, CAST(count(*) AS BIGINT) AS group_size
  FROM fp GROUP BY 1
)
SELECT f.{id_col}, f.fingerprint, g.exact_rep, g.group_size
FROM fp f JOIN grp g USING (fingerprint)"""


def simhash_sql(id_col: str, table: str = "documents") -> str:
    from .oracle import tokens_sql, word_hashes_sql

    whs = word_hashes_sql(tokens_sql("text"))
    return f"""
WITH w AS (SELECT {id_col}, {whs} AS whs FROM {table})
SELECT {id_col},
  CAST(coalesce(list_aggregate(list_transform(generate_series(0, {SIMHASH_BITS - 1}), b ->
    CASE WHEN 2 * len(list_filter(whs, h -> (h // (CAST(1 AS BIGINT) << b)) % 2 = 1)) > len(whs)
         THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END), 'sum'), 0) AS BIGINT) AS simhash
FROM w"""


def simhash_sh_sql(id_col: str, table: str = "documents") -> str:
    from .config import PERM_P, REFERENCE_CONFIG as _CFG
    from .oracle import shingles_sql, tokens_sql, word_hashes_sql

    shingles = shingles_sql(word_hashes_sql(tokens_sql("text")), _CFG.shingle_window)
    terms = []
    for j, (k, b, r) in enumerate(_simhash_sh_perm_bits()):
        cnt = (
            f"len(list_filter(shingles, s -> "
            f"((({k} * s + {b}) % {PERM_P}) // {1 << r}) % 2 = 1))"
        )
        terms.append(
            f"CASE WHEN 2 * {cnt} > len(shingles) "
            f"THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        )
    total = " + ".join(terms)
    return f"""
WITH shg AS (SELECT {id_col}, {shingles} AS shingles FROM {table})
SELECT {id_col}, {total} AS simhash FROM shg"""


def simhash_pairs_sql(
    id_col: str,
    table: str = "documents",
    max_hamming: int = SIMHASH_MAX_HAMMING,
    n_bands: int = SIMHASH_BANDS,
) -> str:
    bits_per = SIMHASH_PAIR_BITS // n_bands
    sh = simhash_sh_sql(id_col, table)
    return f"""
WITH sh AS ({sh}),
bands AS (
  SELECT {id_col}, simhash, CAST(t.j AS INT) AS band_id,
         (simhash >> (CAST(t.j AS INT) * {bits_per})) % {1 << bits_per} AS band_val
  FROM sh CROSS JOIN (SELECT range AS j FROM range(0, {n_bands})) t
)
SELECT DISTINCT a.{id_col} AS id_a, b.{id_col} AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM bands a JOIN bands b
  ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.{id_col} < b.{id_col}
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}"""


def simhash_sh_kernel(docs: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """numpy twin of ``simhash_sh`` — identical 48-bit values (tested),
    Arrow-batched execution. The HOF form evaluates 48 interpreted
    ``filter`` lambdas per document; this runs the shared chunked-flat
    tokenizer/hasher (``signatures._flat_word_hashes`` — zero per-token
    Python) and computes the per-bit majority votes as 48 one-dimensional
    segment reductions over the chunk's flat shingle array."""
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator

    from .config import PERM_P, REFERENCE_CONFIG as _CFG
    from .signatures import _flat_shingles, _flat_word_hashes, _iter_text_chunks

    win = _CFG.shingle_window
    perm_bits = _simhash_sh_perm_bits()
    # group by permutation: (k, b) -> list of bit positions r
    k0, b0, _ = perm_bits[0]
    k1, b1, _ = perm_bits[SIMHASH_BITS_PER_PERM]
    P = np.uint64(PERM_P)
    W0 = np.uint64(1) << np.arange(0, SIMHASH_BITS_PER_PERM, dtype=np.uint64)
    W1 = np.uint64(1) << np.arange(
        SIMHASH_BITS_PER_PERM, SIMHASH_PAIR_BITS, dtype=np.uint64
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, out = [], []
            for chunk_texts, ids_chunk in _iter_text_chunks(
                pdf[id_col].values, pdf[text_col].values
            ):
                ids.extend(ids_chunk)
                wh_all, wdoc, n_tok = _flat_word_hashes(chunk_texts)
                keep = n_tok >= win
                nk = int(keep.sum())
                h = np.zeros(len(chunk_texts), dtype=np.uint64)
                if nk:
                    wh = wh_all[keep[wdoc]]
                    sh, sh_starts, n_sh = _flat_shingles(wh, n_tok[keep], win)
                    hk = np.zeros(nk, dtype=np.uint64)
                    for (k, b, weights) in ((k0, b0, W0), (k1, b1, W1)):
                        p = (sh * np.uint64(k) + np.uint64(b)) % P
                        for r, w in enumerate(weights):
                            bit = (p >> np.uint64(r)) & np.uint64(1)
                            counts = np.add.reduceat(bit, sh_starts)
                            hk += np.where(2 * counts > n_sh, w, np.uint64(0))
                    h[keep] = hk
                out.extend(h.astype(np.int64).tolist())
            yield pd.DataFrame({id_col: ids, "simhash": np.array(out, dtype=np.int64)})

    id_type = docs.schema[id_col].dataType.simpleString()
    return docs.select(id_col, text_col).mapInPandas(
        fn, schema=f"{id_col} {id_type}, simhash bigint"
    )


def simhash_pairs_kernel(
    docs: DataFrame,
    id_col: str,
    text_col: str = "text",
    max_hamming: int = SIMHASH_MAX_HAMMING,
    n_bands: int = SIMHASH_BANDS,
) -> DataFrame:
    """``simhash_pairs`` with the kernel simhash (identical output)."""
    bits_per = SIMHASH_PAIR_BITS // n_bands
    sh = simhash_sh_kernel(docs, id_col, text_col)
    bands = sh.select(
        F.col(id_col),
        "simhash",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {n_bands - 1}), j -> "
                f"(simhash div shiftleft(CAST(1 AS BIGINT), j * {bits_per})) "
                f"% {1 << bits_per})"
            )
        ).alias("band_id", "band_val"),
    )
    a = bands.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"),
        "band_id", "band_val",
    )
    b = bands.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"),
        "band_id", "band_val",
    )
    return (
        a.join(b, ["band_id", "band_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.expr("CAST(bit_count(sh_a ^ sh_b) AS INT)").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_kernel(docs: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """numpy twin of ``simhash`` (32-bit word-hash SimHash) — identical
    values; shared chunked-flat tokenizer/hasher + 32 one-dimensional
    segment reductions for the per-bit majority votes."""
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator

    from .signatures import _flat_word_hashes, _iter_text_chunks

    W = np.uint64(1) << np.arange(SIMHASH_BITS, dtype=np.uint64)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, out = [], []
            for chunk_texts, ids_chunk in _iter_text_chunks(
                pdf[id_col].values, pdf[text_col].values
            ):
                ids.extend(ids_chunk)
                wh_all, wdoc, n_tok = _flat_word_hashes(chunk_texts)
                keep = n_tok > 0
                nk = int(keep.sum())
                h = np.zeros(len(chunk_texts), dtype=np.uint64)
                if nk:
                    wh = wh_all[keep[wdoc]]
                    n_tok_k = n_tok[keep]
                    tstarts = np.concatenate(([0], np.cumsum(n_tok_k)[:-1]))
                    hk = np.zeros(nk, dtype=np.uint64)
                    for r, w in enumerate(W):
                        bit = (wh >> np.uint64(r)) & np.uint64(1)
                        counts = np.add.reduceat(bit, tstarts)
                        hk += np.where(2 * counts > n_tok_k, w, np.uint64(0))
                    h[keep] = hk
                out.extend(h.astype(np.int64).tolist())
            yield pd.DataFrame({id_col: ids, "simhash": np.array(out, dtype=np.int64)})

    id_type = docs.schema[id_col].dataType.simpleString()
    return docs.select(id_col, text_col).mapInPandas(
        fn, schema=f"{id_col} {id_type}, simhash bigint"
    )
