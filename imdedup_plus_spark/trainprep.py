"""Training-data preparation lanes over the web-text corpus.

The reference dedups a FILE corpus; an LLM training pipeline additionally
needs corpus-level text hygiene. This module adds the four standard
operators of that pipeline, each re-expressed Spark-first with the
repo's two-compilers discipline (one arithmetic, a Spark Column/SQL form
AND a bit-identical DuckDB form; see ``signatures.py`` / ``oracle.py``):

* **Cross-document duplicated-span removal** (Lee et al. 2022,
  "Deduplicating Training Data Makes Language Models Better"): find every
  maximal token span whose ``window``-gram content occurs >= ``min_count``
  times corpus-wide, per document — the *global* analog of the
  reference's per-pair block-index matching (``/root/reference/index.c:38-267``
  finds repeated blocks between ONE target and ONE base; this lane finds
  repeated n-grams across the WHOLE corpus, then merges their positions
  into maximal intervals).
* **Test-set decontamination**: flag documents sharing any ``window``-gram
  with a benchmark snippet table (the n-gram-overlap rule used by GPT-3 /
  PaLM / Llama data cards; 13-grams by default).
* **Line-level dedup** (CCNet / RefinedWeb): lines occurring in >=
  ``min_docs`` distinct documents are boilerplate (nav bars, cookie
  banners); per-document retained ratio after dropping them.
* **Deterministic stratified sampling**: language-stratified Bernoulli
  sampling by a hash of the id — reproducible across runs/engines, no RNG.
* **Sequence packing**: concat-and-chunk assignment of documents into
  fixed ``ctx``-token training chunks over ``n_buckets`` independent
  streams.

Scale notes (100 TB):

* The dup-span / line lanes shuffle on the n-gram/line hash once
  (map-side-combined count), keep only hashes with count >= threshold
  (a tiny fraction of the universe), and join BACK on the same hash —
  the join reuses the aggregation's hash partitioning, and AQE handles
  hot boilerplate hashes (the exact skew the band lane caps).
  The per-document interval merge is a window over O(tokens-per-doc)
  rows — never corpus-wide.
* Decontamination's benchmark n-gram set is tiny (benchmarks are KBs,
  corpora are TBs): ``broadcast()`` semi-join, zero shuffle of the
  corpus side. At extreme benchmark sizes swap in a Bloom filter
  (``F.try_element_at`` of a broadcast bitmap) — same plan shape.
* Sampling is a narrow filter (no shuffle at all); packing is one
  window per pack bucket, with ``n_buckets`` sized to the cluster so
  every stream sorts only corpus/``n_buckets`` rows.

No Python appears in any of these paths — pure JVM expressions end to
end, and every query output is scalar columns only (driver contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .config import HASH_MOD, PERM_P, SHINGLE_MULT, WORD_MULT
from .oracle import shingles_sql, tokens_sql, word_hashes_sql
from .signatures import (
    WS_CLASS,
    WS_CLASS_SQL_LIT,
    shingles_expr,
    tokens_expr,
    word_hashes_expr,
)

#: n-gram width for duplicated-span and decontamination lanes — the
#: 13-gram rule from the GPT-3/PaLM data cards (public), NOT the MinHash
#: shingle window (config.shingle_window is reference-parity-bound).
DUP_NGRAM = 13
#: pseudo-line width in tokens. The synthetic corpus carries no newlines,
#: so "lines" are fixed token windows; on real web text swap the splitter
#: to split(text, '\n') in BOTH compilers (one-line change each) — every
#: downstream expression (hash, frequency, clean ratio) is unchanged.
LINE_TOKENS = 8
#: packing defaults: training context length and independent pack streams
PACK_CTX = 512
PACK_BUCKETS = 8
#: deterministic sampling LCG (public PCG64 multiplier/increment, reduced
#: mod the engine's Mersenne prime so products stay BIGINT-safe)
SAMPLE_MULT = 6364136223846793005 % PERM_P
SAMPLE_INC = 1442695040888963407 % PERM_P
#: default language-stratified keep rates (permille)
SAMPLE_RATES = {"en": 800, "de": 500, "fr": 250, "es": 125}


# ---------------------------------------------------------------------------
# shared expression builders (Spark + DuckDB twins)
# ---------------------------------------------------------------------------


def line_hashes_expr(wh_col: str, line_tokens: int = LINE_TOKENS) -> str:
    """Spark: hash of each consecutive ``line_tokens``-token group (last
    group may be partial) — same polynomial combiner as shingles."""
    n_lines = f"CAST(floor((size({wh_col}) - 1) / {line_tokens}) AS INT)"
    return (
        f"CASE WHEN size({wh_col}) = 0 THEN array() "
        f"ELSE transform(sequence(0, {n_lines}), i -> "
        f"aggregate(slice({wh_col}, i * {line_tokens} + 1, {line_tokens}), 0L, "
        f"(acc, h) -> (acc * {SHINGLE_MULT} + h) % {HASH_MOD})) END"
    )


def line_hashes_sql(wh: str, line_tokens: int = LINE_TOKENS) -> str:
    """DuckDB twin of ``line_hashes_expr`` (list_reduce == fold-with-init-0
    for this combiner; list slicing clamps like Spark ``slice``)."""
    n_lines = f"CAST(floor((len({wh}) - 1) / {line_tokens}) AS BIGINT) + 1"
    return (
        f"CASE WHEN len({wh}) = 0 THEN [] "
        f"ELSE list_transform(generate_series(1, {n_lines}), i -> "
        f"list_reduce({wh}[(i - 1) * {line_tokens} + 1 : (i - 1) * {line_tokens} + {line_tokens}], "
        f"(a, b) -> (a * {SHINGLE_MULT} + b) % {HASH_MOD})) END"
    )


#: real-text splitter patterns (``line_split="newline"``): the Python
#: strings hold regex chars backslash+n — a pattern both Java and RE2
#: compile to the same newline match. Paragraph = blank-line separator
#: (two consecutive newlines), the Gopher convention.
LINE_SEP_PAT = r"\n"
PARA_SEP_PAT = r"\n\n"
#: valid values for the ``line_split`` knob
LINE_SPLIT_MODES = ("tokens", "newline")


def _check_line_split(line_split: str) -> None:
    if line_split not in LINE_SPLIT_MODES:
        raise ValueError(
            f"line_split must be one of {LINE_SPLIT_MODES}, got "
            f"{line_split!r}"
        )


def text_line_hashes_expr(text_col: str, sep_pat: str) -> str:
    """Spark: per-LINE hash array of real text — split ``text_col`` on
    the ``sep_pat`` regex, drop token-free segments (blank lines, runs
    of separators), hash each remaining segment's word-hash list with
    the SAME Horner combiner as :func:`line_hashes_expr`. This is the
    documented one-line splitter swap (VERDICT r04 Missing #3) promoted
    to a parameter: every downstream expression (frequency, boilerplate
    join, clean ratio, Gopher dup fractions) is unchanged.

    Spark string literals re-escape backslashes (see ``hygiene._sq``),
    so the regex backslash is doubled here; DuckDB takes the pattern
    verbatim (``text_line_hashes_sql``)."""
    sp = sep_pat.replace("\\", "\\\\")
    toks = f"filter(split(lower(seg), '{WS_CLASS_SQL_LIT}+'), t -> t != '')"
    whs = (
        f"transform({toks}, w -> aggregate(split(w, ''), 0L, "
        f"(acc, c) -> (acc * {WORD_MULT} + ascii(c)) % {HASH_MOD}))"
    )
    segs = f"filter(split({text_col}, '{sp}'), seg -> size({toks}) > 0)"
    return (
        f"transform({segs}, seg -> aggregate({whs}, 0L, "
        f"(la, lw) -> (la * {SHINGLE_MULT} + lw) % {HASH_MOD}))"
    )


def text_line_hashes_sql(text: str, sep_pat: str) -> str:
    """DuckDB twin of ``text_line_hashes_expr`` (``list_reduce`` ==
    fold-with-init-0 for this combiner; segments are token-free-filtered
    BEFORE the reduce, so the list is never empty)."""
    toks = f"list_filter(string_split_regex(lower(seg), '{WS_CLASS}+'), t -> t != '')"
    whs = (
        f"list_transform({toks}, w -> list_reduce("
        f"list_transform(string_split(w, ''), c -> CAST(ord(c) AS BIGINT)), "
        f"(a, b) -> (a * {WORD_MULT} + b) % {HASH_MOD}))"
    )
    segs = (
        f"list_filter(string_split_regex({text}, '{sep_pat}'), "
        f"seg -> len({toks}) > 0)"
    )
    return (
        f"list_transform({segs}, seg -> list_reduce({whs}, "
        f"(la, lw) -> (la * {SHINGLE_MULT} + lw) % {HASH_MOD}))"
    )


def _wh_df(docs: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    return docs.select(
        F.col(id_col).alias("id"),
        F.expr(word_hashes_expr(tokens_expr(text_col))).alias("wh"),
    )


def _wh_cte(id_col: str, table: str, text_col: str = "text") -> str:
    return (
        f"wh AS (SELECT {id_col} AS id, "
        f"{word_hashes_sql(tokens_sql(text_col))} AS wh FROM {table})"
    )


def _pos_ngrams(docs: DataFrame, id_col: str, window: int) -> DataFrame:
    """(id, pos, h): every ``window``-gram hash with its token position."""
    return (
        _wh_df(docs, id_col)
        .select("id", F.posexplode(F.expr(shingles_expr("wh", window))))
        .select("id", F.col("pos").cast("long").alias("pos"), F.col("col").alias("h"))
    )


def _pos_ngrams_cte(window: int) -> str:
    """DuckDB twin of ``_pos_ngrams`` (appends to a ``wh`` CTE)."""
    return (
        f"sh AS (SELECT id, {shingles_sql('wh', window)} AS shingles FROM wh), "
        "ng AS (SELECT id, u.pos AS pos, u.h AS h FROM ("
        "SELECT id, unnest(list_transform(generate_series(1, len(shingles)), "
        "i -> {'pos': CAST(i - 1 AS BIGINT), 'h': shingles[i]})) AS u FROM sh))"
    )


# ---------------------------------------------------------------------------
# 1. cross-document duplicated-span removal (Lee et al. 2022)
# ---------------------------------------------------------------------------


def ngram_positions_kernel(
    docs: DataFrame,
    id_col: str,
    window: int = DUP_NGRAM,
    text_col: str = "text",
) -> DataFrame:
    """SCALE path for ``_pos_ngrams``: (id, pos, h) via the signature
    kernel's chunked-flat numpy primitives (codepoint-array tokenizer +
    Horner hashes + flat shingling — zero per-token Python), bit-identical
    to ``posexplode(shingles_expr(...))`` (parity-tested). Same rationale
    as ``signatures.signature_kernel_arrow``: the nested higher-order
    expressions are interpreted JVM-side and stop scaling past ~8 threads
    per JVM; Python workers are separate processes."""
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator

    from .signatures import (
        _arange_segments,
        _flat_shingles,
        _flat_word_hashes,
        _iter_text_chunks,
    )

    def fn(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            for texts, ids in _iter_text_chunks(
                pdf[id_col].values, pdf[text_col].values
            ):
                wh_all, wdoc, n_tok = _flat_word_hashes(texts)
                keep = n_tok >= window
                if not keep.any():
                    continue
                wh_k = wh_all[keep[wdoc]] if not keep.all() else wh_all
                n_tok_k = n_tok[keep]
                ids_k = np.asarray(ids, dtype=np.int64)[keep]
                sh, _, n_sh = _flat_shingles(wh_k, n_tok_k, window)
                yield pd.DataFrame(
                    {
                        id_col: np.repeat(ids_k, n_sh),
                        "pos": _arange_segments(n_sh),
                        "h": sh.astype(np.int64),
                    }
                )

    return (
        docs.select(id_col, text_col)
        .mapInPandas(fn, schema=f"{id_col} long, pos long, h long")
        .withColumnRenamed(id_col, "id")
    )


def dup_ngram_spans(
    docs: DataFrame,
    id_col: str,
    window: int = DUP_NGRAM,
    min_count: int = 2,
    use_kernel: bool = False,
) -> DataFrame:
    """Maximal duplicated token spans per document.

    A position is *duplicated* when its ``window``-gram hash occurs
    ``min_count``+ times corpus-wide (including intra-document repeats —
    the suffix-array semantics of Lee et al.). Overlapping or touching
    duplicated windows ``[pos, pos + window)`` merge into one maximal
    span (gaps-and-islands over a per-document window).

    Returns (doc_id, span_start, span_end, span_tokens); token-space,
    end-exclusive. Plan: one groupBy(h) with map-side combine, a
    same-key join back (partitioning reuse), then per-doc windows over
    O(doc-length) rows. ``use_kernel=True`` swaps the n-gram generation
    to the Arrow kernel (bit-identical; the production path at scale,
    same contract as the signature kernel twin).
    """
    ng = (
        ngram_positions_kernel(docs, id_col, window)
        if use_kernel
        else _pos_ngrams(docs, id_col, window)
    )
    freq = ng.groupBy("h").agg(F.count(F.lit(1)).alias("cnt")).where(
        F.col("cnt") >= min_count
    )
    # shuffle_hash on the FILTERED-AGGREGATE side: the n-gram side is a
    # mapInPandas explode whose plan-time size Catalyst estimates from
    # its (tiny, checkpointed) input, so without the hint the initial
    # plan BROADCASTS the 300-rows-per-doc gram stream — measured crash
    # at 1.11M docs ("HashedRelation larger than 8G"; AQE cannot undo a
    # broadcast chosen at initial planning because no shuffle stage
    # boundary precedes it). The hint pins a ShuffledHashJoin building
    # on the dup-hash side (distinct hashes / shuffle_partitions rows
    # per task), probing the gram stream without sorting it.
    dup = ng.join(freq.select("h").hint("shuffle_hash"), "h")
    w = Window.partitionBy("id").orderBy("pos")
    prev_end = F.max(F.col("pos") + window).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = dup.select(
        "id",
        "pos",
        F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1)
        .otherwise(0)
        .alias("new_island"),
    )
    island = F.sum("new_island").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        marked.select("id", "pos", island.alias("island"))
        .groupBy("id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + window).alias("span_end"),
        )
        .select(
            F.col("id").alias(id_col),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start")).alias("span_tokens"),
        )
    )


def _dup_spans_ctes(
    id_col: str, table: str, window: int, min_count: int
) -> str:
    """Shared CTE chain up to the merged spans (DuckDB)."""
    return f"""WITH {_wh_cte(id_col, table)},
{_pos_ngrams_cte(window)},
freq AS (SELECT h FROM ng GROUP BY h HAVING count(*) >= {min_count}),
dup AS (SELECT ng.id, ng.pos FROM ng JOIN freq USING (h)),
marked AS (
  SELECT id, pos,
    CASE WHEN max(pos + {window}) OVER (
           PARTITION BY id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
         OR pos > max(pos + {window}) OVER (
           PARTITION BY id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         THEN 1 ELSE 0 END AS new_island
  FROM dup
),
islands AS (
  SELECT id, pos, sum(new_island) OVER (
    PARTITION BY id ORDER BY pos
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM marked
),
spans AS (
  SELECT id, min(pos) AS span_start, max(pos) + {window} AS span_end
  FROM islands GROUP BY id, island
)"""


def dup_ngram_spans_sql(
    id_col: str,
    table: str = "documents",
    window: int = DUP_NGRAM,
    min_count: int = 2,
) -> str:
    """DuckDB twin of ``dup_ngram_spans``."""
    return f"""{_dup_spans_ctes(id_col, table, window, min_count)}
SELECT id AS {id_col}, span_start, span_end,
       span_end - span_start AS span_tokens
FROM spans"""


def dup_span_stats(
    docs: DataFrame,
    id_col: str,
    window: int = DUP_NGRAM,
    min_count: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """Per-document duplicated-text summary over ``dup_ngram_spans``:
    (doc_id, n_tokens, n_spans, dup_tokens, dup_permille). Every document
    appears (zero spans -> zeros); ``dup_permille`` is the fraction of
    tokens inside duplicated spans — the 'how much of my corpus is
    duplicated text' number a pipeline operator reads before deciding
    span removal thresholds."""
    spans = dup_ngram_spans(docs, id_col, window, min_count)
    per_doc = spans.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("span_tokens").alias("dup_tokens"),
    )
    base = docs.select(
        id_col,
        F.expr(f"CAST(size({tokens_expr(text_col)}) AS BIGINT)").alias("n_tokens"),
    )
    # hint rationale: see dup_ngram_spans — never let the planner's
    # static estimate broadcast a corpus-sized side; per_doc is one row
    # per spanned doc, bounded per task after the id shuffle
    return base.join(per_doc.hint("shuffle_hash"), id_col, "left").select(
        id_col,
        "n_tokens",
        F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
        F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
        F.expr(
            "CASE WHEN n_tokens > 0 THEN CAST(floor(1000.0 * "
            "coalesce(dup_tokens, 0) / n_tokens) AS BIGINT) "
            "ELSE CAST(0 AS BIGINT) END"
        ).alias("dup_permille"),
    )


def dup_span_stats_sql(
    id_col: str,
    table: str = "documents",
    window: int = DUP_NGRAM,
    min_count: int = 2,
) -> str:
    """DuckDB twin of ``dup_span_stats``."""
    return f"""{_dup_spans_ctes(id_col, table, window, min_count)},
per_doc AS (
  SELECT id, CAST(count(*) AS BIGINT) AS n_spans,
         CAST(sum(span_end - span_start) AS BIGINT) AS dup_tokens
  FROM spans GROUP BY id
)
SELECT d.{id_col},
       CAST(len({tokens_sql('d.text')}) AS BIGINT) AS n_tokens,
       coalesce(p.n_spans, 0) AS n_spans,
       coalesce(p.dup_tokens, 0) AS dup_tokens,
       CASE WHEN len({tokens_sql('d.text')}) > 0
            THEN CAST(floor(1000.0 * coalesce(p.dup_tokens, 0) /
                            len({tokens_sql('d.text')})) AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS dup_permille
FROM {table} d LEFT JOIN per_doc p ON p.id = d.{id_col}"""


def span_clean_text(
    docs: DataFrame,
    id_col: str,
    window: int = DUP_NGRAM,
    min_count: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """Materialize the duplicated-span REMOVAL: per document, the token
    stream with every ``dup_ngram_spans`` interval cut out, re-joined
    with single spaces (the output is a normalized token stream — the
    tokenizer's whitespace collapse is deliberate and documented).
    Returns (doc_id, n_tokens, n_kept_tokens, clean_text). Documents
    with no duplicated spans pass through (normalized) unchanged.

    Plan shape: the spans-per-doc list is a groupBy fold of the span
    lane (O(spans-per-doc) elements, bounded by doc length), joined back
    to the corpus on id — the token filter is a pure JVM higher-order
    expression, no Python, no extra shuffle beyond the span lane's own.
    """
    spans = dup_ngram_spans(docs, id_col, window, min_count)
    span_lists = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("spans")
    )
    base = docs.select(
        id_col, F.expr(tokens_expr(text_col)).alias("tokens")
    )
    kept = (
        "CASE WHEN spans IS NULL THEN tokens ELSE "
        "transform(filter(transform(tokens, (t, i) -> struct(t AS t, i AS i)), "
        "x -> NOT exists(spans, s -> x.i >= s.span_start AND x.i < s.span_end)), "
        "x -> x.t) END"
    )
    # hint rationale: see dup_ngram_spans — base carries the full token
    # array per doc; a planner-chosen broadcast of EITHER side is
    # corpus-sized, so pin the build to the one-row-per-spanned-doc side
    return (
        base.join(span_lists.hint("shuffle_hash"), id_col, "left")
        .select(
            id_col,
            F.expr("CAST(size(tokens) AS BIGINT)").alias("n_tokens"),
            F.expr(kept).alias("kept"),
        )
        .select(
            id_col,
            "n_tokens",
            F.expr("CAST(size(kept) AS BIGINT)").alias("n_kept_tokens"),
            F.expr("array_join(kept, ' ')").alias("clean_text"),
        )
    )


def span_clean_text_sql(
    id_col: str,
    table: str = "documents",
    window: int = DUP_NGRAM,
    min_count: int = 2,
) -> str:
    """DuckDB twin of ``span_clean_text``. DuckDB lambdas capture outer
    lambda variables, so the not-inside-any-span predicate is the same
    nested-lambda filter as Spark's ``exists``."""
    return f"""{_dup_spans_ctes(id_col, table, window, min_count)},
span_lists AS (
  SELECT id, list({{'s': span_start, 'e': span_end}}) AS spans
  FROM spans GROUP BY id
),
toks AS (
  SELECT {id_col} AS id, {tokens_sql('text')} AS tokens FROM {table}
),
cleaned AS (
  SELECT t.id, t.tokens,
    CASE WHEN sl.spans IS NULL THEN t.tokens ELSE
      list_transform(
        list_filter(generate_series(1, len(t.tokens)),
          i -> len(list_filter(sl.spans,
                 s -> i - 1 >= s.s AND i - 1 < s.e)) = 0),
        i -> t.tokens[i])
    END AS kept
  FROM toks t LEFT JOIN span_lists sl ON sl.id = t.id
)
SELECT id AS {id_col},
       CAST(len(tokens) AS BIGINT) AS n_tokens,
       CAST(len(kept) AS BIGINT) AS n_kept_tokens,
       -- DuckDB's array_to_string of an EMPTY list is NULL (Spark
       -- array_join gives ''): a fully-removed document has empty clean
       -- text in both engines
       coalesce(array_to_string(kept, ' '), '') AS clean_text
FROM cleaned"""


# ---------------------------------------------------------------------------
# 2. test-set decontamination (13-gram overlap vs a benchmark table)
# ---------------------------------------------------------------------------

#: deterministic synthetic benchmark: every ``BENCH_MOD``-th document
#: contributes the ``BENCH_SNIP_LEN``-token snippet starting at token
#: ``BENCH_SNIP_START`` (0-based) — a stand-in for a real eval-set table
#: (the operator takes ANY (bench_id, text) DataFrame in production).
BENCH_MOD = 41
BENCH_SNIP_START = 6
BENCH_SNIP_LEN = 30


def benchmark_snippets(docs: DataFrame, id_col: str) -> DataFrame:
    """(bench_id, wh): word-hash arrays of the synthetic benchmark
    snippets (see BENCH_* constants)."""
    return (
        docs.where(F.col(id_col) % BENCH_MOD == 0)
        .select(
            F.col(id_col).alias("bench_id"),
            F.expr(
                f"slice({word_hashes_expr(tokens_expr('text'))}, "
                f"{BENCH_SNIP_START + 1}, {BENCH_SNIP_LEN})"
            ).alias("wh"),
        )
    )


def decontaminate(
    docs: DataFrame, id_col: str, window: int = DUP_NGRAM
) -> DataFrame:
    """Per-document benchmark contamination:
    (doc_id, n_doc_ngrams, n_hit_ngrams, contaminated).

    A document is contaminated when any of its distinct ``window``-gram
    hashes appears in the benchmark snippet set (GPT-3 appendix-C rule).
    The benchmark n-gram set is broadcast, and "distinct grams per doc"
    is a PER-ROW ``array_distinct`` fold — so the corpus never shuffles
    its gram stream at all (the first corpus run of the explode+distinct
    form spent its 561s wall in the (id, gram) distinct exchange; this
    plan's only corpus-wide exchange is the narrow 3-scalar-column id
    shuffle of the final left join, and only HIT grams — benchmark
    matches — reach the per-doc hit aggregation). The snippet's source
    documents flag themselves — correct: they DO contain benchmark
    text."""
    bench_ng = (
        benchmark_snippets(docs, id_col)
        .select(F.explode(F.expr(shingles_expr("wh", window))).alias("h"))
        .distinct()
    )
    doc_ng = _wh_df(docs, id_col).select(
        "id",
        F.expr(f"array_distinct({shingles_expr('wh', window)})").alias("hs"),
    )
    hits = (
        doc_ng.select("id", F.explode("hs").alias("h"))
        .join(F.broadcast(bench_ng), "h")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_hit_ngrams"))
    )
    # hint rationale: see dup_ngram_spans (planner static-estimate
    # broadcast hazard); the hit aggregate is one row per CONTAMINATED doc
    return (
        doc_ng.select("id", F.expr("CAST(size(hs) AS BIGINT)").alias("n_doc_ngrams"))
        .join(hits.hint("shuffle_hash"), "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_doc_ngrams",
            F.coalesce("n_hit_ngrams", F.lit(0)).alias("n_hit_ngrams"),
            F.expr(
                "CAST(coalesce(n_hit_ngrams, 0) > 0 AS INT)"
            ).alias("contaminated"),
        )
    )


def decontaminate_sql(
    id_col: str, table: str = "documents", window: int = DUP_NGRAM
) -> str:
    """DuckDB twin of ``decontaminate`` (same synthetic benchmark)."""
    wh = word_hashes_sql(tokens_sql("text"))
    return f"""WITH bench AS (
  SELECT {wh}[{BENCH_SNIP_START + 1} : {BENCH_SNIP_START + BENCH_SNIP_LEN}] AS wh
  FROM {table} WHERE {id_col} % {BENCH_MOD} = 0
),
bench_ng AS (
  SELECT DISTINCT unnest({shingles_sql('wh', window)}) AS h FROM bench
),
{_wh_cte(id_col, table)},
doc_ng AS (
  SELECT id, list_distinct({shingles_sql('wh', window)}) AS hs FROM wh
),
hits AS (SELECT id, CAST(count(*) AS BIGINT) AS n_hit_ngrams
         FROM (SELECT id, unnest(hs) AS h FROM doc_ng)
         JOIN bench_ng USING (h) GROUP BY id)
SELECT d.id AS {id_col},
       CAST(len(d.hs) AS BIGINT) AS n_doc_ngrams,
       coalesce(ht.n_hit_ngrams, 0) AS n_hit_ngrams,
       CAST(coalesce(ht.n_hit_ngrams, 0) > 0 AS INT) AS contaminated
FROM doc_ng d
LEFT JOIN hits ht ON ht.id = d.id"""


# ---------------------------------------------------------------------------
# 3. line-level boilerplate dedup (CCNet / RefinedWeb)
# ---------------------------------------------------------------------------


def _lines_df(
    docs: DataFrame,
    id_col: str,
    line_tokens: int,
    line_split: str = "tokens",
) -> DataFrame:
    _check_line_split(line_split)
    if line_split == "newline":
        hashed = docs.select(
            F.col(id_col).alias("id"),
            F.posexplode(
                F.expr(text_line_hashes_expr("text", LINE_SEP_PAT))
            ),
        )
    else:
        hashed = _wh_df(docs, id_col).select(
            "id", F.posexplode(F.expr(line_hashes_expr("wh", line_tokens)))
        )
    return hashed.select(
        "id",
        F.col("pos").cast("long").alias("line_id"),
        F.col("col").alias("lh"),
    )


def _lines_cte(
    id_col: str,
    table: str,
    line_tokens: int,
    line_split: str = "tokens",
) -> str:
    _check_line_split(line_split)
    if line_split == "newline":
        lh = f"""lh AS (SELECT {id_col} AS id,
  {text_line_hashes_sql('text', LINE_SEP_PAT)} AS lhs FROM {table})"""
    else:
        lh = f"""{_wh_cte(id_col, table)},
lh AS (SELECT id, {line_hashes_sql('wh', line_tokens)} AS lhs FROM wh)"""
    return f"""{lh},
lines AS (SELECT id, u.line_id AS line_id, u.lh AS lh FROM (
  SELECT id, unnest(list_transform(generate_series(1, len(lhs)),
    i -> {{'line_id': CAST(i - 1 AS BIGINT), 'lh': lhs[i]}})) AS u FROM lh))"""


def line_stats(
    docs: DataFrame,
    id_col: str,
    line_tokens: int = LINE_TOKENS,
    min_docs: int = 2,
    line_split: str = "tokens",
) -> DataFrame:
    """Corpus-wide duplicated-line table: (line_hash, n_docs,
    n_occurrences) for lines in >= ``min_docs`` distinct documents — the
    boilerplate inventory (nav bars, footers) a CCNet-style cleaner
    removes. One map-side-combined groupBy; the >= filter keeps the
    output tiny relative to the line universe."""
    return (
        _lines_df(docs, id_col, line_tokens, line_split)
        .groupBy(F.col("lh").alias("line_hash"))
        .agg(
            F.countDistinct("id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .where(F.col("n_docs") >= min_docs)
    )


def line_stats_sql(
    id_col: str,
    table: str = "documents",
    line_tokens: int = LINE_TOKENS,
    min_docs: int = 2,
    line_split: str = "tokens",
) -> str:
    """DuckDB twin of ``line_stats``."""
    return f"""WITH {_lines_cte(id_col, table, line_tokens, line_split)}
SELECT lh AS line_hash,
       CAST(count(DISTINCT id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_occurrences
FROM lines GROUP BY lh HAVING count(DISTINCT id) >= {min_docs}"""


def line_clean_stats(
    docs: DataFrame,
    id_col: str,
    line_tokens: int = LINE_TOKENS,
    min_docs: int = 2,
    line_split: str = "tokens",
) -> DataFrame:
    """Per-document line-dedup effect: (doc_id, n_lines, n_dup_lines,
    retained_permille). ``n_dup_lines`` counts line POSITIONS whose hash
    is corpus-boilerplate (in >= ``min_docs`` docs); an empty document
    retains 1000 permille (nothing to remove). The boilerplate set joins
    back on the same hash key the frequency aggregation produced —
    partitioning reuse, and at web scale the set is small enough to
    broadcast."""
    lines = _lines_df(docs, id_col, line_tokens, line_split)
    boiler = (
        lines.groupBy("lh")
        .agg(F.countDistinct("id").alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("lh")
    )
    # hint rationale: see dup_ngram_spans — the exploded line stream's
    # plan-time size is underestimated; pin the boilerplate-hash set as
    # the ShuffledHashJoin build side (distinct boilerplate hashes per
    # task), never broadcast/sort the line stream
    per_doc = lines.join(boiler.hint("shuffle_hash"), "lh").groupBy("id").agg(
        F.count(F.lit(1)).alias("n_dup_lines")
    )
    n_lines = lines.groupBy("id").agg(F.count(F.lit(1)).alias("n_lines"))
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(n_lines.hint("shuffle_hash"), "id", "left")
        .join(per_doc.hint("shuffle_hash"), "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
            F.coalesce("n_dup_lines", F.lit(0)).alias("n_dup_lines"),
            F.expr(
                "CASE WHEN coalesce(n_lines, 0) > 0 THEN "
                "CAST(floor(1000.0 * (n_lines - coalesce(n_dup_lines, 0)) "
                "/ n_lines) AS BIGINT) ELSE CAST(1000 AS BIGINT) END"
            ).alias("retained_permille"),
        )
    )


def line_clean_stats_sql(
    id_col: str,
    table: str = "documents",
    line_tokens: int = LINE_TOKENS,
    min_docs: int = 2,
    line_split: str = "tokens",
) -> str:
    """DuckDB twin of ``line_clean_stats``."""
    return f"""WITH {_lines_cte(id_col, table, line_tokens, line_split)},
boiler AS (SELECT lh FROM lines GROUP BY lh
           HAVING count(DISTINCT id) >= {min_docs}),
nl AS (SELECT id, CAST(count(*) AS BIGINT) AS n_lines FROM lines GROUP BY id),
nd AS (SELECT id, CAST(count(*) AS BIGINT) AS n_dup_lines
       FROM lines JOIN boiler USING (lh) GROUP BY id)
SELECT d.{id_col},
       coalesce(nl.n_lines, 0) AS n_lines,
       coalesce(nd.n_dup_lines, 0) AS n_dup_lines,
       CASE WHEN coalesce(nl.n_lines, 0) > 0 THEN
         CAST(floor(1000.0 * (nl.n_lines - coalesce(nd.n_dup_lines, 0))
              / nl.n_lines) AS BIGINT)
       ELSE CAST(1000 AS BIGINT) END AS retained_permille
FROM {table} d
LEFT JOIN nl ON nl.id = d.{id_col}
LEFT JOIN nd ON nd.id = d.{id_col}"""


def synth_newline_expr_spark(id_col: str, text_col: str = "text") -> str:
    """The driver corpus carries no newlines, so an official oracle row
    for ``line_split="newline"`` would be vacuously one-line-per-doc.
    This expression deterministically rebuilds every document as real
    multi-line text — a shared boilerplate line in every doc, a blank
    line (paragraph boundary), and an id-dependent tail — with IDENTICAL
    arithmetic in both engines (``chr(10)`` in both; a literal ``'\\n'``
    would be a newline in Spark but backslash+n in DuckDB). Fixture
    scaffolding only, same pattern as ``hygiene.synth_pii_expr_spark``."""
    d = id_col
    return (
        f"concat(substr({text_col}, 1, 48), chr(10), "
        f"'cookie banner accept all choices', chr(10), "
        f"substr({text_col}, 49, 64), chr(10), chr(10), "
        f"CASE WHEN {d} % 3 = 0 THEN 'repeated paragraph body' "
        f"ELSE concat('tail ', CAST({d} AS STRING)) END, "
        f"chr(10), substr({text_col}, 113, 100000))"
    )


def synth_newline_expr_duck(id_col: str, text_col: str = "text") -> str:
    d = id_col
    return (
        f"concat(substr({text_col}, 1, 48), chr(10), "
        f"'cookie banner accept all choices', chr(10), "
        f"substr({text_col}, 49, 64), chr(10), chr(10), "
        f"CASE WHEN {d} % 3 = 0 THEN 'repeated paragraph body' "
        f"ELSE concat('tail ', CAST({d} AS VARCHAR)) END, "
        f"chr(10), substr({text_col}, 113, 100000))"
    )


# ---------------------------------------------------------------------------
# 4. deterministic stratified sampling
# ---------------------------------------------------------------------------


def _rate_case(rates: dict[str, int]) -> str:
    arms = " ".join(
        f"WHEN '{lang}' THEN {rate}" for lang, rate in sorted(rates.items())
    )
    return f"CASE lang {arms} ELSE 0 END"


def sample_stratified(
    docs: DataFrame,
    id_col: str,
    rates: dict[str, int] | None = None,
) -> DataFrame:
    """Language-stratified deterministic Bernoulli sample: keep a document
    iff ``hash(id) % 1000 < rates[lang]`` (permille; unknown language ->
    0). The hash is a fixed LCG mod the Mersenne prime — reproducible
    across runs, engines, and partitionings (NOT ``F.rand``, which is
    neither). Narrow filter, no shuffle. Returns
    (doc_id, lang, sample_permille) for kept rows."""
    rates = SAMPLE_RATES if rates is None else rates
    sample = (
        f"((({id_col} % {PERM_P}) * {SAMPLE_MULT} + {SAMPLE_INC}) "
        f"% {PERM_P}) % 1000"
    )
    return (
        docs.select(
            id_col,
            "lang",
            F.expr(f"CAST({sample} AS BIGINT)").alias("sample_permille"),
        )
        .where(F.expr(f"sample_permille < {_rate_case(rates)}"))
    )


def sample_stratified_sql(
    id_col: str,
    table: str = "documents",
    rates: dict[str, int] | None = None,
) -> str:
    """DuckDB twin of ``sample_stratified``."""
    rates = SAMPLE_RATES if rates is None else rates
    sample = (
        f"((({id_col} % {PERM_P}) * {SAMPLE_MULT} + {SAMPLE_INC}) "
        f"% {PERM_P}) % 1000"
    )
    return f"""SELECT {id_col}, lang,
       CAST({sample} AS BIGINT) AS sample_permille
FROM {table}
WHERE {sample} < {_rate_case(rates)}"""


# ---------------------------------------------------------------------------
# 5. sequence packing (concat-and-chunk)
# ---------------------------------------------------------------------------


def pack_chunks(
    docs: DataFrame,
    id_col: str,
    ctx: int = PACK_CTX,
    n_buckets: int = PACK_BUCKETS,
    text_col: str = "text",
) -> DataFrame:
    """Assign each document its byte range in a concat-and-chunk training
    stream: (doc_id, pack_bucket, n_tokens, stream_offset, chunk_first,
    chunk_last). Documents are concatenated in id order within
    ``n_buckets`` independent streams (bucket = id % n_buckets) and the
    stream is cut every ``ctx`` tokens; a document spans chunks
    ``chunk_first..chunk_last``. Zero-token documents are dropped (they
    occupy no stream space). One window per bucket — size ``n_buckets``
    to the cluster so each stream's sort holds corpus/``n_buckets``
    rows; the assignment is deterministic, so re-runs (and the DuckDB
    oracle) reproduce it exactly."""
    base = docs.select(
        F.col(id_col).alias("id"),
        F.expr(f"CAST(size({tokens_expr(text_col)}) AS BIGINT)").alias("n_tokens"),
    ).where(F.col("n_tokens") > 0)
    w = Window.partitionBy("pack_bucket").orderBy("id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = F.sum("n_tokens").over(w)
    return (
        base.select(
            "id", "n_tokens", (F.col("id") % n_buckets).alias("pack_bucket")
        )
        .select(
            F.col("id").alias(id_col),
            "pack_bucket",
            "n_tokens",
            (cum - F.col("n_tokens")).alias("stream_offset"),
        )
        .select(
            id_col,
            "pack_bucket",
            "n_tokens",
            "stream_offset",
            F.expr(f"CAST(floor(stream_offset / {ctx}.0) AS BIGINT)").alias(
                "chunk_first"
            ),
            F.expr(
                f"CAST(floor((stream_offset + n_tokens - 1) / {ctx}.0) AS BIGINT)"
            ).alias("chunk_last"),
        )
    )


def pack_chunks_sql(
    id_col: str,
    table: str = "documents",
    ctx: int = PACK_CTX,
    n_buckets: int = PACK_BUCKETS,
) -> str:
    """DuckDB twin of ``pack_chunks``."""
    return f"""WITH base AS (
  SELECT {id_col} AS id,
         CAST(len({tokens_sql('text')}) AS BIGINT) AS n_tokens,
         {id_col} % {n_buckets} AS pack_bucket
  FROM {table}
  WHERE len({tokens_sql('text')}) > 0
),
cum AS (
  SELECT id, pack_bucket, n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY pack_bucket ORDER BY id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
           AS BIGINT) AS stream_offset
  FROM base
)
SELECT id AS {id_col}, pack_bucket, n_tokens, stream_offset,
       CAST(floor(stream_offset / {ctx}.0) AS BIGINT) AS chunk_first,
       CAST(floor((stream_offset + n_tokens - 1) / {ctx}.0) AS BIGINT) AS chunk_last
FROM cum"""


# ---------------------------------------------------------------------------
# 6. intra-document repetition stats (Gopher quality rules)
# ---------------------------------------------------------------------------

#: Gopher repetition thresholds (Rae et al. 2021, Table A1), in permille.
#: A document FAILS the rule when any metric exceeds its threshold.
GOPHER_DUP_LINE = 300
GOPHER_DUP_PARA = 300
GOPHER_TOP_NGRAM = {2: 200, 3: 180, 4: 160}
#: paragraph = 4 pseudo-lines (the synthetic corpus carries no newlines;
#: on real web text swap the splitters exactly as for LINE_TOKENS).
PARA_TOKENS = 4 * LINE_TOKENS


def _run_max_expr(arr: str) -> str:
    """Spark: max multiplicity of any value in a BIGINT array, computed
    per row as the longest run of the SORTED array — O(d log d), no
    shuffle, no explode. Values are non-negative hashes so -1 is a safe
    run seed; the empty array folds to 0."""
    one = "CAST(1 AS BIGINT)"
    run = f"IF(x = acc.prev, acc.run + {one}, {one})"
    return (
        f"aggregate(array_sort({arr}), "
        f"named_struct('prev', CAST(-1 AS BIGINT), 'run', CAST(0 AS BIGINT), "
        f"'best', CAST(0 AS BIGINT)), "
        f"(acc, x) -> named_struct('prev', x, 'run', {run}, "
        f"'best', greatest(acc.best, {run})), "
        f"acc -> acc.best)"
    )


def _dup_frac_permille(n: str, n_distinct: str) -> str:
    """floor(1000 * duplicated / total) permille, identical text in both
    compilers (the engine's floor-not-CAST ratio rule)."""
    return (
        f"CASE WHEN {n} > 0 THEN CAST(floor(1000.0 * ({n} - {n_distinct}) "
        f"/ {n}) AS BIGINT) ELSE CAST(0 AS BIGINT) END"
    )


def _top_frac_permille(cnt: str, width: int, n_tokens: str) -> str:
    """floor(1000 * min(cnt*width, n_tokens) / n_tokens) permille — the
    'fraction of tokens inside the most common width-gram' metric,
    capped at 1000 because overlapping occurrences can cover a token
    more than once."""
    return (
        f"CASE WHEN {n_tokens} > 0 THEN CAST(floor(1000.0 * "
        f"least({cnt} * {width}, {n_tokens}) / {n_tokens}) AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END"
    )


_REP_PASS = (
    f"CASE WHEN dup_line_permille <= {GOPHER_DUP_LINE} "
    f"AND dup_para_permille <= {GOPHER_DUP_PARA} "
    f"AND top2_permille <= {GOPHER_TOP_NGRAM[2]} "
    f"AND top3_permille <= {GOPHER_TOP_NGRAM[3]} "
    f"AND top4_permille <= {GOPHER_TOP_NGRAM[4]} "
    f"THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END"
)


def repetition_stats(
    docs: DataFrame,
    id_col: str,
    line_tokens: int = LINE_TOKENS,
    para_tokens: int = PARA_TOKENS,
    text_col: str = "text",
    line_split: str = "tokens",
) -> DataFrame:
    """Per-document intra-document repetition metrics — the Gopher
    repetition-removal rules (Rae et al. 2021, "Scaling Language Models:
    ... Gopher", Table A1), the standard pre-training quality gate that
    complements the corpus-global lanes (``dup_ngram_spans`` finds text
    repeated ACROSS documents; this finds text a document repeats WITHIN
    itself — scraper loops, pagination artifacts, keyword stuffing):

    * ``dup_line_permille`` / ``dup_para_permille`` — fraction of
      (pseudo-)lines / paragraphs that are duplicates of an earlier one.
    * ``top{2,3,4}_permille`` — fraction of tokens covered by the most
      frequent 2/3/4-gram (capped at 1000; overlapping occurrences).
    * ``repetition_pass`` — 1 iff every metric is at or below its Gopher
      threshold (30%/30%/20%/18%/16%).

    100 TB shape: ZERO shuffle — every metric is a per-row fold over the
    document's own token-hash array (dup fractions via
    ``array_distinct``, top-gram multiplicity via a sorted-run fold,
    ``_run_max_expr``), so the lane is a narrow map over the text scan
    and composes with any partitioning. The reference has no analog
    (it dedups across files only); this is the within-file counterpart
    of ``index.c``'s repeated-block detection.
    """
    _check_line_split(line_split)
    if line_split == "newline":
        # real-text splitters: line = newline, paragraph = blank line.
        # Token-stream metrics (n_tokens, top-grams) are unchanged —
        # WS_CLASS contains \n, so the full-doc token stream equals the
        # concatenation of per-line token streams. The wh array and the
        # text column ride the SAME projection (no self-join: the first
        # cut of this branch joined _wh_df back to docs on id, which
        # Catalyst turns into a broadcast of the corpus at small SF and
        # a full shuffle at scale — both pointless for two expressions
        # over one scan).
        wh = docs.select(
            F.col(id_col).alias("id"),
            F.col(text_col),
            F.expr(word_hashes_expr(tokens_expr(text_col))).alias("wh"),
        )
        line_arr = text_line_hashes_expr(text_col, LINE_SEP_PAT)
        para_arr = text_line_hashes_expr(text_col, PARA_SEP_PAT)
    else:
        wh = _wh_df(docs, id_col, text_col)
        line_arr = line_hashes_expr("wh", line_tokens)
        para_arr = line_hashes_expr("wh", para_tokens)
    base = wh.select(
        "id",
        F.expr("CAST(size(wh) AS BIGINT)").alias("n_tokens"),
        F.expr(line_arr).alias("lines"),
        F.expr(para_arr).alias("paras"),
        *[
            F.expr(_run_max_expr(shingles_expr("wh", n))).alias(f"top{n}_cnt")
            for n in (2, 3, 4)
        ],
    )
    stats = base.select(
        "id",
        "n_tokens",
        F.expr("CAST(size(lines) AS BIGINT)").alias("n_lines"),
        F.expr(
            _dup_frac_permille("size(lines)", "size(array_distinct(lines))")
        ).alias("dup_line_permille"),
        F.expr(
            _dup_frac_permille("size(paras)", "size(array_distinct(paras))")
        ).alias("dup_para_permille"),
        *[
            F.expr(
                _top_frac_permille(f"top{n}_cnt", n, "n_tokens")
            ).alias(f"top{n}_permille")
            for n in (2, 3, 4)
        ],
    )
    return stats.select(
        F.col("id").alias(id_col),
        "n_tokens",
        "n_lines",
        "dup_line_permille",
        "dup_para_permille",
        "top2_permille",
        "top3_permille",
        "top4_permille",
        F.expr(_REP_PASS).alias("repetition_pass"),
    )


def repetition_stats_sql(
    id_col: str,
    table: str = "documents",
    line_tokens: int = LINE_TOKENS,
    para_tokens: int = PARA_TOKENS,
    line_split: str = "tokens",
) -> str:
    """DuckDB twin of ``repetition_stats``. The permille expressions are
    the same strings the Spark form compiles; only the max-multiplicity
    computation differs mechanically (DuckDB's ``list_reduce`` has no
    init value, so the oracle counts via unnest + GROUP BY — exact
    integer counts either way)."""
    tops = ", ".join(
        f"""g{n} AS (SELECT id, u AS g FROM
  (SELECT id, unnest({shingles_sql('wh', n)}) AS u FROM wh)),
t{n} AS (SELECT id, CAST(max(cnt) AS BIGINT) AS top_cnt FROM
  (SELECT id, g, count(*) AS cnt FROM g{n} GROUP BY id, g) GROUP BY id)"""
        for n in (2, 3, 4)
    )
    top_cols = ", ".join(
        "\n       "
        + _top_frac_permille(f"coalesce(t{n}.top_cnt, 0)", n, "b.n_tokens")
        + f" AS top{n}_permille"
        for n in (2, 3, 4)
    )
    _check_line_split(line_split)
    if line_split == "newline":
        lines_sel = text_line_hashes_sql(f"d.text", LINE_SEP_PAT)
        paras_sel = text_line_hashes_sql(f"d.text", PARA_SEP_PAT)
        base = f"""base AS (
  SELECT w.id, CAST(len(w.wh) AS BIGINT) AS n_tokens,
         {lines_sel} AS lines,
         {paras_sel} AS paras
  FROM wh w JOIN {table} d ON d.{id_col} = w.id
)"""
    else:
        base = f"""base AS (
  SELECT id, CAST(len(wh) AS BIGINT) AS n_tokens,
         {line_hashes_sql('wh', line_tokens)} AS lines,
         {line_hashes_sql('wh', para_tokens)} AS paras
  FROM wh
)"""
    return f"""WITH {_wh_cte(id_col, table)},
{base},
{tops},
stats AS (
  SELECT b.id, b.n_tokens,
       CAST(len(b.lines) AS BIGINT) AS n_lines,
       {_dup_frac_permille('len(b.lines)', 'len(list_distinct(b.lines))')}
         AS dup_line_permille,
       {_dup_frac_permille('len(b.paras)', 'len(list_distinct(b.paras))')}
         AS dup_para_permille,{top_cols}
  FROM base b
  LEFT JOIN t2 ON t2.id = b.id
  LEFT JOIN t3 ON t3.id = b.id
  LEFT JOIN t4 ON t4.id = b.id
)
SELECT id AS {id_col}, n_tokens, n_lines, dup_line_permille,
       dup_para_permille, top2_permille, top3_permille, top4_permille,
       {_REP_PASS} AS repetition_pass
FROM stats"""


def repetition_stats_kernel(
    docs: DataFrame,
    id_col: str,
    line_tokens: int = LINE_TOKENS,
    para_tokens: int = PARA_TOKENS,
    text_col: str = "text",
    line_split: str = "tokens",
) -> DataFrame:
    """SCALE path for ``repetition_stats``: the same metrics via the
    signature kernel's flat numpy primitives — bit-identical to the SQL
    form (parity-tested), zero per-token Python. Rationale as for
    ``signature_kernel_arrow``: the SQL form's per-row higher-order
    folds (array_sort + aggregate x3 gram widths + 2 line widths) are
    interpreted JVM-side (measured 2614 docs/s at 1.11M docs on 16
    threads); the kernel vectorizes across a cache-resident chunk of
    docs. Still shuffle-free: one mapInPandas over the pruned scan."""
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator

    from .signatures import (
        _arange_segments,
        _flat_shingles,
        _flat_word_hashes,
        _iter_text_chunks,
    )

    _check_line_split(line_split)

    M = np.uint64(HASH_MOD)
    SM = np.uint64(SHINGLE_MULT)

    def _group_hashes(wh, n_tok, width):
        """Per-doc fixed-``width`` token-group (pseudo-line) Horner
        hashes, trailing group clamped — the kernel twin of
        ``line_hashes_expr``. Returns (group hashes doc-major, per-doc
        group counts)."""
        n_groups = np.where(n_tok > 0, (n_tok - 1) // width + 1, 0)
        total = int(n_groups.sum())
        if total == 0:
            return np.empty(0, np.uint64), n_groups
        tstarts = np.concatenate(([0], np.cumsum(n_tok)[:-1]))
        keep = n_groups > 0
        within = _arange_segments(n_groups[keep])
        gstart = np.repeat(tstarts[keep], n_groups[keep]) + within * width
        doc_end = np.repeat(tstarts[keep] + n_tok[keep], n_groups[keep])
        glen = np.minimum(width, doc_end - gstart)
        acc = np.zeros(total, dtype=np.uint64)
        for j in range(width):
            m = glen > j
            acc[m] = (acc[m] * SM + wh[gstart[m] + j]) % M
        return acc, n_groups

    def _segment_fold(wh, seg_len, starts):
        """Horner fold per VARIABLE-width segment (newline-mode lines).
        The j-loop runs to the longest segment in the chunk — bounded by
        tokens-per-line on real text (a one-line document degenerates to
        n_tokens iterations of one masked row; correct, just unvectorized
        for that row)."""
        acc = np.zeros(seg_len.size, dtype=np.uint64)
        for j in range(int(seg_len.max()) if seg_len.size else 0):
            m = seg_len > j
            acc[m] = (acc[m] * SM + wh[starts[m] + j]) % M
        return acc

    def _newline_groups(texts, sep):
        """Per-doc line hashes under the real-text splitter: split each
        (already-lowercased) text on ``sep``, hash every token-bearing
        segment with the same Horner combiner, doc-major. Returns
        (hashes, per-doc group counts, flat wh, per-token doc index,
        per-doc token counts) — the flat token stream equals the
        full-document stream because WS_CLASS contains the separator."""
        segs_per_doc = [t.split(sep) for t in texts]
        flat = [s for segs in segs_per_doc for s in segs]
        n_segs = np.fromiter(
            (len(s) for s in segs_per_doc), dtype=np.int64,
            count=len(segs_per_doc),
        )
        whl, _, seg_len = _flat_word_hashes(flat)
        starts = np.concatenate(([0], np.cumsum(seg_len)[:-1]))
        hashes = _segment_fold(whl, seg_len, starts)
        keep = seg_len > 0
        doc_of_seg = np.repeat(np.arange(len(texts), dtype=np.int64), n_segs)
        n_groups = np.bincount(
            doc_of_seg[keep], minlength=len(texts)
        ).astype(np.int64)
        n_tok = np.bincount(
            doc_of_seg, weights=seg_len, minlength=len(texts)
        ).astype(np.int64)
        wdoc = np.repeat(doc_of_seg, seg_len)
        return hashes[keep], n_groups, whl, wdoc, n_tok

    def _distinct_per_doc(gh, n_groups, ndoc):
        """len(array_distinct(...)) per doc: unique (doc, hash) pairs."""
        if gh.size == 0:
            return np.zeros(ndoc, dtype=np.int64)
        gdoc = np.repeat(
            np.arange(ndoc, dtype=np.uint64), n_groups.astype(np.int64)
        )
        uniq = np.unique((gdoc << np.uint64(31)) | gh)
        return np.bincount(
            (uniq >> np.uint64(31)).astype(np.int64), minlength=ndoc
        )

    def _top_count_per_doc(wh, wdoc, n_tok, win, ndoc):
        """max n-gram multiplicity per doc — the kernel twin of
        ``_run_max_expr`` (sorted-run max over (doc, gram) keys)."""
        top = np.zeros(ndoc, dtype=np.int64)
        keep = n_tok >= win
        if not keep.any():
            return top
        wh_k = wh[keep[wdoc]] if not keep.all() else wh
        sh, _, n_sh = _flat_shingles(wh_k, n_tok[keep], win)
        if sh.size == 0:
            return top
        sdoc = np.repeat(
            np.flatnonzero(keep).astype(np.uint64), n_sh.astype(np.int64)
        )
        sc = np.sort((sdoc << np.uint64(31)) | sh)
        bounds = np.flatnonzero(sc[1:] != sc[:-1]) + 1
        starts = np.concatenate(([0], bounds))
        ends = np.concatenate((bounds, [sc.size]))
        docs_of = (sc[starts] >> np.uint64(31)).astype(np.int64)
        np.maximum.at(top, docs_of, ends - starts)
        return top

    def fn(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            for texts, ids in _iter_text_chunks(
                pdf[id_col].values, pdf[text_col].values
            ):
                ndoc = len(texts)
                if line_split == "newline":
                    lines, n_lines, wh, wdoc, n_tok = _newline_groups(
                        texts, "\n"
                    )
                    paras, n_paras, _, _, _ = _newline_groups(
                        texts, "\n\n"
                    )
                else:
                    wh, wdoc, n_tok = _flat_word_hashes(texts)
                    lines, n_lines = _group_hashes(wh, n_tok, line_tokens)
                    paras, n_paras = _group_hashes(wh, n_tok, para_tokens)
                nd_lines = _distinct_per_doc(lines, n_lines, ndoc)
                nd_paras = _distinct_per_doc(paras, n_paras, ndoc)
                dup_line = np.where(
                    n_lines > 0,
                    (1000 * (n_lines - nd_lines)) // np.maximum(n_lines, 1),
                    0,
                )
                dup_para = np.where(
                    n_paras > 0,
                    (1000 * (n_paras - nd_paras)) // np.maximum(n_paras, 1),
                    0,
                )
                tops = {
                    n: _top_count_per_doc(wh, wdoc, n_tok, n, ndoc)
                    for n in (2, 3, 4)
                }
                top_pm = {
                    n: np.where(
                        n_tok > 0,
                        (1000 * np.minimum(tops[n] * n, n_tok))
                        // np.maximum(n_tok, 1),
                        0,
                    )
                    for n in (2, 3, 4)
                }
                ok = (
                    (dup_line <= GOPHER_DUP_LINE)
                    & (dup_para <= GOPHER_DUP_PARA)
                    & (top_pm[2] <= GOPHER_TOP_NGRAM[2])
                    & (top_pm[3] <= GOPHER_TOP_NGRAM[3])
                    & (top_pm[4] <= GOPHER_TOP_NGRAM[4])
                ).astype(np.int64)
                yield pd.DataFrame(
                    {
                        id_col: np.asarray(ids, dtype=np.int64),
                        "n_tokens": n_tok,
                        "n_lines": n_lines.astype(np.int64),
                        "dup_line_permille": dup_line.astype(np.int64),
                        "dup_para_permille": dup_para.astype(np.int64),
                        "top2_permille": top_pm[2].astype(np.int64),
                        "top3_permille": top_pm[3].astype(np.int64),
                        "top4_permille": top_pm[4].astype(np.int64),
                        "repetition_pass": ok,
                    }
                )

    schema = (
        f"{id_col} long, n_tokens long, n_lines long, "
        "dup_line_permille long, dup_para_permille long, "
        "top2_permille long, top3_permille long, top4_permille long, "
        "repetition_pass long"
    )
    return docs.select(id_col, text_col).mapInPandas(fn, schema=schema)



def decontaminate_kernel(
    docs: DataFrame, id_col: str, window: int = DUP_NGRAM,
    text_col: str = "text",
) -> DataFrame:
    """SCALE-path twin of ``decontaminate`` — identical output (tested),
    zero corpus shuffles.

    The benchmark n-gram set is BOUNDED by definition (eval sets are
    small), so it is materialized once on the driver and captured in the
    kernel closure as a sorted numpy array — the broadcast analog with no
    join at all. The corpus stage is then ONE ``mapInPandas`` over the
    pruned (id, text) scan: flat gram hashes per 64-doc chunk (the
    signature kernel's codepoint primitives), per-doc distinct via the
    tagged-key sort (``key = doc_idx * 2^31 + h``; gram hashes live in
    [0, 2^31)), hit counts via one ``searchsorted`` into the benchmark
    array. The SQL form's fused fold+explode+join stage (measured
    40+ minutes without completing one 69k-doc task at 1.11M docs — the interpreted per-char/per-gram HOFs
    dominate) and its final id shuffle both disappear.

    The synthetic snippet derivation (``benchmark_snippets``) stays on
    the SQL expressions: it is fixture scaffolding standing in for a real
    external (bench_id, text) table, and runs over corpus/BENCH_MOD docs
    only.

    Precondition (shared with the whole pipeline): ``id_col`` is a KEY.
    Under duplicate ids the SQL forms aggregate hit counts per id
    (merging the rows) while this kernel scores each physical row
    independently — measured on the bench corpus, whose hashed ids carry
    exactly 300 murmur32 birthday collisions at 1.11M docs (notebook:
    BENCH/BASELINE.md round-4 decontaminate section).
    """
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator

    from .signatures import (
        _flat_shingles,
        _flat_word_hashes,
        _iter_text_chunks,
    )

    bench_rows = (
        benchmark_snippets(docs, id_col)
        .select(F.explode(F.expr(shingles_expr("wh", window))).alias("h"))
        .distinct()
        .collect()
    )
    bench = (
        np.sort(np.asarray([r["h"] for r in bench_rows], dtype=np.uint64))
        if bench_rows
        else np.empty(0, dtype=np.uint64)
    )
    mask31 = np.uint64(2**31 - 1)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for texts, ids in _iter_text_chunks(
                pdf[id_col].values, pdf[text_col].values
            ):
                ids_np = np.asarray(ids, dtype=np.int64)
                ndoc = len(ids_np)
                n_ng = np.zeros(ndoc, dtype=np.int64)
                n_hit = np.zeros(ndoc, dtype=np.int64)
                wh_all, wdoc, n_tok = _flat_word_hashes(texts)
                keep = n_tok >= window
                if keep.any():
                    wh_k = wh_all if keep.all() else wh_all[keep[wdoc]]
                    n_tok_k = n_tok[keep]
                    sh, _, n_sh = _flat_shingles(wh_k, n_tok_k, window)
                    didx = np.repeat(
                        np.arange(n_sh.size, dtype=np.int64), n_sh
                    ).astype(np.uint64)
                    uk = np.unique((didx << np.uint64(31)) | sh)
                    ud = (uk >> np.uint64(31)).astype(np.int64)
                    kidx = np.nonzero(keep)[0]
                    n_ng[kidx] = np.bincount(ud, minlength=n_sh.size)
                    if bench.size:
                        uh = uk & mask31
                        pos = np.searchsorted(bench, uh)
                        hit = (pos < bench.size) & (
                            bench[np.minimum(pos, bench.size - 1)] == uh
                        )
                        n_hit[kidx] = np.bincount(
                            ud[hit], minlength=n_sh.size
                        )
                yield pd.DataFrame(
                    {
                        id_col: ids_np,
                        "n_doc_ngrams": n_ng,
                        "n_hit_ngrams": n_hit,
                        "contaminated": (n_hit > 0).astype(np.int32),
                    }
                )

    return docs.select(id_col, text_col).mapInPandas(
        fn,
        schema=(
            f"{id_col} long, n_doc_ngrams long, n_hit_ngrams long, "
            "contaminated int"
        ),
    )
