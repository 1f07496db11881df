"""Stage 1a — tokenize, shingle, MinHash signatures, LSH bands.

Recasts the reference's feature sketch (``/root/reference/2df.c:152-423``):
the per-block sliding window over the Feature Bitmap becomes word shingling;
the ``FEATURE_NUM`` max-hash permutations ``k_index[m]*h + b_index[m]``
(``2df.c:230-247``) become the per-permutation extrema below; the grouping of
``FEA_PER_SF`` features into ``SF_NUM`` super-features **by summation**
(``2df.c:400-419``) becomes the band digest.

Two interchangeable implementations, bit-identical by construction (tested):

* ``with_signature`` — Spark built-in higher-order functions only. Stays on
  the JVM, lets Catalyst prune/push down, zero Python in the hot path. This
  is also the arithmetic the DuckDB oracle replays (see ``oracle.py``).
* ``signature_kernel_arrow`` — vectorized numpy kernel behind
  ``mapInPandas`` for clusters where per-char HOF folding is the bottleneck.

Scale notes (100 TB): both paths are narrow maps — no shuffle. The band
explode multiplies rows by ``n_bands`` (8) but each row is ~24 bytes; the
following groupBy(band_id, band_hash) is the first shuffle of the pipeline.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .config import (
    HASH_MOD,
    PERM_P,
    SHINGLE_MULT,
    WORD_MULT,
    DedupConfig,
)

# ---------------------------------------------------------------------------
# Spark SQL expression builders (shared arithmetic with oracle.py)
# ---------------------------------------------------------------------------

#: canonical whitespace = Java's \s = [ \t\n\x0B\f\r], spelled as an explicit
#: class in EVERY dialect because the three regex engines disagree on \s:
#: Java \s is exactly this class, RE2 (DuckDB) \s lacks \x0B, and Python's
#: str.split()/re \s add Unicode whitespace (\xa0,  , ...) — any of
#: which silently breaks kernel/oracle bit-parity on exotic-whitespace text.
#: This string is engine-ready regex source: pass it directly to Python re,
#: to pyspark regexp functions (pattern args go to Java uninterpreted), and
#: into DuckDB single-quoted literals (standard SQL keeps backslashes).
WS_CLASS = "[ \\t\\n\\x0B\\f\\r]"
#: the same class escaped for embedding inside a *Spark SQL string literal*
#: (Spark's parser treats backslash as an escape, so each must be doubled)
WS_CLASS_SQL_LIT = WS_CLASS.replace("\\", "\\\\")

#: non-space members of the canonical class, each mapped to ' ' so the
#: C-speed ``str.split(' ')`` realizes exactly the WS_CLASS semantics
_WS_TBL = str.maketrans(dict.fromkeys("\t\n\x0b\f\r", " "))


def ascii_tokens(s: str) -> list[str]:
    """Split on the canonical ASCII whitespace class, empties dropped —
    the Python twin of ``tokens_expr`` / ``oracle.tokens_sql`` (NOT bare
    ``str.split()``, which also splits on Unicode whitespace).

    Implementation: translate the five non-space class members to ' ' and
    split on ' ' only — C-speed, measured 1.85x faster than the compiled
    ``re.split`` and byte-identical on Unicode-whitespace inputs (covered
    by the tokenizer parity test). This is the hottest Python line in the
    signature kernel (~50% of per-doc cost before the change)."""
    return [t for t in s.translate(_WS_TBL).split(" ") if t]


def tokens_expr(text_col: str) -> str:
    """Lowercased whitespace tokens, empty strings dropped."""
    return f"filter(split(lower({text_col}), '{WS_CLASS_SQL_LIT}+'), t -> t != '')"


def word_hash_lambda(var: str = "w") -> str:
    """Polynomial char hash: fold ``acc*31 + codepoint(c) mod 2**31``."""
    return (
        f"aggregate(split({var}, ''), 0L, "
        f"(acc, c) -> (acc * {WORD_MULT} + ascii(c)) % {HASH_MOD})"
    )


def word_hashes_expr(tokens_col: str) -> str:
    return f"transform({tokens_col}, w -> {word_hash_lambda('w')})"


def shingles_expr(wh_col: str, window: int) -> str:
    """w-gram shingle hashes: fold ``acc*1000003 + h mod 2**31`` per window."""
    return (
        f"CASE WHEN size({wh_col}) < {window} THEN array() "
        f"ELSE transform(sequence(0, size({wh_col}) - {window}), i -> "
        f"aggregate(slice({wh_col}, i + 1, {window}), 0L, "
        f"(acc, h) -> (acc * {SHINGLE_MULT} + h) % {HASH_MOD})) END"
    )


def feature_expr(shingles_col: str, k: int, b: int) -> str:
    """Max-hash feature for one permutation (parity: 2df.c:232-247 keeps max)."""
    return (
        f"aggregate({shingles_col}, 0L, "
        f"(acc, s) -> greatest(acc, ({k} * s + {b}) % {PERM_P}))"
    )


def signature_expr(shingles_col: str, cfg: DedupConfig) -> str:
    ks, bs = cfg.perms
    feats = ", ".join(feature_expr(shingles_col, ks[m], bs[m]) for m in range(cfg.n_perm))
    return f"array({feats})"


def band_hash_expr(sig_col: str, band_id_expr: str, rows_per_band: int) -> str:
    """Band digest = SUM of the band's features (parity: 2df.c:409-411)."""
    if rows_per_band == 1:
        return f"element_at({sig_col}, {band_id_expr} + 1)"
    return (
        f"aggregate(slice({sig_col}, {band_id_expr} * {rows_per_band} + 1, "
        f"{rows_per_band}), 0L, (a, x) -> a + x)"
    )


# ---------------------------------------------------------------------------
# DataFrame stages
# ---------------------------------------------------------------------------


def with_tokens(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("tokens", F.expr(tokens_expr(text_col)))


def valid_documents(df: DataFrame, cfg: DedupConfig, text_col: str = "text") -> DataFrame:
    """Validity filter — analog of the decode filter that rejects non-JPEG /
    progressive / tiny images (``/root/reference/jpeg.c:18,27-32``).

    Documents failing it are *not* lost: `pipeline.py` routes them to the
    pass-through output, mirroring the reference's verbatim write of
    undecodable files (``/root/reference/2df.c:545-548``).
    """
    return with_tokens(df, text_col).where(F.size("tokens") >= cfg.min_tokens)


def with_signature(
    df: DataFrame, cfg: DedupConfig, text_col: str = "text"
) -> DataFrame:
    """Add ``sig ARRAY<BIGINT>`` (length ``cfg.n_perm``) to each row.

    Narrow map; requires the validity filter first (needs >= 1 shingle).
    """
    if "tokens" not in df.columns:
        df = with_tokens(df, text_col)
    return (
        df.withColumn("word_hashes", F.expr(word_hashes_expr("tokens")))
        .withColumn("shingles", F.expr(shingles_expr("word_hashes", cfg.shingle_window)))
        .withColumn("sig", F.expr(signature_expr("shingles", cfg)))
        # shingles < 2**31 by construction -> int32 set halves the bytes the
        # verification joins must shuffle
        .withColumn(
            "shingle_set",
            F.expr("transform(array_sort(array_distinct(shingles)), x -> CAST(x AS INT))"),
        )
        .drop("word_hashes", "shingles")
    )


def explode_bands(
    sig_df: DataFrame, cfg: DedupConfig, id_col: str, carry: tuple[str, ...] = ()
) -> DataFrame:
    """``(id, sig)`` -> ``(id, band_id, band_hash)`` — one row per band,
    plus the ``carry`` columns of ``sig_df`` on every row.

    The subsequent ``repartition(band_id, band_hash)`` *is* the reference's
    ``SF_NUM`` in-memory feature hash tables (``/root/reference/2df.c:458,
    501-516``): the shuffle materializes the same value->members mapping.
    """
    band = F.explode(F.sequence(F.lit(0), F.lit(cfg.n_bands - 1))).alias("band_id")
    cols = [F.col(id_col), F.col("sig"), band] + [F.col(c) for c in carry if c != "sig"]
    has_set = "shingle_set" in sig_df.columns
    if has_set:
        # carry the shingle-set size: candidate_pairs uses it for the early
        # size-ratio prune (J <= min/max of TRUE set sizes); the set column
        # may be an ARRAY<INT> (SQL path) or packed int32 BINARY (kernel
        # path, possibly bottom-k truncated — hence the explicit n_set_true)
        if "n_set_true" in sig_df.columns:
            n_set = F.col("n_set_true")
        elif dict(sig_df.dtypes).get("shingle_set") == "binary":
            n_set = F.expr("CAST(length(shingle_set) / 4 AS INT)")
        else:
            n_set = F.size("shingle_set").cast("int")
        cols.append(n_set.cast("int").alias("n_set"))
    out = sig_df.select(*cols)
    proj = [
        F.col(id_col),
        F.col("band_id"),
        F.expr(band_hash_expr("sig", "band_id", cfg.rows_per_band)).alias("band_hash"),
    ]
    if has_set:
        proj.append(F.col("n_set"))
    return out.select(*proj, *carry)


# ---------------------------------------------------------------------------
# Vectorized Arrow kernel (scale path; identical arithmetic, tested equal)
# ---------------------------------------------------------------------------


def _sig_of_text_py(text: str, cfg: DedupConfig) -> list[int] | None:
    """Pure-python reference of the signature arithmetic (for tests/kernel)."""
    toks = ascii_tokens(text.lower())
    if len(toks) < max(cfg.min_tokens, cfg.shingle_window):
        return None
    whs = []
    for w in toks:
        h = 0
        for c in w:
            h = (h * WORD_MULT + ord(c)) % HASH_MOD
        whs.append(h)
    win = cfg.shingle_window
    shingles = []
    for i in range(len(whs) - win + 1):
        acc = 0
        for h in whs[i : i + win]:
            acc = (acc * SHINGLE_MULT + h) % HASH_MOD
        shingles.append(acc)
    ks, bs = cfg.perms
    sig = []
    for m in range(cfg.n_perm):
        k, b = ks[m], bs[m]
        sig.append(max((k * s + b) % PERM_P for s in shingles))
    return sig


#: token -> word-hash memo. Web vocabulary is Zipfian, so after warmup
#: nearly every token is one dict hit; the fallback char loop runs only on
#: first sight of a token. Per Python worker process (no sharing needed —
#: the hash is deterministic).
_TOKEN_HASH_CACHE: dict[str, int] = {}
_TOKEN_HASH_CACHE_MAX = 1 << 22  # ~4M entries; Zipf head re-warms instantly


def _word_hash_py(tok: str) -> int:
    h = _TOKEN_HASH_CACHE.get(tok)
    if h is None:
        h = 0
        for ch in tok:
            h = (h * WORD_MULT + ord(ch)) % HASH_MOD
        if len(_TOKEN_HASH_CACHE) >= _TOKEN_HASH_CACHE_MAX:
            _TOKEN_HASH_CACHE.clear()
        _TOKEN_HASH_CACHE[tok] = h
    return h


def _arange_segments(counts):
    """``concatenate([arange(c) for c in counts])`` without the Python loop.
    Requires every count >= 1 (callers guarantee it)."""
    import numpy as np

    total = int(counts.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    ids = np.ones(total, dtype=np.int64)
    ids[0] = 0
    ends = np.cumsum(counts)[:-1]
    ids[ends] = -(counts[:-1] - 1)
    return np.cumsum(ids)


#: ``mult^j mod 2^31`` tables keyed by multiplier, grown on demand to the
#: longest token (word hash) or document (fingerprint) seen. Per Python
#: worker process (deterministic values, no sharing needed).
_POW_TABLES: dict = {}


def _pow_table(mult: int, n: int):
    import numpy as np

    tbl = _POW_TABLES.get(mult)
    if tbl is None:
        tbl = np.array([pow(mult, j, HASH_MOD) for j in range(64)], dtype=np.uint64)
    while tbl.size < n:
        tbl = np.concatenate((tbl, (tbl[-1] * tbl[1:]) % np.uint64(HASH_MOD)))
    _POW_TABLES[mult] = tbl
    return tbl


def _flat_word_hashes(chunk_texts: list[str]):
    """Vectorized ``ascii_tokens`` + Horner word hash for a chunk of
    already-``lower()``-ed texts — the shared tokenize/hash primitive of
    the signature and SimHash kernels, zero per-token Python.

    The chunk is joined with a single space and decoded once via
    ``utf-32-le`` (a straight codepoint dump, so ``ord(c)`` arithmetic
    vectorizes exactly). Tokens are runs between the canonical
    6-codepoint WS_CLASS separators; the per-token Horner hash
    ``(h*31 + cp) % 2**31`` is computed as ``sum(cp_i * 31^(L-1-i)) mod
    2**31`` (mod-2^31 == bitmask; per-word sums via one
    ``np.add.reduceat``). Bit-identical to
    ``[_word_hash_py(t) for t in ascii_tokens(s)]`` (tested, including
    adversarial Unicode).

    Returns ``(wh_all uint64, wdoc int64, n_tok int64)``: word hashes in
    doc-major order, each word's doc index, and per-doc token counts
    (length ``len(chunk_texts)``; 0 for token-free docs).
    """
    import numpy as np

    ndoc = len(chunk_texts)
    MASK31 = np.uint64(HASH_MOD - 1)
    joined = " ".join(chunk_texts)
    cp = np.frombuffer(
        joined.encode("utf-32-le", "surrogatepass"), dtype=np.uint32
    )
    doc_len = np.fromiter((len(s) for s in chunk_texts), dtype=np.int64, count=ndoc)
    doc_char_end = np.cumsum(doc_len + 1)
    # separator mask: exactly WS_CLASS = [ \t\n\x0B\f\r]
    is_sep = ((cp >= 9) & (cp <= 13)) | (cp == 32)
    sep = np.empty(cp.size + 2, dtype=bool)
    sep[0] = sep[-1] = True
    sep[1:-1] = is_sep
    body = ~is_sep
    starts = np.nonzero(body & sep[:-2])[0]
    if starts.size == 0:
        return (
            np.empty(0, dtype=np.uint64),
            np.empty(0, dtype=np.int64),
            np.zeros(ndoc, dtype=np.int64),
        )
    ends = np.nonzero(body & sep[2:])[0] + 1
    wlen = ends - starts
    pos = np.repeat(starts, wlen) + _arange_segments(wlen)
    off = np.repeat(ends, wlen) - 1 - pos
    pw = _pow_table(WORD_MULT, int(wlen.max()) + 1)
    terms = (cp[pos].astype(np.uint64) * pw[off]) & MASK31
    wstarts = np.concatenate(([0], np.cumsum(wlen)[:-1]))
    wh_all = np.add.reduceat(terms, wstarts) & MASK31
    wdoc = np.searchsorted(doc_char_end, starts, side="right")
    n_tok = np.bincount(wdoc, minlength=ndoc)
    return wh_all, wdoc, n_tok


def _doc_fingerprints(wh_all, n_tok):
    """Whole-document fingerprint per doc from ``_flat_word_hashes``
    output: the Horner fold ``(a*SHINGLE_MULT + h) % 2**31`` over the doc's
    word hashes, 0 for a token-free doc (``textfns.fingerprint_sql``).

    Mod 2^31 is a bitmask, so the fold equals ``sum(h_i * M^(n-1-i)) mod
    2**31``: one power-table gather and one ``np.add.reduceat``, the same
    form as the per-token word hash. Each term is below 2^31, so the
    uint64 sum is exact for any doc under 2^33 tokens."""
    import numpy as np

    out = np.zeros(n_tok.size, dtype=np.int64)
    has = n_tok > 0
    cnt = n_tok[has]
    if cnt.size == 0:
        return out
    mask31 = np.uint64(HASH_MOD - 1)
    off = np.repeat(cnt, cnt) - 1 - _arange_segments(cnt)
    pw = _pow_table(SHINGLE_MULT, int(cnt.max()))
    terms = (wh_all * pw[off]) & mask31
    starts = np.concatenate(([0], np.cumsum(cnt)[:-1]))
    out[has] = (np.add.reduceat(terms, starts) & mask31).astype(np.int64)
    return out


def _iter_text_chunks(id_vals, text_vals, chunk_docs: int = 64,
                      chunk_chars: int = 1 << 18):
    """Yield ``(lowered_texts, ids)`` slices for the flat kernels: at most
    ``chunk_docs`` docs (L2-residency of the flat temporaries — measured
    in ``signature_kernel_arrow``'s docstring) and ``chunk_chars`` chars
    (mega-doc guard) per slice."""
    chunk_texts, ids_chunk, nchars = [], [], 0
    for doc_id, text in zip(id_vals, text_vals):
        s = str(text).lower()
        chunk_texts.append(s)
        ids_chunk.append(doc_id)
        nchars += len(s)
        if len(chunk_texts) >= chunk_docs or nchars >= chunk_chars:
            yield chunk_texts, ids_chunk
            chunk_texts, ids_chunk, nchars = [], [], 0
    if chunk_texts:
        yield chunk_texts, ids_chunk


def _flat_shingles(wh, n_tok_k, win: int):
    """Flat ``shingle_window``-gram hashes over doc-major word hashes,
    masking windows that would cross a doc boundary. ``n_tok_k`` must be
    per-doc token counts of the docs present in ``wh`` (all >= win).

    Returns ``(sh uint64, sh_starts int64, n_sh int64)`` — shingles in
    doc-major order plus per-doc segment starts/counts for ``reduceat``.
    """
    import numpy as np

    M = np.uint64(HASH_MOD)
    SM = np.uint64(SHINGLE_MULT)
    n = wh.size
    sh_full = wh[: n - win + 1].copy()
    for j in range(1, win):
        sh_full = (sh_full * SM + wh[j : n - win + 1 + j]) % M
    tstarts = np.concatenate(([0], np.cumsum(n_tok_k)[:-1]))
    n_sh = n_tok_k - win + 1
    spos = np.repeat(tstarts, n_sh) + _arange_segments(n_sh)
    sh = sh_full[spos]
    sh_starts = np.concatenate(([0], np.cumsum(n_sh)[:-1]))
    return sh, sh_starts, n_sh


def signature_kernel_arrow(
    df: DataFrame,
    cfg: DedupConfig,
    id_col: str,
    text_col: str = "text",
    fingerprint: bool = False,
) -> DataFrame:
    """mapInPandas signature kernel: ``(id, sig, shingle_set)`` rows.

    ``fingerprint=True`` adds the whole-document ``fingerprint`` column
    (``textfns.fingerprint`` arithmetic, folded from the same word hashes),
    so the exact-duplicate pass needs no second read of the text.

    This is the SCALE path for the signature stage (the SQL-expression path
    in ``with_signature`` computes identical values but evaluates nested
    higher-order functions interpreted on the JVM, which stops scaling past
    ~8 threads per JVM — measured 60s@local[8] vs 186s@local[32] on the
    370k-doc bench corpus). Python workers are separate processes, so
    parallel efficiency survives any executor thread count. Rows failing
    the validity filter, and rows with NULL text, are dropped (same
    contract as ``valid_documents`` + ``with_signature``).

    Physical form: **chunked-flat numpy over codepoint arrays** — no
    per-token Python at all. Each ~64-doc / <=256K-char slice of the Arrow
    batch is lowered once, joined with a separator, and decoded to a
    ``uint32`` codepoint array (``utf-32-le`` is a straight codepoint dump,
    so ``ord(c)`` arithmetic vectorizes exactly). Tokens are runs between
    the canonical 6-codepoint WS_CLASS separators; the per-token Horner
    hash ``(h*31 + cp) % 2**31`` becomes ``sum(cp_i * 31^(L-1-i)) mod 2**31``
    (mod-2^31 is a bitmask, the 31-powers come from a grown-on-demand
    table, the per-word sums from one ``np.add.reduceat``). Shingles,
    per-permutation max-hash (1-D passes + ``np.maximum.reduceat``) and the
    per-doc sorted-unique shingle sets (doc-tagged 64-bit keys, one sort +
    first-occurrence dedup — same trick as the verify kernel) all run on
    the flat chunk. Chunk sizing keeps every temporary L2-resident: the
    64-doc chunk holds 65/66 us/doc from 1 -> 16 pinned workers where
    256-doc chunks degrade 71 -> 79 and the per-doc loop sits at ~126-138
    (measured on the 1.11M-doc fixture corpus; bit-identical outputs
    verified against the per-doc form on corpus + adversarial-Unicode
    inputs, and against the SQL HOF twin in tests/test_signatures.py).
    ~2x the per-doc loop this replaced.
    """
    import numpy as np

    ks, bs = cfg.perms
    ks_l = [np.uint64(k) for k in ks]
    bs_l = [np.uint64(b) for b in bs]
    win = cfg.shingle_window
    min_toks = max(cfg.min_tokens, cfg.shingle_window)
    P = np.uint64(PERM_P)
    MASK31 = np.uint64(HASH_MOD - 1)
    sketch_k = cfg.verify_sketch_k
    CHUNK_DOCS = 64          # L2-residency (see docstring measurements)
    CHUNK_CHARS = 1 << 18    # mega-doc guard: bounds flat temporaries

    def _emit_chunk(chunk_texts, ids_chunk, ids, sigs, sets, nsets, fps):
        wh_all, wdoc, n_tok = _flat_word_hashes(chunk_texts)
        if wh_all.size == 0:
            return
        # validity filter; drop dropped docs' words
        keep = n_tok >= min_toks
        nk = int(keep.sum())
        if nk == 0:
            return
        if fingerprint:
            fps.extend(_doc_fingerprints(wh_all, n_tok)[keep])
        wh = wh_all[keep[wdoc]]
        n_tok_k = n_tok[keep]
        sh, sh_starts, n_sh = _flat_shingles(wh, n_tok_k, win)
        # per-permutation 1-D max-hash (segment max per doc)
        sig_chunk = np.empty((nk, len(ks_l)), dtype=np.int64)
        tmp = np.empty_like(sh)
        for m, (k, b) in enumerate(zip(ks_l, bs_l)):
            np.multiply(sh, k, out=tmp)
            np.add(tmp, b, out=tmp)
            np.mod(tmp, P, out=tmp)
            sig_chunk[:, m] = np.maximum.reduceat(tmp, sh_starts)
        # per-doc sorted-unique == array_sort(array_distinct): doc-tagged
        # keys, one sort, first-occurrence dedup. Packed little-endian
        # int32: a BINARY cell crosses the Arrow/shuffle boundary as one
        # memcpy, where ARRAY<INT> pays per-element conversion in every hop
        didx = np.repeat(np.arange(nk, dtype=np.uint64), n_sh)
        keys = (didx << np.uint64(31)) | sh
        keys.sort()
        first = np.empty(keys.size, dtype=bool)
        first[0] = True
        np.not_equal(keys[1:], keys[:-1], out=first[1:])
        uk = keys[first]
        udoc = (uk >> np.uint64(31)).astype(np.int64)
        uval = (uk & MASK31).astype("<i4")
        bounds = np.searchsorted(udoc, np.arange(nk + 1))
        di = 0
        for i, kflag in enumerate(keep):
            if not kflag:
                continue
            lo, hi = int(bounds[di]), int(bounds[di + 1])
            uniq = uval[lo:hi]
            nsets.append(hi - lo)
            if sketch_k:
                # bottom-k KMV sketch: k smallest (already sorted)
                uniq = uniq[:sketch_k]
            sets.append(uniq.tobytes())
            sigs.append(sig_chunk[di])
            ids.append(ids_chunk[i])
            di += 1

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mask = pdf[text_col].notna().values
            id_vals = pdf[id_col].values[mask]
            text_vals = pdf[text_col].values[mask]
            ids, sigs, sets, nsets, fps = [], [], [], [], []
            for chunk_texts, ids_chunk in _iter_text_chunks(
                id_vals, text_vals, CHUNK_DOCS, CHUNK_CHARS
            ):
                _emit_chunk(chunk_texts, ids_chunk, ids, sigs, sets, nsets, fps)
            if not ids:
                # every doc dropped: an empty frame would type its list
                # columns float64, which Arrow cannot convert
                continue
            out = {id_col: ids, "sig": sigs, "shingle_set": sets,
                   "n_set_true": np.array(nsets, dtype=np.int32)}
            if fingerprint:
                out["fingerprint"] = np.array(fps, dtype=np.int64)
            yield pd.DataFrame(out)

    id_field = df.schema[id_col]
    schema = (
        f"{id_col} {id_field.dataType.simpleString()}, "
        "sig array<bigint>, shingle_set binary, n_set_true int"
        + (", fingerprint bigint" if fingerprint else "")
    )
    return df.select(id_col, text_col).mapInPandas(fn, schema=schema)


