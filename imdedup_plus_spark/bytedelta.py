"""Byte-level delta lane — the xdelta analog for non-tokenizable payloads.

The reference deltas raw bytes where the token-level span lane has no
analog: file headers and whole undecodable files go through xdelta
(``/root/reference/idelta.c:480-496,711-748``), with rolling-hash
(Rabin/Gear, ``/root/reference/rabin/``) block anchoring. This module
recasts that as a **content-defined-chunk byte delta** over the ``html
BINARY`` payload (BASELINE.json input_hint):

* each payload is split at content-defined boundaries — a rolling
  ``CDC_WINDOW``-byte polynomial fingerprint passes the prime divisor
  test ``fp % CDC_DIVISOR == CDC_REMAINDER`` (prime for the same
  low-bit-bias reason as ``chunking.CDC_DIVISOR``). Content-defined
  anchors are shift-immune: fixed-grid blocks lose EVERY match when one
  byte is inserted upstream (measured: 0 matches on a 400-byte shared
  run misaligned by 2 bytes), which is exactly why the reference carries
  rabin/gear chunkers next to xdelta;
* chunks are hex-encoded strings; the suffix-array LCS kernel
  (``suffix.suffix_spans``) runs unchanged over the chunk lists (``min_copy=1`` — one matched chunk ~64 bytes is
  significant, the JBLOCK rationale) emitting COPY/INSERT instructions in
  chunk units with hex INSERT payloads;
* chunk lists concatenate back to the exact byte stream, so any
  instruction stream reconstructs the payload byte-for-byte —
  ``reconstruct_payloads`` + ``dedup_byte_roundtrip_check`` are the
  CHECK_DECOMPRESS analog (``/root/reference/jpeg.c:583-603``).

Oracle: identical machinery to the token span lane — the recursive-CTE
greedy replay (``oracle.span_ctes``) parameterized with CDC-chunk token
expressions, ``min_copy=1``, ``joiner=''`` — instruction-exact.

The driver testdata carries no html column, so the payload is the UTF-8
bytes of the deterministic synthetic page (``multimodal.wrapped_html_col``)
— the chunking/delta/restore under test is real byte-level machinery.

Execution shape: identical to the span lane — two id joins attach payload
hex to (base, target) pairs, then a shuffle-free Arrow-batched
``mapInPandas`` kernel per pair; reconstruction collapses instructions per
pair BEFORE the base payload joins on (no per-instruction replication).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .config import HASH_MOD, OMIT_LOW_DELTA, SHINGLE_MULT, DedupConfig
from .multimodal import wrapped_html_col, wrapped_html_sql
from .suffix import suffix_spans

#: rolling-fingerprint window in bytes
CDC_WINDOW = 8
#: expected chunk length in bytes. PRIME — fp is a polynomial mod 2**31,
#: so a power-of-two divisor would read only its biased low bits (see
#: chunking.CDC_DIVISOR for the measurement).
CDC_DIVISOR = 61
CDC_REMAINDER = 0

BYTE_SPAN_SCHEMA = (
    "id_a long, id_b long, instr_id int, kind string, "
    "a_off int, b_off int, length int, payload string"
)


def cdc_byte_chunks(payload_hex: str, window: int = CDC_WINDOW,
                    divisor: int = CDC_DIVISOR,
                    remainder: int = CDC_REMAINDER) -> list[str]:
    """Split a lowercase-hex payload at content-defined boundaries.

    Byte ``i`` (1-based) ENDS a chunk iff the polynomial fingerprint of
    bytes ``[i-window+1, i]`` (ordered left fold, ``SHINGLE_MULT`` /
    ``HASH_MOD`` — the same combiner as the shingle lane) passes the
    divisor test. ``"".join(chunks) == payload_hex`` always.
    """
    bs = bytes.fromhex(payload_hex)
    n = len(bs)
    if n == 0:
        return []
    ends = []
    fp = 0
    # rolling re-computation: the window is tiny (8), so the O(n*window)
    # direct fold stays bit-identical to the SQL replay with zero state
    for i in range(window, n + 1):
        fp = 0
        for x in bs[i - window : i]:
            fp = (fp * SHINGLE_MULT + x) % HASH_MOD
        if fp % divisor == remainder:
            ends.append(i)
    if not ends or ends[-1] != n:
        ends.append(n)
    out, prev = [], 0
    for e in ends:
        out.append(payload_hex[prev * 2 : e * 2])
        prev = e
    return out


def payload_hex_col(text_col: str = "text") -> "F.Column":
    """Lowercase hex of the synthetic page's UTF-8 bytes (the stand-in for
    a real ``html BINARY`` column; with one, this is just lower(hex(col)))."""
    return F.lower(F.hex(F.encode(wrapped_html_col(text_col), "UTF-8")))


def payload_hex_sql(text_expr: str = "text") -> str:
    return f"lower(hex(encode({wrapped_html_sql(text_expr)})))"


def pair_payloads(
    pairs: DataFrame, docs: DataFrame, id_col: str, hex_col: "F.Column | None" = None
) -> DataFrame:
    """Attach payload hex to (id_a, id_b) pairs -> extract input.

    ``hex_col`` overrides the payload source (default: the synthetic
    html wrap of ``text``); pass ``F.lower(F.hex(F.col("content")))``
    to delta arbitrary raw bytes (dirdedup.py does)."""
    ph = hex_col if hex_col is not None else payload_hex_col("text")
    p = docs.select(F.col(id_col), ph.alias("ph"))
    return (
        pairs.select("id_a", "id_b")
        .join(
            p.withColumnRenamed(id_col, "id_a").withColumnRenamed("ph", "hex_a"), "id_a"
        )
        .join(
            p.withColumnRenamed(id_col, "id_b").withColumnRenamed("ph", "hex_b"), "id_b"
        )
    )


def extract_byte_spans(pair_hex: DataFrame) -> DataFrame:
    """``(id_a, id_b, hex_a, hex_b)`` -> chunk-unit instruction rows.

    Runs the suffix-array LCS kernel (``suffix.suffix_spans``) over CDC
    chunk tokens (``min_copy=1``, ``joiner=""``); OMIT_LOW_DELTA applies to
    the matched *chunk* fraction with the same float comparison as the
    token lane."""
    omit = OMIT_LOW_DELTA

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for id_a, id_b, ha, hb in zip(
                pdf["id_a"].values, pdf["id_b"].values,
                pdf["hex_a"].values, pdf["hex_b"].values,
            ):
                A, B = cdc_byte_chunks(str(ha)), cdc_byte_chunks(str(hb))
                instrs = suffix_spans(A, B, min_copy=1, joiner="")
                matched = sum(l for k, _, _, l, _ in instrs if k == "COPY")
                if B and matched / len(B) < omit:
                    instrs = [("INSERT", -1, 0, len(B), "".join(B))]
                for n, (kind, a_off, b_off, length, payload) in enumerate(instrs):
                    rows.append((id_a, id_b, n, kind, a_off, b_off, length, payload))
            yield pd.DataFrame(
                rows,
                columns=["id_a", "id_b", "instr_id", "kind",
                         "a_off", "b_off", "length", "payload"],
            )

    return pair_hex.select("id_a", "id_b", "hex_a", "hex_b").mapInPandas(
        fn, BYTE_SPAN_SCHEMA
    )


def byte_span_summary(spans: DataFrame) -> DataFrame:
    """Per-pair rollup in chunk units + exact inserted byte count (INSERT
    payload hex length / 2 — chunk lengths vary, bytes don't lie)."""
    return (
        spans.groupBy("id_a", "id_b")
        .agg(
            F.sum(F.when(F.col("kind") == "COPY", F.col("length")).otherwise(0))
            .cast("long").alias("copied_chunks"),
            F.sum(F.when(F.col("kind") == "INSERT", F.col("length")).otherwise(0))
            .cast("long").alias("inserted_chunks"),
            # per-row integer floor, THEN sum — identical arithmetic to the
            # oracle's sum(len(payload) // 2) (CLAUDE.md: floor() not CAST;
            # sum-then-truncate would diverge on odd-length payloads)
            F.sum(
                F.when(
                    F.col("kind") == "INSERT",
                    F.floor(F.length("payload") / 2),
                ).otherwise(F.lit(0))
            ).cast("long").alias("inserted_bytes"),
            F.count(F.lit(1)).cast("long").alias("n_instructions"),
        )
        .withColumn(
            "matched_fraction",
            F.round(
                F.col("copied_chunks")
                / (F.col("copied_chunks") + F.col("inserted_chunks")),
                6,
            ),
        )
    )


def reconstruct_payloads(
    spans: DataFrame, docs: DataFrame, id_col: str, hex_col: "F.Column | None" = None
) -> DataFrame:
    """Replay instructions -> (id_b, reconstructed payload hex). The base
    chunk list is recomputed from the base payload (deterministic), and a
    COPY of chunks [a_off, a_off+length) concatenates those chunks.

    Same scale shape as ``spans.reconstruct_targets``: instructions
    collapse to one row per pair before the base payload joins on."""
    instrs = spans.groupBy("id_a", "id_b").agg(
        F.sort_array(
            F.collect_list(F.struct("instr_id", "kind", "a_off", "length", "payload"))
        ).alias("instrs")
    )
    ph = hex_col if hex_col is not None else payload_hex_col("text")
    base = docs.select(F.col(id_col).alias("id_a"), ph.alias("hex_a"))
    joined = instrs.join(base, "id_a")

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hexes = [], []
            for id_b, instr_list, hex_a in zip(
                pdf["id_b"].values, pdf["instrs"].values, pdf["hex_a"].values
            ):
                A = None
                buf = []
                for row in instr_list:  # sorted by instr_id (first struct field)
                    if row["kind"] == "COPY":
                        if A is None:
                            A = cdc_byte_chunks(str(hex_a))
                        buf.append("".join(A[row["a_off"] : row["a_off"] + row["length"]]))
                    elif row["payload"]:
                        buf.append(str(row["payload"]))
                ids.append(id_b)
                hexes.append("".join(buf))
            yield pd.DataFrame({"id_b": ids, "reconstructed_hex": hexes})

    id_type = spans.schema["id_b"].dataType.simpleString()
    return joined.select("id_b", "instrs", "hex_a").mapInPandas(
        fn, schema=f"id_b {id_type}, reconstructed_hex string"
    )


def byte_roundtrip_check(spans: DataFrame, docs: DataFrame, id_col: str) -> DataFrame:
    """(target_id, byte_identical): reconstruction vs the original payload."""
    rec = reconstruct_payloads(spans, docs, id_col)
    orig = docs.select(
        F.col(id_col).alias("id_b"), payload_hex_col("text").alias("orig_hex")
    )
    return rec.join(orig, "id_b").select(
        F.col("id_b").alias("target_id"),
        (F.col("reconstructed_hex") == F.col("orig_hex")).alias("byte_identical"),
    )


# ---------------------------------------------------------------------------
# DuckDB oracle SQL — the span-lane recursive replay over CDC-chunk tokens
# ---------------------------------------------------------------------------

_HEXD = "0123456789abcdef"


def cdc_chunk_cte_sql(id_col: str = "doc_id", table: str = "documents",
                      window: int = CDC_WINDOW, divisor: int = CDC_DIVISOR,
                      remainder: int = CDC_REMAINDER) -> str:
    """``sp_chunk_src`` CTE replaying ``cdc_byte_chunks`` bit-for-bit per
    doc: ``(id_col, chunks list<varchar>)`` over ``payload_hex_sql(text)``
    (hex-digit -> byte via strpos math; same ordered fold, same divisor
    test, same tail rule). Staged derived tables, NOT a correlated
    subquery — DuckDB can't resolve an outer column through nested
    derived tables, so the chunker feeds ``sp_toks`` via ``tok_table``."""
    h = payload_hex_sql("text")
    byte_at = (
        f"16*(strpos('{_HEXD}', h[2*(i)-1 : 2*(i)-1]) - 1)"
        f" + strpos('{_HEXD}', h[2*(i) : 2*(i)]) - 1"
    )
    fp = (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), bl[i-{window}+1 : i]), "
        f"(acc, x) -> (acc * {SHINGLE_MULT} + x) % {HASH_MOD})"
    )
    return f"""
sp_chunk_src AS MATERIALIZED (
  SELECT {id_col},
         CASE WHEN n = 0 THEN CAST([] AS VARCHAR[])
              ELSE list_transform(generate_series(1, len(en)),
                     j -> h[CASE WHEN j = 1 THEN 1 ELSE en[j-1]*2 + 1 END : en[j]*2])
         END AS chunks
  FROM (
    SELECT {id_col}, h, n,
           CASE WHEN len(bn) = 0 OR bn[len(bn)] != n
                THEN list_append(bn, n) ELSE bn END AS en
    FROM (
      SELECT {id_col}, h, n,
             list_filter(generate_series({window}, n),
                         i -> ({fp}) % {divisor} = {remainder}) AS bn
      FROM (
        SELECT {id_col}, h, n,
               list_transform(generate_series(1, n), i -> {byte_at}) AS bl
        FROM (SELECT {id_col}, {h} AS h, len({h}) // 2 AS n FROM {table})
      )
    )
  )
),"""


def byte_span_query(
    cfg: DedupConfig, select: str, pair_sel: str | None = None,
    id_col: str = "doc_id", table: str = "documents",
) -> str:
    from .oracle import BEST_BASE_PAIR_SEL, span_stage_query

    return span_stage_query(
        cfg, select,
        pair_sel=BEST_BASE_PAIR_SEL if pair_sel is None else pair_sel,
        id_col=id_col, table=table,
        tok_a="da.chunks", tok_b="db.chunks",
        min_copy=1, joiner="",
        pre_cte=cdc_chunk_cte_sql(id_col, table),
        tok_table="sp_chunk_src",
    )


BYTE_SUMMARY_SELECT = """
SELECT id_a, id_b,
  CAST(sum(CASE WHEN kind = 'COPY' THEN length ELSE 0 END) AS BIGINT) AS copied_chunks,
  CAST(sum(CASE WHEN kind = 'INSERT' THEN length ELSE 0 END) AS BIGINT) AS inserted_chunks,
  CAST(sum(CASE WHEN kind = 'INSERT' THEN len(payload) // 2 ELSE 0 END) AS BIGINT)
    AS inserted_bytes,
  CAST(count(*) AS BIGINT) AS n_instructions,
  round(sum(CASE WHEN kind = 'COPY' THEN length ELSE 0 END)
        / (sum(CASE WHEN kind = 'COPY' THEN length ELSE 0 END)
           + sum(CASE WHEN kind = 'INSERT' THEN length ELSE 0 END)), 6)
    AS matched_fraction
FROM sp_spans GROUP BY 1, 2"""


def byte_roundtrip_sql(
    cfg: DedupConfig, id_col: str = "doc_id", table: str = "documents",
) -> str:
    from .oracle import CLUSTER_PAIR_SEL

    recon = """
  SELECT s.id_b, string_agg(
    CASE WHEN s.kind = 'COPY'
         THEN array_to_string(p.A[s.a_off + 1 : s.a_off + s.length], '')
         ELSE s.payload END, '' ORDER BY s.instr_id) AS reconstructed_hex
  FROM sp_spans s JOIN sp_toks p ON p.id_a = s.id_a AND p.id_b = s.id_b
  GROUP BY 1
"""
    orig = payload_hex_sql("d.text")
    return byte_span_query(
        cfg,
        f"SELECT r.id_b AS target_id, (r.reconstructed_hex = {orig}) AS byte_identical\n"
        f"FROM ({recon}) r JOIN {table} d ON d.{id_col} = r.id_b",
        pair_sel=CLUSTER_PAIR_SEL,
        id_col=id_col,
        table=table,
    )
