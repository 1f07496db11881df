"""Stage 2 — fine-grained redundant-span extraction (the delta stage).

Recasts the reference's index+delta stages over token sequences:

* block-index build (``/root/reference/index.c:207-267``) -> an in-kernel
  dict ``token -> positions`` over the base document;
* greedy row scan with rightward match extension emitting ``COPY(x,y,len)``
  / ``INSERT(len, blocks)`` (``/root/reference/idelta.c:25-176``) -> a
  1-D greedy longest-match scan over target tokens emitting
  ``COPY(a_off, b_off, length)`` / ``INSERT(b_off, length, payload)``;
* consecutive-duplicate index suppression (``index.c:102-109``) -> made
  unnecessary: the production matcher is the suffix-array LCS kernel
  (``suffix.suffix_spans``), O(n log n) regardless of token repetition,
  so no probe cap is needed and no long match is ever missed. The capped
  hash-probe ``greedy_spans`` below is kept as the pure-python
  cross-algorithm twin (bit-identical at ``max_pos=inf``,
  tests/test_suffix.py) and for bounded-memory comparison;
* OMIT_LOW_DELTA (``idelta.c:403-419``) -> drop pairs whose matched
  fraction is below ``config.OMIT_LOW_DELTA``.

Execution shape: after the ``best_base`` join each (base, target) row is
independent -> ``mapInPandas`` (Arrow-batched, no shuffle). At 100 TB the
only shuffles feeding this stage are the two id joins that attach texts.

The round-trip invariant (CHECK_DECOMPRESS analog,
``/root/reference/jpeg.c:583-603``): replaying COPY spans against the base
token sequence and splicing INSERT payloads must reproduce the target token
sequence exactly — ``reconstruct_targets`` + tests/test_roundtrip.py.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .config import OMIT_LOW_DELTA
from .signatures import ascii_tokens
from .suffix import suffix_spans

#: minimum COPY run length in tokens (a 1-token COPY is noise, unlike the
#: reference's 128-byte JBLOCKs where a single block match is significant)
MIN_COPY_LEN = 3
#: max indexed positions per token for the legacy greedy probe
#: (index.c:102-109 spirit). The production suffix-array kernel needs no
#: cap; this bounds only the pure-python twin when called capped.
MAX_POSITIONS_PER_TOKEN = 64

SPAN_SCHEMA = (
    "id_a long, id_b long, instr_id int, kind string, "
    "a_off int, b_off int, length int, payload string"
)
SPAN_SCHEMA_STR_IDS = SPAN_SCHEMA.replace("id_a long, id_b long", "id_a string, id_b string")


def greedy_spans(base_tokens: list[str], tgt_tokens: list[str],
                 min_copy: int = MIN_COPY_LEN,
                 max_pos: int = MAX_POSITIONS_PER_TOKEN,
                 joiner: str = " "):
    """Pure-python greedy matcher (mirrors ``idelta.c:59-132`` in 1-D).

    Returns a list of instructions ``(kind, a_off, b_off, length, payload)``
    where payload is the ``joiner``-joined inserted tokens (None for COPY).
    Deterministic: longest extension wins, ties -> smallest a_off.
    The token domain is opaque (the byte-delta lane feeds hex-encoded
    chunk strings with ``joiner=""``).

    Role: cross-algorithm TWIN of the production suffix-array kernel —
    ``greedy_spans(A, B, mc, max_pos=inf) == suffix.suffix_spans(A, B, mc)``
    bit-for-bit (hypothesis-tested). Production goes through the suffix
    kernel; this stays for parity tests and as the capped bounded-memory
    variant (``max_pos`` mirrors the reference's index suppression).
    """
    index: dict[str, list[int]] = {}
    for pos, tok in enumerate(base_tokens):
        lst = index.setdefault(tok, [])
        if len(lst) < max_pos:
            lst.append(pos)

    out = []
    nA, nB = len(base_tokens), len(tgt_tokens)
    i = 0
    ins_start = 0

    def flush_insert(upto: int) -> None:
        if upto > ins_start:
            out.append(
                ("INSERT", -1, ins_start, upto - ins_start,
                 joiner.join(tgt_tokens[ins_start:upto]))
            )

    while i < nB:
        best_len, best_a = 0, -1
        for a_pos in index.get(tgt_tokens[i], ()):
            l = 0
            while a_pos + l < nA and i + l < nB and base_tokens[a_pos + l] == tgt_tokens[i + l]:
                l += 1
            if l > best_len:
                best_len, best_a = l, a_pos
        if best_len >= min_copy:
            flush_insert(i)
            out.append(("COPY", best_a, i, best_len, None))
            i += best_len
            ins_start = i
        else:
            i += 1
    flush_insert(nB)
    return out


def extract_spans(pair_texts: DataFrame, string_ids: bool = False) -> DataFrame:
    """``(id_a, id_b, text_a, text_b)`` -> span instruction rows.

    ``text_a`` is the base, ``text_b`` the target. Tokenization here is
    case-preserving ``ascii_tokens`` (the canonical ASCII whitespace
    class — identical splitting rule in the DuckDB span oracle) so the
    round-trip reproduces the original token stream (signatures use their
    own lowercased tokens).

    Matcher: the suffix-array LCS kernel (``suffix.suffix_spans``) —
    exact longest-match semantics with no probe cap, O(n log n) per pair
    even on boilerplate-heavy pages where the greedy probe degrades.
    """
    min_copy = MIN_COPY_LEN
    omit = OMIT_LOW_DELTA

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for id_a, id_b, ta, tb in zip(
                pdf["id_a"].values, pdf["id_b"].values,
                pdf["text_a"].values, pdf["text_b"].values,
            ):
                A, B = ascii_tokens(str(ta)), ascii_tokens(str(tb))
                instrs = suffix_spans(A, B, min_copy)
                matched = sum(l for k, _, _, l, _ in instrs if k == "COPY")
                if B and matched / len(B) < omit:
                    # OMIT_LOW_DELTA: pass through as one INSERT (verbatim)
                    instrs = [("INSERT", -1, 0, len(B), " ".join(B))]
                for n, (kind, a_off, b_off, length, payload) in enumerate(instrs):
                    rows.append((id_a, id_b, n, kind, a_off, b_off, length, payload))
            yield pd.DataFrame(
                rows,
                columns=["id_a", "id_b", "instr_id", "kind",
                         "a_off", "b_off", "length", "payload"],
            )

    schema = SPAN_SCHEMA_STR_IDS if string_ids else SPAN_SCHEMA
    return pair_texts.select("id_a", "id_b", "text_a", "text_b").mapInPandas(fn, schema)


def pair_texts_from_best_base(best: DataFrame, docs: DataFrame, id_col: str) -> DataFrame:
    """Attach texts to (base_id, target_id) pairs -> extract_spans input."""
    t = docs.select(F.col(id_col), F.col("text"))
    return (
        best.select(F.col("base_id").alias("id_a"), F.col("target_id").alias("id_b"))
        .join(t.withColumnRenamed(id_col, "id_a").withColumnRenamed("text", "text_a"), "id_a")
        .join(t.withColumnRenamed(id_col, "id_b").withColumnRenamed("text", "text_b"), "id_b")
    )


def pair_texts_from_clusters(clusters: DataFrame, docs: DataFrame, id_col: str) -> DataFrame:
    """Cluster mode (SURVEY §7 M5): base = cluster representative (min id),
    one pair per non-representative member."""
    members = clusters.where(F.col(id_col) != F.col("cluster_id"))
    t = docs.select(F.col(id_col), F.col("text"))
    return (
        members.select(F.col("cluster_id").alias("id_a"), F.col(id_col).alias("id_b"))
        .join(t.withColumnRenamed(id_col, "id_a").withColumnRenamed("text", "text_a"), "id_a")
        .join(t.withColumnRenamed(id_col, "id_b").withColumnRenamed("text", "text_b"), "id_b")
    )


def span_summary(spans: DataFrame) -> DataFrame:
    """Per-pair rollup: copied/inserted token counts + matched fraction
    (drives the similarity histogram, ``/root/reference/idelta.c:382-401``)."""
    return (
        spans.groupBy("id_a", "id_b")
        .agg(
            F.sum(F.when(F.col("kind") == "COPY", F.col("length")).otherwise(0))
            .cast("long").alias("copied_tokens"),
            F.sum(F.when(F.col("kind") == "INSERT", F.col("length")).otherwise(0))
            .cast("long").alias("inserted_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_instructions"),
        )
        .withColumn(
            "matched_fraction",
            F.round(
                F.col("copied_tokens")
                / (F.col("copied_tokens") + F.col("inserted_tokens")),
                6,
            ),
        )
    )


def reconstruct_targets(spans: DataFrame, docs: DataFrame, id_col: str) -> DataFrame:
    """Replay instructions -> (id_b, reconstructed_text) — the
    CHECK_DECOMPRESS analog. Reconstruction needs only the base text and the
    instruction stream (INSERT payloads carry the residual tokens).

    Scale shape: the instruction stream is collapsed to ONE row per
    (base, target) pair *before* the base text joins on — joining the full
    base text onto every span row would replicate it n_instructions times
    into the shuffle (a 10k-instruction pair would carry the base 10k x).
    ``sort_array`` over the struct list orders by its first field
    (``instr_id``), so the replay order is deterministic in-kernel.
    """
    instrs = spans.groupBy("id_a", "id_b").agg(
        F.sort_array(
            F.collect_list(F.struct("instr_id", "kind", "a_off", "length", "payload"))
        ).alias("instrs")
    )
    base_texts = docs.select(
        F.col(id_col).alias("id_a"), F.col("text").alias("base_text")
    )
    joined = instrs.join(base_texts, "id_a")

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, texts = [], []
            for id_b, instr_list, base_text in zip(
                pdf["id_b"].values, pdf["instrs"].values, pdf["base_text"].values
            ):
                buf: list[str] = []
                A = None
                for row in instr_list:  # sorted by instr_id (first struct field)
                    if row["kind"] == "COPY":
                        if A is None:
                            A = ascii_tokens(str(base_text))
                        buf.extend(A[row["a_off"] : row["a_off"] + row["length"]])
                    elif row["payload"]:
                        buf.extend(ascii_tokens(str(row["payload"])))
                ids.append(id_b)
                texts.append(" ".join(buf))
            yield pd.DataFrame({"id_b": ids, "reconstructed_text": texts})

    id_type = spans.schema["id_b"].dataType.simpleString()
    return joined.select("id_b", "instrs", "base_text").mapInPandas(
        fn, schema=f"id_b {id_type}, reconstructed_text string"
    )
