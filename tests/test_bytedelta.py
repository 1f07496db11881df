"""Byte-delta lane: CDC chunking, kernel byte-identity on arbitrary
binary payloads, shift-immunity, and the Spark path end-to-end."""

from __future__ import annotations

import random

from imdedup_plus_spark import bytedelta as BD
from imdedup_plus_spark.suffix import suffix_spans


def _replay(instrs, chunks_a):
    buf = []
    for kind, a_off, _b_off, length, payload in instrs:
        if kind == "COPY":
            buf.append("".join(chunks_a[a_off : a_off + length]))
        elif payload:
            buf.append(payload)
    return "".join(buf)


def test_cdc_chunks_concat_identity():
    rng = random.Random(3)
    for n in (0, 1, 7, 8, 9, 61, 1000):
        h = bytes(rng.randrange(256) for _ in range(n)).hex()
        chunks = BD.cdc_byte_chunks(h)
        assert "".join(chunks) == h
        assert all(chunks)  # no empty chunks
        if n:
            assert chunks


def test_cdc_expected_chunk_length():
    """Boundary probability 1/CDC_DIVISOR -> mean chunk length within 2x of
    the divisor on a long random payload (sanity, not a tight bound)."""
    rng = random.Random(7)
    h = bytes(rng.randrange(256) for _ in range(20000)).hex()
    chunks = BD.cdc_byte_chunks(h)
    mean_bytes = len(h) / 2 / len(chunks)
    assert BD.CDC_DIVISOR / 2 < mean_bytes < BD.CDC_DIVISOR * 2


def test_cdc_shift_immunity():
    """The property that motivated CDC over a fixed grid: inserting bytes
    BEFORE a shared run must not destroy its chunk matches. A 2-byte shift
    under a fixed grid yields 0 COPYs; CDC must recover (nearly) all."""
    rng = random.Random(11)
    shared = bytes(rng.randrange(256) for _ in range(2000))
    a = bytes(rng.randrange(256) for _ in range(300)) + shared
    b = bytes(rng.randrange(256) for _ in range(302)) + shared + b"\x00\x01tail"
    A, B = BD.cdc_byte_chunks(a.hex()), BD.cdc_byte_chunks(b.hex())
    instrs = suffix_spans(A, B, min_copy=1, joiner="")
    assert _replay(instrs, A) == b.hex()
    copied_chunks = sum(l for k, _, _, l, _ in instrs if k == "COPY")
    copied_bytes = sum(
        len(c) // 2
        for k, a_off, _, l, _ in instrs
        if k == "COPY"
        for c in A[a_off : a_off + l]
    )
    assert copied_chunks >= 3
    # all but the two boundary-straddling chunks of the shared run match
    assert copied_bytes >= len(shared) - 4 * BD.CDC_DIVISOR


def test_kernel_edge_cases():
    assert suffix_spans([], [], min_copy=1, joiner="") == []
    chunks = BD.cdc_byte_chunks(b"abc".hex())
    assert suffix_spans(chunks, chunks, min_copy=1, joiner="") == [
        ("COPY", 0, 0, len(chunks), None)
    ]
    other = BD.cdc_byte_chunks(b"xyz".hex())
    instrs = suffix_spans(chunks, other, min_copy=1, joiner="")
    assert all(k == "INSERT" for k, *_ in instrs)
    assert _replay(instrs, chunks) == b"xyz".hex()


def test_byte_spans_spark_roundtrip(spark, sf001_docs):
    """End-to-end over the sf0.001 docs: every pair reconstructs its
    payload hex exactly (driver_check re-verifies vs DuckDB)."""
    ids = [r[0] for r in sf001_docs.select("doc_id").limit(6).collect()]
    pairs = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(len(ids) - 1)], "id_a long, id_b long"
    )
    spans = BD.extract_byte_spans(BD.pair_payloads(pairs, sf001_docs, "doc_id"))
    chk = BD.byte_roundtrip_check(spans, sf001_docs, "doc_id").collect()
    assert chk and all(r["byte_identical"] for r in chk)


def test_byte_summary_accounts_every_chunk(spark, sf001_docs):
    """copied + inserted chunk counts must equal the target's chunk count
    (recomputed in-driver from the same payload hex)."""
    ids = [r[0] for r in sf001_docs.select("doc_id").limit(4).collect()]
    pairs = spark.createDataFrame(
        [(ids[0], i) for i in ids[1:]], "id_a long, id_b long"
    )
    pp = BD.pair_payloads(pairs, sf001_docs, "doc_id")
    spans = BD.extract_byte_spans(pp)
    summ = {
        r["id_b"]: r["copied_chunks"] + r["inserted_chunks"]
        for r in BD.byte_span_summary(spans).collect()
    }
    for r in pp.select("id_b", "hex_b").collect():
        assert summ[r["id_b"]] == len(BD.cdc_byte_chunks(r["hex_b"]))
