"""Span kernel: hand-constructed pairs with known expected spans
(FIXTURES.md table 4 — the spans_expected contract)."""

from __future__ import annotations

from imdedup_plus_spark import spans as SP


def test_identical_sequences_single_copy():
    A = "a b c d e f g".split()
    out = SP.greedy_spans(A, A)
    assert out == [("COPY", 0, 0, 7, None)]


def test_insertion_in_middle():
    A = "w1 w2 w3 w4 w5 w6".split()
    B = "w1 w2 w3 X Y w4 w5 w6".split()
    out = SP.greedy_spans(A, B)
    assert out == [
        ("COPY", 0, 0, 3, None),
        ("INSERT", -1, 3, 2, "X Y"),
        ("COPY", 3, 5, 3, None),
    ]


def test_no_overlap_all_insert():
    A = "a b c".split()
    B = "x y z q".split()
    out = SP.greedy_spans(A, B)
    assert out == [("INSERT", -1, 0, 4, "x y z q")]


def test_min_copy_len_suppresses_noise():
    A = "a b c d e".split()
    B = "a x c y e".split()  # only single-token matches -> below MIN_COPY_LEN
    out = SP.greedy_spans(A, B)
    assert all(k == "INSERT" for k, *_ in out)


def test_tie_break_smallest_a_off():
    A = "p q r s p q r t".split()  # 'p q r' appears at 0 and 4
    B = "p q r z".split()
    out = SP.greedy_spans(A, B)
    assert out[0] == ("COPY", 0, 0, 3, None)


def test_prefix_suffix_and_replacement():
    A = "h1 h2 b1 b2 b3 b4 b5 f1 f2".split()
    B = "h1 h2 NEW1 NEW2 NEW3 b3 b4 b5 f1 f2".split()
    out = SP.greedy_spans(A, B)
    kinds = [k for k, *_ in out]
    assert kinds == ["INSERT", "COPY"] or kinds == ["COPY", "INSERT", "COPY"]
    copied = sum(l for k, _, _, l, _ in out if k == "COPY")
    assert copied >= 5


def test_reconstruction_invariant_pure():
    A = ("tok" + " tok".join(str(i) for i in range(40))).split()
    B = A[:10] + ["ins1", "ins2"] + A[10:30] + ["zz"] + A[30:]
    out = SP.greedy_spans(A, B)
    rebuilt = []
    for kind, a_off, b_off, length, payload in out:
        if kind == "COPY":
            rebuilt.extend(A[a_off : a_off + length])
        else:
            rebuilt.extend(payload.split())
    assert rebuilt == B


def test_extract_spans_dataframe(spark):
    pairs = spark.createDataFrame(
        [(1, 2, "w1 w2 w3 w4 w5 w6", "w1 w2 w3 X Y w4 w5 w6")],
        "id_a long, id_b long, text_a string, text_b string",
    )
    rows = sorted(
        SP.extract_spans(pairs).collect(), key=lambda r: r.instr_id
    )
    assert [r.kind for r in rows] == ["COPY", "INSERT", "COPY"]
    assert rows[1].payload == "X Y"


def test_omit_low_delta_pass_through(spark):
    pairs = spark.createDataFrame(
        [(1, 2, "a b c", " ".join(f"z{i}" for i in range(50)))],
        "id_a long, id_b long, text_a string, text_b string",
    )
    rows = SP.extract_spans(pairs).collect()
    assert len(rows) == 1 and rows[0].kind == "INSERT" and rows[0].length == 50
