"""Multimodal plumbing: extraction invariant and binary metadata."""

from __future__ import annotations

from imdedup_plus_spark import multimodal as MM


def test_extract_text_invariant(spark, fixture_corpus):
    """BASELINE.json input_hint: byte-identical extracted text per url."""
    docs = fixture_corpus.drop("base_id", "variant")
    ext = MM.extract_text_df(docs)
    chk = ext.join(docs.select("url", "text"), "url")
    assert chk.where("extracted_text != text").count() == 0


def test_binary_metadata(spark, fixture_corpus):
    docs = fixture_corpus.drop("base_id", "variant")
    md = MM.binary_metadata(docs, "html", "url")
    rows = md.limit(5).collect()
    assert all(r.n_bytes > 0 for r in rows)
    # html starts with '<html'
    assert all(r.magic_hex == "3C68746D" for r in rows)


def test_html_to_text_messy_cases():
    """Real-parser invariants on messier planted html (no Spark needed)."""
    from imdedup_plus_spark.multimodal import html_to_text_py

    assert html_to_text_py(
        '<html><head><title>T</title><meta x="y"></head>'
        '<body><script>if (a < b) { alert("<hi>"); }</script>'
        "<style>p > a { color: red }</style>"
        "<!-- note: <div> inside comment -->"
        '<h1 class="big">Hello</h1>\n\n<p data-k="v">world &amp; &lt;friends&gt;</p>'
        "</body></html>"
    ) == 'Hello world & <friends>'
    # entity decode is single-pass: &amp;lt; -> literal &lt;
    assert html_to_text_py("<p>&amp;lt;</p>") == "&lt;"
    # unterminated tag / plain text passes through
    assert html_to_text_py("no markup at all") == "no markup at all"
    assert html_to_text_py("  a\t b\n\nc ") == "a b c"


def test_html_extract_roundtrip_query(spark, sf001_docs):
    from imdedup_plus_spark.multimodal import html_extract_roundtrip

    out = html_extract_roundtrip(sf001_docs, "doc_id")
    rows = out.collect()
    assert rows and all(r["roundtrip_ok"] for r in rows)
