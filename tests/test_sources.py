"""Directory source (binaryFile) + restore sink: the reference's outer
readdir/fwrite I/O loop re-expressed Spark-first (sources.py docstring
carries the main.c/idedup.c citations)."""

from __future__ import annotations

import os

import numpy as np
import pytest

from imdedup_plus_spark import sources as SRC


@pytest.fixture(scope="module")
def raw_dir(tmp_path_factory):
    """A mixed-media input directory: text, JPEG, PNG, WAV, junk, plus a
    nested subdir (the reference's two-level layout, idedup.c:94-100)."""
    from imdedup_plus_spark.jpeg import encode_jpeg

    root = tmp_path_factory.mktemp("rawcorpus")
    (root / "a.txt").write_text("the quick brown fox jumps over the lazy dog")
    (root / "b.txt").write_text("pack my box with five dozen liquor jugs")
    rng = np.random.default_rng(7)
    img = (rng.integers(0, 256, size=(16, 16))).astype(np.uint8)
    (root / "img.jpg").write_bytes(encode_jpeg(img))
    # classification reads only the container magic: the PNG signature
    # and a RIFF/WAVE header ahead of raw samples
    (root / "img.png").write_bytes(b"\x89PNG\r\n\x1a\n" + img.tobytes())
    (root / "tone.wav").write_bytes(
        b"RIFF\x24\x02\x00\x00WAVEfmt " + img.tobytes()
    )
    (root / "junk.bin").write_bytes(b"\x00\xfe\xff garbage not utf8 \xc3\x28")
    sub = root / "nested"
    sub.mkdir()
    (sub / "c.txt").write_text("nested doc body")
    return str(root)


def test_read_binary_dir_lists_all(spark, raw_dir):
    df = SRC.read_binary_dir(spark, raw_dir)
    rows = {os.path.basename(r["path"]): r for r in df.collect()}
    assert set(rows) == {
        "a.txt", "b.txt", "img.jpg", "img.png", "tone.wav", "junk.bin", "c.txt"
    }
    # length/content agree; content is the on-disk bytes
    a = rows["a.txt"]
    assert a["length"] == len(a["content"])
    assert bytes(a["content"]).decode() .startswith("the quick")


def test_glob_filters_at_listing(spark, raw_dir):
    names = {
        os.path.basename(r["path"])
        for r in SRC.read_binary_dir(spark, raw_dir, glob="*.txt").collect()
    }
    assert names == {"a.txt", "b.txt", "c.txt"}
    # non-recursive drops the nested subdir (reference's flat readdir mode)
    flat = {
        os.path.basename(r["path"])
        for r in SRC.read_binary_dir(
            spark, raw_dir, glob="*.txt", recursive=False
        ).collect()
    }
    assert flat == {"a.txt", "b.txt"}


def test_classify_and_ingest(spark, raw_dir):
    docs = SRC.ingest_documents(SRC.read_binary_dir(spark, raw_dir))
    by_name = {os.path.basename(r["source"]): r for r in docs.collect()}
    assert by_name["img.jpg"]["media_type"] == "jpeg"
    assert by_name["img.png"]["media_type"] == "png"
    assert by_name["tone.wav"]["media_type"] == "riff"
    assert by_name["junk.bin"]["media_type"] == "other"
    for t in ("a.txt", "b.txt", "c.txt"):
        assert by_name[t]["media_type"] == "text"
    # documents-table contract: text decoded for text only, n_chars matches
    a = by_name["a.txt"]
    assert a["text"].startswith("the quick") and a["n_chars"] == len(a["text"])
    assert by_name["img.jpg"]["text"] is None
    assert by_name["junk.bin"]["text"] is None and by_name["junk.bin"]["n_chars"] == 0
    # surrogate keys: deterministic (stable across reads) and distinct here
    ids = [r["doc_id"] for r in by_name.values()]
    assert len(set(ids)) == len(ids)
    again = {
        os.path.basename(r["source"]): r["doc_id"]
        for r in SRC.ingest_documents(SRC.read_binary_dir(spark, raw_dir)).collect()
    }
    assert again == {k: v["doc_id"] for k, v in by_name.items()}


def test_ingested_text_feeds_dedup_pipeline(spark, raw_dir):
    """Interop: the ingested table drops straight into stage 1."""
    from imdedup_plus_spark import signatures as S
    from imdedup_plus_spark.config import REFERENCE_CONFIG as CFG

    docs = SRC.ingest_documents(SRC.read_binary_dir(spark, raw_dir)).where(
        "media_type = 'text'"
    )
    sig = S.signature_kernel_arrow(docs, CFG, "doc_id")
    rows = sig.select("doc_id", "sig").collect()
    assert len(rows) == 3
    assert all(len(r["sig"]) == CFG.n_perm for r in rows)


def test_restore_roundtrip(spark, raw_dir, tmp_path):
    out = str(tmp_path / "restored")
    src = SRC.read_binary_dir(spark, raw_dir)
    # restore under the original relative names (nested/c.txt keeps its dir)
    named = src.selectExpr(
        f"substring(path, {len('file:') + len(raw_dir) + 2}) AS name", "content"
    )
    written = SRC.restore_to_directory(named, out)
    total = written.groupBy().sum("n_written").collect()[0][0]
    assert total == 7
    for rel in ("a.txt", "img.jpg", "nested/c.txt", "junk.bin"):
        orig = os.path.join(raw_dir, rel)
        with open(orig, "rb") as f1, open(os.path.join(out, rel), "rb") as f2:
            assert f1.read() == f2.read(), rel
    # idempotent re-run (at-least-once replay converges)
    assert SRC.restore_to_directory(named, out).groupBy().sum(
        "n_written"
    ).collect()[0][0] == 7


def test_restore_rejects_escape(spark, tmp_path):
    df = spark.createDataFrame([("../evil.txt", bytearray(b"x"))], "name string, content binary")
    with pytest.raises(Exception, match="escapes"):
        SRC.restore_to_directory(df, str(tmp_path / "o")).collect()
