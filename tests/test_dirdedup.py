"""End-to-end directory compress/restore (reference -c/-d contract):
byte-exact restore of arbitrary file bytes — newlines, punctuation,
binary payloads — via exact refs, byte-delta refs, and stored files."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from imdedup_plus_spark import dirdedup as DD


@pytest.fixture(scope="module")
def corpus_dir(tmp_path_factory):
    """Arbitrary-byte corpus: near-dup text WITH newlines/punctuation
    (token-joining would NOT be byte-exact), exact dups, binaries."""
    root = tmp_path_factory.mktemp("dircorpus")
    base = (
        "Chapter one.\n\nIt was a dark and stormy night; the rain fell\n"
        "in torrents -- except at occasional intervals, when it was\n"
        "checked by a violent gust of wind which swept up the streets.\n"
    ) * 6
    (root / "doc_base.txt").write_text(base)
    # near-dup: small edit in the middle (byte-delta target)
    (root / "doc_edit.txt").write_text(
        base[:200] + "INSERTED PARAGRAPH, quite new.\n" + base[200:]
    )
    # another near-dup with a different tail
    (root / "doc_tail.txt").write_text(base[:-80] + "A wholly new ending!\n")
    # exact duplicate of the base
    (root / "doc_copy.txt").write_text(base)
    # exact duplicate of a BINARY payload
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(12, 12)).astype(np.uint8)
    png = b"\x89PNG\r\n\x1a\n" + img.tobytes()
    (root / "img1.png").write_bytes(png)
    (root / "img2.png").write_bytes(png)
    # unique text + unique binary + nested file
    (root / "unique.txt").write_text("Nothing like the others at all.\n" * 20)
    (root / "noise.bin").write_bytes(bytes(rng.integers(0, 256, size=500)))
    sub = root / "nested"
    sub.mkdir()
    (sub / "inner.txt").write_text(base[:400] + "\nnested variant tail\n")
    return str(root)


@pytest.fixture(scope="module")
def store(spark, corpus_dir, tmp_path_factory):
    work = str(tmp_path_factory.mktemp("work") / "store")
    metrics = DD.compress(spark, corpus_dir, work)
    return {"work": work, "metrics": metrics}


def test_metrics_and_roles(store):
    m = store["metrics"]
    assert m["n_files"] == 9
    # doc_copy + img2 are exact refs; doc_edit/doc_tail (and possibly
    # nested/inner) are delta refs
    assert m["n_exact_refs"] == 2
    assert m["n_delta_refs"] >= 2
    assert m["raw_bytes"] > 0
    assert os.path.exists(os.path.join(store["work"], "_METRICS.json"))
    assert json.load(open(os.path.join(store["work"], "_METRICS.json"))) == m


def test_restore_byte_identical(spark, corpus_dir, store, tmp_path):
    out = str(tmp_path / "restored")
    n = DD.restore(spark, store["work"], out)
    listing = sorted(
        os.path.relpath(os.path.join(dp, f), out)
        for dp, _dn, fn in os.walk(out)
        for f in fn
    )
    expected = {
        "doc_base.txt", "doc_edit.txt", "doc_tail.txt", "doc_copy.txt",
        "img1.png", "img2.png", "unique.txt", "noise.bin", "nested/inner.txt",
    }
    assert n == 9, f"missing={expected - set(listing)}"
    chk = DD.check(spark, corpus_dir, out)
    rows = {r["rel"]: r["byte_identical"] for r in chk.collect()}
    assert len(rows) == 9 and all(rows.values()), rows
    # paranoid direct comparison outside Spark
    for rel in ("doc_edit.txt", "nested/inner.txt", "img2.png", "noise.bin"):
        with open(os.path.join(corpus_dir, rel), "rb") as f1, open(
            os.path.join(out, rel), "rb"
        ) as f2:
            assert f1.read() == f2.read(), rel


def test_exact_ref_to_delta_keeper(spark, tmp_path):
    """Adversarial topology (hash-order dependent in the wild, hand-built
    here): an exact member whose keeper itself became a delta target —
    restore must resolve the exact ref against reconstructed bytes, not
    uniques alone."""
    import json as _json

    from imdedup_plus_spark.container import SIDP_SCHEMA, SpanContainerDataSource

    try:
        spark.dataSource.register(SpanContainerDataSource)
    except Exception:
        pass
    work = str(tmp_path / "store")
    base = b"the quick brown fox jumps over the lazy dog" * 4
    target = base[:50] + b"EDITED" + base[50:]
    spark.createDataFrame(
        [(1, bytearray(base))], "doc_id long, content binary"
    ).write.parquet(f"{work}/uniques.parquet")
    spark.createDataFrame(
        [
            (1, "base.txt", "text", len(base), "stored", None),
            (2, "edit.txt", "text", len(target), "delta_ref", 1),
            (3, "copy_of_edit.txt", "text", len(target), "exact_ref", 2),
        ],
        "doc_id long, rel string, media_type string, n_bytes long, "
        "role string, ref_id long",
    ).write.parquet(f"{work}/names.parquet")
    # one full-INSERT instruction reconstructs doc 2 from nothing
    spark.createDataFrame(
        [(1, 2, 0, "INSERT", -1, 0, len(target), target.hex())], SIDP_SCHEMA
    ).write.format("sidp").mode("overwrite").save(f"{work}/spans")
    with open(f"{work}/_METRICS.json", "w") as fh:
        _json.dump({"n_files": 3}, fh)

    out = str(tmp_path / "restored")
    assert DD.restore(spark, work, out) == 3
    for rel, expect in (
        ("base.txt", base), ("edit.txt", target), ("copy_of_edit.txt", target)
    ):
        with open(os.path.join(out, rel), "rb") as fh:
            assert fh.read() == expect, rel


def test_restore_refuses_uncommitted(spark, tmp_path):
    with pytest.raises(ValueError, match="_METRICS"):
        DD.restore(spark, str(tmp_path / "nope"), str(tmp_path / "out"))


def test_delta_actually_deduplicates(spark, store):
    """The delta containers must be smaller than the target payloads
    they replace (the OMIT_LOW_DELTA economics, not just correctness)."""
    names = spark.read.parquet(f"{store['work']}/names.parquet")
    delta_bytes = (
        names.where("role = 'delta_ref'").agg({"n_bytes": "sum"}).collect()[0][0]
    )
    spans_on_disk = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _dn, fn in os.walk(f"{store['work']}/spans")
        for f in fn
    )
    assert spans_on_disk < delta_bytes


def test_roles_independent_of_mount_point(spark, corpus_dir, tmp_path):
    """Ids hash the relative path, so the same tree compressed from two
    roots of different depth picks the same keepers and delta bases:
    identical ``(rel, role, ref rel)`` rows."""
    import shutil

    from pyspark.sql import functions as F

    moved = tmp_path / "deeper" / "mount" / "point"
    shutil.copytree(corpus_dir, moved)

    def linked(root: str, work: str):
        DD.compress(spark, root, work)
        names = spark.read.parquet(f"{work}/names.parquet")
        refs = names.select(
            F.col("doc_id").alias("ref_id"), F.col("rel").alias("ref_rel")
        )
        return sorted(
            (r["rel"], r["role"], r["ref_rel"])
            for r in names.join(refs, "ref_id", "left").collect()
        )

    a = linked(corpus_dir, str(tmp_path / "store_a"))
    b = linked(str(moved), str(tmp_path / "store_b"))
    assert a == b
    assert {role for _rel, role, _ref in a} == {
        DD.ROLE_STORED, DD.ROLE_EXACT, DD.ROLE_DELTA
    }
