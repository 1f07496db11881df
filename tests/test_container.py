"""`.sidp` span-container DataSource: exact-row roundtrip, append/
overwrite manifest semantics, orphan-shard invisibility, corruption
detection (reference record layout: idedup.c:455-516)."""

from __future__ import annotations

import json
import os

import pytest

from imdedup_plus_spark import container as CT
from imdedup_plus_spark.container import SpanContainerDataSource


@pytest.fixture(scope="module")
def registered(spark):
    spark.dataSource.register(SpanContainerDataSource)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    return spark


def _spans_df(spark):
    """Real pipeline spans on the fixture corpus (long surrogate ids)."""
    from pyspark.sql import functions as F

    from imdedup_plus_spark import candidates as C
    from imdedup_plus_spark import fixtures as FX
    from imdedup_plus_spark import signatures as S
    from imdedup_plus_spark import spans as SP
    from imdedup_plus_spark.config import REFERENCE_CONFIG as CFG

    docs = (
        FX.generate_documents(spark, n_base=32)
        .withColumn("doc_id", F.xxhash64("url"))
    )
    sig = S.signature_kernel_arrow(docs, CFG, "doc_id")
    pairs = C.candidate_pairs(S.explode_bands(sig, CFG, "doc_id"), CFG, "doc_id")
    best = C.best_base(C.verify_pairs_kernel(pairs, sig, CFG, "doc_id"))
    return SP.extract_spans(SP.pair_texts_from_best_base(best, docs, "doc_id"))


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_roundtrip_exact_rows(registered, tmp_path):
    spark = registered
    spans = _spans_df(spark).cache()
    n = spans.count()
    assert n > 0
    out = str(tmp_path / "store")
    spans.write.format("sidp").mode("overwrite").save(out)
    back = spark.read.format("sidp").load(out)
    assert back.schema.simpleString() == spans.schema.simpleString()
    assert _sorted_rows(back) == _sorted_rows(spans)
    man = json.load(open(os.path.join(out, CT.MANIFEST)))
    assert man["n_records"] > 0 and man["shards"]
    spans.unpersist()


def test_append_and_overwrite(registered, tmp_path):
    spark = registered
    rows = [
        (1, 2, 0, "COPY", 0, 0, 5, None),
        (1, 2, 1, "INSERT", 0, 5, 3, "abc"),
        (3, 4, 0, "INSERT", 0, 0, 7, "payload"),
    ]
    df = spark.createDataFrame(rows, CT.SIDP_SCHEMA)
    out = str(tmp_path / "store")
    df.write.format("sidp").mode("overwrite").save(out)
    df.write.format("sidp").mode("append").save(out)
    back = spark.read.format("sidp").load(out)
    assert _sorted_rows(back) == sorted([tuple(r) for r in rows] * 2)
    # overwrite replaces the manifest: back to one copy — and the
    # superseded shard files are unlinked (no table-copy disk leak)
    df.write.format("sidp").mode("overwrite").save(out)
    assert _sorted_rows(spark.read.format("sidp").load(out)) == sorted(
        tuple(r) for r in rows
    )
    man = json.load(open(os.path.join(out, CT.MANIFEST)))
    files = {f for f in os.listdir(out) if f.endswith(".sidp")}
    assert files == {s["name"] for s in man["shards"]}


def test_orphan_shard_invisible(registered, tmp_path):
    """A shard file not listed in the manifest (dead attempt) is never
    read — the write-after-data manifest discipline."""
    spark = registered
    df = spark.createDataFrame(
        [(1, 2, 0, "COPY", 0, 0, 5, None)], CT.SIDP_SCHEMA
    )
    out = str(tmp_path / "store")
    df.write.format("sidp").mode("overwrite").save(out)
    orphan = CT.MAGIC + bytes([CT.VERSION]) + CT._pack_record(
        9, 9, [(0, "INSERT", 0, 0, 1, "x")]
    )
    with open(os.path.join(out, "part-orphan.sidp"), "wb") as fh:
        fh.write(orphan)
    assert spark.read.format("sidp").load(out).count() == 1


def test_empty_write_and_read(registered, tmp_path):
    spark = registered
    out = str(tmp_path / "empty")
    spark.createDataFrame([], CT.SIDP_SCHEMA).write.format("sidp").mode(
        "overwrite"
    ).save(out)
    back = spark.read.format("sidp").load(out)
    assert back.count() == 0
    assert back.schema.simpleString() != ""


def test_corrupt_shard_fails_loudly(registered, tmp_path):
    spark = registered
    df = spark.createDataFrame(
        [(1, 2, 0, "COPY", 0, 0, 5, None)], CT.SIDP_SCHEMA
    )
    out = str(tmp_path / "store")
    df.write.format("sidp").mode("overwrite").save(out)
    shard = json.load(open(os.path.join(out, CT.MANIFEST)))["shards"][0]["name"]
    p = os.path.join(out, shard)
    data = open(p, "rb").read()
    with open(p, "wb") as fh:
        fh.write(data[: len(data) - 4])  # truncate mid-record
    with pytest.raises(Exception, match="truncated|SIDP|length"):
        spark.read.format("sidp").load(out).count()


def test_shard_pruning_with_stats(registered, tmp_path):
    """Manifest min/max stats prune shards at planning time; results are
    unchanged (Spark re-applies every filter row-level)."""
    from pyspark.sql.datasource import EqualTo, GreaterThan

    spark = registered
    rows = [(i, i + 1000, 0, "COPY", 0, 0, 5, None) for i in range(100)]
    df = spark.createDataFrame(rows, CT.SIDP_SCHEMA)
    out = str(tmp_path / "store")
    # range-partition by id_a -> disjoint per-shard id intervals
    df.repartitionByRange(5, "id_a").write.format("sidp").mode(
        "overwrite"
    ).save(out)
    man = json.load(open(os.path.join(out, CT.MANIFEST)))
    assert len(man["shards"]) == 5
    assert all(s["stats"]["id_a"] for s in man["shards"])

    # reader-level: an equality predicate survives exactly one shard
    r = CT._SidpReader({"path": out})
    r.pushFilters([EqualTo(("id_a",), 42)])
    parts = r.partitions()
    assert len(parts) == 1
    got = list(r.read(parts[0]))
    assert (42, 1042, 0, "COPY", 0, 0, 5, None) in got
    # range predicate prunes proportionally
    r2 = CT._SidpReader({"path": out})
    r2.pushFilters([GreaterThan(("id_a",), 79)])
    assert len(r2.partitions()) == 1
    # unsatisfiable predicate -> sentinel empty partition
    r3 = CT._SidpReader({"path": out})
    r3.pushFilters([EqualTo(("id_a",), 10_000)])
    parts3 = r3.partitions()
    assert len(parts3) == 1 and parts3[0].shard == ""

    # end-to-end through Spark: values exact under pushdown
    assert spark.read.format("sidp").load(out).where("id_a = 42").collect()[0][
        "id_b"
    ] == 1042
    assert spark.read.format("sidp").load(out).where("id_a > 79").count() == 20


def test_compaction(registered, tmp_path):
    """Many appended shards -> n compacted ones; rows identical, old
    shards gone, manifest swapped atomically."""
    spark = registered
    out = str(tmp_path / "store")
    for k in range(6):
        spark.createDataFrame(
            [(k * 10 + i, 1, 0, "COPY", 0, 0, 5, None) for i in range(10)],
            CT.SIDP_SCHEMA,
        ).coalesce(1).write.format("sidp").mode(
            "overwrite" if k == 0 else "append"
        ).save(out)
    before = _sorted_rows(spark.read.format("sidp").load(out))
    assert len(json.load(open(os.path.join(out, CT.MANIFEST)))["shards"]) == 6
    CT.compact(spark, out, 2)
    man = json.load(open(os.path.join(out, CT.MANIFEST)))
    assert len(man["shards"]) == 2
    assert _sorted_rows(spark.read.format("sidp").load(out)) == before
    # old shard files unlinked; only manifest-listed shards remain
    files = {f for f in os.listdir(out) if f.endswith(".sidp")}
    assert files == {s["name"] for s in man["shards"]}
    # range partitioning -> disjoint id_a stats across compacted shards
    spans = sorted(tuple(s["stats"]["id_a"]) for s in man["shards"])
    assert spans[0][1] < spans[1][0]


def test_compaction_recovers_from_dead_attempt(registered, tmp_path):
    """A compact() that died mid-flight leaves a stale side store and/or
    unlisted orphan shards; the committed view stays intact and a retry
    cleans up and succeeds."""
    import shutil

    spark = registered
    out = str(tmp_path / "store")
    for k in range(3):
        spark.createDataFrame(
            [(k * 10 + i, 1, 0, "COPY", 0, 0, 5, None) for i in range(10)],
            CT.SIDP_SCHEMA,
        ).coalesce(1).write.format("sidp").mode(
            "overwrite" if k == 0 else "append"
        ).save(out)
    before = _sorted_rows(spark.read.format("sidp").load(out))

    # simulate a crash AFTER the side store was written but BEFORE the
    # manifest swap: stale .compact_tmp + one orphan already moved over
    side = os.path.join(out, ".compact_tmp")
    os.makedirs(side)
    with open(os.path.join(side, CT.MANIFEST), "w") as fh:
        json.dump({"shards": [], "n_records": 0, "version": CT.VERSION}, fh)
    orphan = CT.MAGIC + bytes([CT.VERSION]) + CT._pack_record(
        999, 999, [(0, "COPY", 0, 0, 1, None)]
    )
    with open(os.path.join(out, "part-dead-attempt.sidp"), "wb") as fh:
        fh.write(orphan)

    # committed view unaffected by the debris
    assert _sorted_rows(spark.read.format("sidp").load(out)) == before
    # retry compacts cleanly: debris swept, rows identical
    CT.compact(spark, out, 2)
    man = json.load(open(os.path.join(out, CT.MANIFEST)))
    assert len(man["shards"]) == 2
    assert _sorted_rows(spark.read.format("sidp").load(out)) == before
    files = {f for f in os.listdir(out) if f.endswith(".sidp")}
    assert files == {s["name"] for s in man["shards"]}
    assert not os.path.exists(side)
    shutil.rmtree(out)


def test_record_codec_property():
    """Property: pack -> stream-iterate roundtrips any instruction list
    (no Spark; pure codec)."""
    from hypothesis import given, settings, strategies as st

    instr = st.tuples(
        st.integers(0, 2**31 - 1),              # instr_id
        st.sampled_from(["COPY", "INSERT"]),
        st.integers(-(2**31), 2**31 - 1),       # a_off
        st.integers(-(2**31), 2**31 - 1),       # b_off
        st.integers(-(2**31), 2**31 - 1),       # length
        st.one_of(st.none(), st.text(max_size=80)),
    )

    @settings(max_examples=60, deadline=None)
    @given(
        st.integers(-(2**63), 2**63 - 1),
        st.integers(-(2**63), 2**63 - 1),
        st.lists(instr, min_size=1, max_size=20),
    )
    def roundtrip(id_a, id_b, instrs):
        # the null-payload kind bit makes the codec exact for EVERY row
        # the schema admits: None vs "" survive distinctly, and a payload
        # on a COPY (legal per schema, unused by the kernels) survives too
        blob = CT.MAGIC + bytes([CT.VERSION]) + CT._pack_record(
            id_a, id_b, instrs
        )
        out = list(CT._iter_records(blob, "prop"))
        assert out == [(id_a, id_b, instrs)]

    roundtrip()


def test_restore_from_container(registered, tmp_path):
    """Container -> spans -> reconstruct: the restore path reads the
    custom format and replays COPY/INSERT byte-exactly."""
    from pyspark.sql import functions as F

    from imdedup_plus_spark import fixtures as FX
    from imdedup_plus_spark import spans as SP

    spark = registered
    spans = _spans_df(spark).cache()
    out = str(tmp_path / "store")
    spans.write.format("sidp").mode("overwrite").save(out)
    docs = (
        FX.generate_documents(spark, n_base=32)
        .withColumn("doc_id", F.xxhash64("url"))
    )
    stored = spark.read.format("sidp").load(out)
    rec = SP.reconstruct_targets(stored, docs, "doc_id")
    chk = rec.join(
        docs.selectExpr("doc_id AS id_b", "text AS orig"), "id_b"
    ).selectExpr("reconstructed_text = orig AS ok")
    vals = [r["ok"] for r in chk.collect()]
    assert vals and all(vals)
    spans.unpersist()
