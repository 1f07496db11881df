"""Deterministic training-order shuffle: permutation laws, balance,
epoch re-keying, partitioning invariance.

ordering.shuffle_shards assigns every doc a reproducible pseudorandom
(shard, pos) — the fixed-seed global shuffle of a training pipeline.
The DuckDB side (ordering.shuffle_shards_sql) is exercised by
scripts/driver_check.py / the driver's CORRECTNESS gate via the
train_shuffle_shards query.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from imdedup_plus_spark import ordering as ORD
from imdedup_plus_spark.config import PERM_P


@pytest.fixture(scope="module")
def iddocs(spark):
    # deliberately non-contiguous, non-sorted ids (gaps + odd order)
    return spark.range(0, 4000).select(
        (F.col("id") * 7 % 5003).alias("doc_id")
    ).distinct().cache()


def test_permutation_is_injective_and_positions_dense(iddocs):
    n = iddocs.count()
    out = ORD.shuffle_shards(iddocs, "doc_id").cache()
    assert out.count() == n
    assert out.select("perm_h").distinct().count() == n
    assert out.select("shard", "pos").distinct().count() == n
    # positions are dense 0..size-1 within every shard
    per = out.groupBy("shard").agg(
        F.count(F.lit(1)).alias("sz"),
        F.min("pos").alias("lo"),
        F.max("pos").alias("hi"),
    )
    bad = per.where(
        (F.col("lo") != 0) | (F.col("hi") != F.col("sz") - 1)
    ).count()
    assert bad == 0


def test_shards_balanced(iddocs):
    n = iddocs.count()
    sizes = [
        r.sz
        for r in ORD.shuffle_shards(iddocs, "doc_id")
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("sz"))
        .collect()
    ]
    assert len(sizes) == ORD.ORD_N_SHARDS
    mean = n / ORD.ORD_N_SHARDS
    # affine map mod a prime equidistributes residues: 4x sqrt envelope
    assert max(sizes) - min(sizes) <= 8 * mean**0.5


def test_epoch_rekey_changes_order_not_membership(iddocs):
    a = ORD.shuffle_shards(iddocs, "doc_id", epoch=0)
    b = ORD.shuffle_shards(iddocs, "doc_id", epoch=1)
    # same documents...
    assert a.select("doc_id").subtract(b.select("doc_id")).count() == 0
    # ...different assignment for the overwhelming majority
    same = a.join(b, ["doc_id", "shard", "pos"]).count()
    assert same < 0.05 * a.count()


def test_partitioning_invariance(iddocs):
    a = sorted(
        tuple(r) for r in ORD.shuffle_shards(iddocs, "doc_id").collect()
    )
    b = sorted(
        tuple(r)
        for r in ORD.shuffle_shards(iddocs.repartition(7), "doc_id").collect()
    )
    assert a == b


def test_affine_injectivity_property():
    """Pure-numpy law: the permutation key is injective on any id set
    below PERM_P (affine map mod a prime, a != 0)."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(st.lists(st.integers(0, PERM_P - 1), max_size=500, unique=True))
    def law(ids):
        arr = np.asarray(ids, dtype=np.int64)
        h = (ORD.ORD_A * arr + ORD.ORD_B) % PERM_P
        assert np.unique(h).size == arr.size

    law()


def test_id_domain_guard_out_of_range(spark):
    """ADVICE r04: ids >= PERM_P (64-bit surrogate hashes) must raise
    loudly, not wrap a_e*id under non-ANSI int64 arithmetic."""
    from pyspark.errors import PySparkException

    bad = spark.createDataFrame([(0,), (PERM_P,)], "doc_id long")
    with pytest.raises(PySparkException, match="out of domain"):
        ORD.shuffle_shards(bad, "doc_id").collect()
    neg = spark.createDataFrame([(5,), (-1,)], "doc_id long")
    with pytest.raises(PySparkException, match="out of domain"):
        ORD.shuffle_shards(neg, "doc_id").collect()


def test_id_domain_guard_null(spark):
    from pyspark.errors import PySparkException

    nul = spark.createDataFrame([(3,), (None,)], "doc_id long")
    with pytest.raises(PySparkException, match="out of domain"):
        ORD.shuffle_shards(nul, "doc_id").collect()


def test_duplicate_id_guard(spark):
    """Duplicate ids make the (perm_h, id) tiebreak partition-order-
    dependent, silently voiding byte-identical shards — must raise."""
    from pyspark.errors import PySparkException

    dup = spark.createDataFrame([(7,), (7,), (9,)], "doc_id long")
    with pytest.raises(PySparkException, match="duplicate id"):
        ORD.shuffle_shards(dup, "doc_id").collect()


def test_guards_pass_on_valid_boundary_ids(spark):
    """Domain edges 0 and PERM_P-1 are valid; output unchanged shape."""
    ok = spark.createDataFrame([(0,), (PERM_P - 1,), (123,)], "doc_id long")
    rows = ORD.shuffle_shards(ok, "doc_id").collect()
    assert len(rows) == 3
    assert {r.doc_id for r in rows} == {0, PERM_P - 1, 123}
    assert all(0 <= r.perm_h < PERM_P for r in rows)


@pytest.mark.parametrize(
    "ids, match",
    [([5, -2], "out of domain"), ([7, 7, 9], "duplicate id")],
)
def test_sql_twin_mirrors_the_guards(ids, match):
    """The DuckDB twin raises where ``shuffle_shards`` does, instead of
    computing a negative perm_h or a partition-order-dependent pos."""
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT)")
    con.executemany("INSERT INTO documents VALUES (?)", [[i] for i in ids])
    with pytest.raises(duckdb.InvalidInputException, match=match):
        con.execute(ORD.shuffle_shards_sql("doc_id")).fetchall()
    con.execute("DELETE FROM documents")
    con.execute(f"INSERT INTO documents VALUES (0), ({PERM_P - 1}), (123)")
    rows = con.execute(ORD.shuffle_shards_sql("doc_id")).fetchall()
    assert sorted(r[0] for r in rows) == [0, 123, PERM_P - 1]
