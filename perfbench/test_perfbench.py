"""Tests of the benchmark's own code.

    python3 -m pytest perfbench -q -p no:cacheprovider

The generator and quality checks need no Spark; the fingerprint fold test
starts a one-core local session.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import corpus  # noqa: E402
from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.quality import dedup_ratio, fold64, recall_precision  # noqa: E402


# -- generator ------------------------------------------------------------------
def test_crawl_same_seed_same_corpus_hash(tmp_path):
    a = corpus.cached(str(tmp_path / "a"), "crawl", 7, 40)
    b = corpus.cached(str(tmp_path / "b"), "crawl", 7, 40)
    c = corpus.cached(str(tmp_path / "c"), "crawl", 8, 40)
    assert a[2] == b[2]
    assert a[1].to_json() == b[1].to_json()
    assert a[2] != c[2]


def test_dir_same_seed_same_corpus_hash(tmp_path):
    a = corpus.cached(str(tmp_path / "a"), "dir", 7, 20)
    b = corpus.cached(str(tmp_path / "b"), "dir", 7, 20)
    c = corpus.cached(str(tmp_path / "c"), "dir", 8, 20)
    assert a[2] == b[2] == corpus.tree_hash(a[0])
    assert a[2] != c[2]


@pytest.mark.parametrize("make", [corpus.crawl_rows, corpus.dir_files])
def test_planted_structure(make):
    n_base = 60
    _, truth = make(3, n_base)
    groups: dict[int, list[int]] = {}
    for name, g in truth.group.items():
        if g >= 0:
            groups.setdefault(g, []).append(truth.variant[name])
    assert len(groups) == n_base
    for variants in groups.values():
        assert sorted(variants) in ([0, 1, 2], [0, 1, 2, 3])
    n_exact = sum(len(v) == 4 for v in groups.values())
    assert 0 < n_exact < n_base
    singles = [n for n, g in truth.group.items() if g < 0]
    assert len(singles) >= n_base // 2
    props = truth.properties()
    assert props["docs"] == len(truth.group)
    assert props["near_dup_share"] == pytest.approx(2 * n_base / len(truth.group))
    assert props["exact_dup_share"] == pytest.approx(n_exact / len(truth.group))


def test_exact_copy_is_byte_identical_and_variants_differ():
    files, truth = corpus.dir_files(5, 30)
    by_group: dict[int, dict[int, bytes]] = {}
    for name, payload in files.items():
        if truth.group[name] >= 0:
            by_group.setdefault(truth.group[name], {})[truth.variant[name]] = payload
    for members in by_group.values():
        if 3 in members:
            assert members[3] == members[0]
        assert members[1] != members[0] and members[2] != members[0]


# -- recall / precision / ratio on a hand-checked corpus -----------------------------
def _tiny_truth() -> corpus.Truth:
    t = corpus.Truth()
    # group 0: a (original), b, c (near variants); group 1: d, e (exact); f alone
    for name, g, v, n in [("a", 0, 0, 10), ("b", 0, 1, 12), ("c", 0, 2, 12),
                          ("d", 1, 0, 20), ("e", 1, 3, 20), ("f", -1, 0, 5)]:
        t.add(name, g, v, n)
    return t


def test_recall_precision_perfect():
    assign = {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d", "f": "f"}
    assert recall_precision(assign, _tiny_truth()) == (1.0, 1.0)


def test_recall_precision_hand_counted():
    # planted pairs: ab ac bc de (4); predicted: ab, de df ef (4); hits: ab de
    assign = {"a": "a", "b": "a", "c": "c", "d": "d", "e": "d", "f": "d"}
    assert recall_precision(assign, _tiny_truth()) == (0.5, 0.5)


def test_recall_precision_all_singletons():
    assign = {n: n for n in "abcdef"}
    assert recall_precision(assign, _tiny_truth()) == (0.0, 1.0)


def test_recall_precision_rejects_missing_docs():
    with pytest.raises(ValueError):
        recall_precision({"a": "a"}, _tiny_truth())


def test_dedup_ratio_hand_counted():
    assign = {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d", "f": "f"}
    # raw 79 tokens; stored a + d + f = 35, plus 6 inserted
    assert dedup_ratio(assign, _tiny_truth(), 6) == pytest.approx(79 / 41)


# -- fingerprint ------------------------------------------------------------------
def test_fold64_is_order_free_and_wraps():
    hs = [-1, 5, 2**62, -(2**63)]
    assert fold64(hs) == fold64(reversed(hs))
    assert fold64([-1, 1]) == 0
    assert fold64([2**63, 2**63]) == 0


@pytest.fixture(scope="module")
def spark():
    from imdedup_plus_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", master="local[1]", shuffle_partitions=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_fingerprint_fold_of_pairs(spark):
    from perfbench.quality import xxhash_fold

    pairs = [("a", "b"), ("a", "c"), ("d", "e")]
    df = spark.createDataFrame(pairs, "id_a string, id_b string")
    same = spark.createDataFrame(list(reversed(pairs)), "id_a string, id_b string")
    changed = spark.createDataFrame(pairs[:2] + [("d", "f")], "id_a string, id_b string")
    fp = xxhash_fold(df, "id_a", "id_b")
    assert fp == xxhash_fold(same.repartition(3), "id_a", "id_b")
    assert fp != xxhash_fold(changed, "id_a", "id_b")
    assert fp != xxhash_fold(df.limit(2), "id_a", "id_b")
    # the fold is the wrapped sum of the per-row hashes Spark computes
    from pyspark.sql import functions as F

    rows = df.select(F.xxhash64("id_a", "id_b")).collect()
    assert fp == sum(r[0] for r in rows) % 2**64


# -- the benchmark definition --------------------------------------------------------
def test_benchmark_json_matches_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == PER_LAYER
    from perfbench.run import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
