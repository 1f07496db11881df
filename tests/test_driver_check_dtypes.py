"""Regression: the local mirror must be dtype-exact (round-4 lesson).

Round 4 shipped two official hash-FAILs (`train_pack_chunks`,
`text_lm_quality`) that the mirror could not see: DuckDB types a windowed
SUM(BIGINT) and `//` of a HUGEINT product as HUGEINT, which pandas
fetches as float64 — `7906.0` vs Spark's int64 `7906`. Values compare
equal under `==`, representations do not, and the driver hashes the
representation. These tests pin the two defenses added in round 5:

1. ``audit_oracle_types`` DESCRIBE-audits every oracle and fails loudly
   on any HUGEINT column (and on DOUBLE where Spark says integral).
2. ``rowset`` tags every canonical cell with its Python type, so an
   int-vs-float divergence FAILS the compare even when values are equal.

Run without Spark — DuckDB + pandas only.
"""

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scripts.driver_check import audit_oracle_types, cell, rowset


class _Field:
    def __init__(self, name, simple):
        self.name = name
        self._s = simple

    @property
    def dataType(self):
        f = self

        class _T:
            def simpleString(self):
                return f._s

        return _T()


def _schema(**cols):
    return [_Field(k, v) for k, v in cols.items()]


def test_audit_flags_hugeint_windowed_sum():
    """The exact r4 failure shape: SUM(BIGINT) OVER () is HUGEINT."""
    con = duckdb.connect()
    sql = (
        "SELECT x, sum(x) OVER (ORDER BY x) - x AS stream_offset "
        "FROM (VALUES (1::BIGINT), (2::BIGINT)) t(x)"
    )
    probs = audit_oracle_types(
        con, sql, _schema(x="bigint", stream_offset="bigint")
    )
    assert probs and probs[0][0] == "stream_offset"
    assert "HUGEINT" in probs[0][1].upper()


def test_audit_flags_intdiv_of_product():
    """The text_lm_quality shape: // of a HUGEINT product is HUGEINT."""
    con = duckdb.connect()
    sql = (
        "SELECT (1000 * (x * x)) // x AS lm_bits_milli "
        "FROM (VALUES (7::HUGEINT)) t(x)"
    )
    probs = audit_oracle_types(con, sql, _schema(lm_bits_milli="bigint"))
    assert probs and "HUGEINT" in probs[0][1].upper()


def test_audit_clean_after_cast():
    """CAST(... AS BIGINT) — the round-5 fix — silences the audit."""
    con = duckdb.connect()
    sql = (
        "SELECT CAST(sum(x) OVER (ORDER BY x) - x AS BIGINT) AS o "
        "FROM (VALUES (1::BIGINT)) t(x)"
    )
    assert audit_oracle_types(con, sql, _schema(o="bigint")) == []


def test_audit_flags_double_vs_spark_integral():
    con = duckdb.connect()
    sql = "SELECT 1.5::DOUBLE AS n"
    assert audit_oracle_types(con, sql, _schema(n="bigint"))
    # but DOUBLE vs a Spark double column is fine
    assert audit_oracle_types(con, sql, _schema(n="double")) == []


def test_rowset_distinguishes_int_from_equal_float():
    """7906 == 7906.0 but the driver's hash differs; so must the mirror."""
    a = rowset(["v"], [(7906,)])
    b = rowset(["v"], [(7906.0,)])
    assert a != b


def test_rowset_numpy_scalars_normalize_to_python_types():
    """fetchdf yields numpy scalars; int64 must compare equal to int."""
    import numpy as np

    assert rowset(["v"], [(np.int64(7),)]) == rowset(["v"], [(7,)])
    assert rowset(["v"], [(np.float64(1.5),)]) == rowset(["v"], [(1.5,)])
    # and the cross-type case still fails
    assert rowset(["v"], [(np.float64(7.0),)]) != rowset(["v"], [(7,)])


def test_cell_nan_canonical():
    import math

    assert cell(float("nan")) == ("str", "nan")
    assert cell(1.0000000001) == cell(1.0000000004)  # round-9 both sides
    assert not math.isnan(1)  # sanity


def test_no_hugeint_in_any_registered_oracle():
    """Sweep the real contract: every oracle DESCRIBEs clean. This is the
    'class is extinct' check the judge asked for — any future oracle with
    a windowed SUM or // over products fails here before it ships."""
    import __spark_entry__ as E

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'/root/testdata/sf0.01/{t}.parquet'"
        )
    bad = {}
    for name, sql in E.oracle_sql().items():
        for colname, ducktype, *_ in con.execute("DESCRIBE " + sql).fetchall():
            if "HUGEINT" in ducktype.upper():
                bad[name] = (colname, ducktype)
    assert bad == {}, f"HUGEINT oracle columns (driver hash will FAIL): {bad}"


def test_rowset_equates_date_and_midnight_timestamp():
    """The official gate equates Spark DATE with DuckDB date_trunc's
    midnight TIMESTAMP (a monthly date_trunc rollup was hash-green in
    r1/r3 with that shape) — the mirror must not be stricter than the
    gate."""
    import datetime as dt

    import pandas as pd

    a = rowset(["m"], [(dt.date(1995, 1, 1),)])
    b = rowset(["m"], [(pd.Timestamp("1995-01-01 00:00:00"),)])
    assert a == b
    # but a non-midnight timestamp differs from the date
    c = rowset(["m"], [(pd.Timestamp("1995-01-01 12:00:00"),)])
    assert a != c


#: the driver checks only the first 50 entries of queries(), in order;
#: this is the window as it stands, copied literally so that a deletion
#: or insertion that shifts a checked query out of it fails here
_WINDOW = [
    "doc_filter_valid", "dedup_minhash_signatures", "dedup_candidate_pairs",
    "dedup_verified_pairs", "dedup_containment_pairs", "dedup_best_base",
    "dedup_unique_docs", "dedup_clusters", "dedup_incremental_clusters",
    "dedup_global_metrics", "dedup_distinct_estimate", "dedup_hll_estimate",
    "dedup_spans", "dedup_roundtrip_check", "dedup_byte_spans",
    "web_recrawl_dedup", "dedup_exact_groups", "text_pii_scrub",
    "text_c4_filters", "text_lm_quality", "text_lang_id", "text_simhash",
    "dedup_dup_span_stats", "dedup_dup_spans", "dedup_span_clean",
    "dedup_decontaminate", "dedup_bloom_decontaminate",
    "corpus_cms_heavy_hitters", "corpus_topk_grams", "web_line_stats",
    "web_line_newline_stats", "corpus_sample_stratified", "train_pack_chunks",
    "train_shuffle_shards", "corpus_dsir_select", "corpus_unimax_alloc",
    "corpus_select_verdict", "corpus_datacard", "corpus_cluster_split",
    "dedup_jpeg_dct_signatures", "web_domain_dup_stats",
    "dedup_cluster_keepers", "emb_ivf_ann_topk", "emb_semantic_dedup",
    "emb_pq_ann_topk", "tpch_pricing_summary", "events_json_extract",
    "orders_rollup_revenue", "events_windowed_counts", "events_orders_asof",
]


def test_driver_window_is_pinned():
    """The first 50 queries are the checked window, name for name."""
    import __spark_entry__ as E

    assert list(E.queries())[:50] == _WINDOW


def test_every_query_has_exactly_one_oracle():
    """No query without an oracle and no oracle left behind by a deleted
    query."""
    import __spark_entry__ as E

    assert set(E.oracle_sql()) == set(E.queries())
