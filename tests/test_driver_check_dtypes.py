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
    midnight TIMESTAMP (orders_monthly_revenue was hash-green in r1/r3
    with that shape) — the mirror must not be stricter than the gate."""
    import datetime as dt

    import pandas as pd

    a = rowset(["m"], [(dt.date(1995, 1, 1),)])
    b = rowset(["m"], [(pd.Timestamp("1995-01-01 00:00:00"),)])
    assert a == b
    # but a non-midnight timestamp differs from the date
    c = rowset(["m"], [(pd.Timestamp("1995-01-01 12:00:00"),)])
    assert a != c
