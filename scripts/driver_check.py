"""Local mirror of the driver's correctness gate.

Runs entry() on sf0.001, then every queries()[k] at sf0.01 against
oracle_sql()[k] in DuckDB: row count, column names, and order-insensitive
value comparison. Exit code 1 on any mismatch.
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from imdedup_plus_spark.session import get_spark

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm(v):
    import datetime as _dt

    # numpy scalars (from DuckDB fetchdf) -> Python scalars, so that the
    # dtype tag below is 'int' vs 'float', not 'int64' vs 'float64'.
    if hasattr(v, "item") and type(v).__module__ == "numpy":
        v = v.item()
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    if isinstance(v, _dt.date):
        # covers date / datetime / pd.Timestamp. The official gate equates
        # Spark DATE with DuckDB date_trunc's midnight TIMESTAMP
        # (orders_monthly_revenue was hash-green in r1/r3 with exactly
        # that shape), so canonicalize all temporals to one ISO string.
        if not isinstance(v, _dt.datetime):
            v = _dt.datetime(v.year, v.month, v.day)
        return v.isoformat()
    return v


def cell(v):
    """Dtype-TAGGED canonical cell. The round-4 lesson: the driver hashes
    the pandas *representation*, where DuckDB HUGEINT arrives as float64 —
    so 7906 (Spark BIGINT) vs 7906.0 (oracle HUGEINT) hash-differ even
    though `7906 == 7906.0`. Tagging each cell with its Python type makes
    the mirror exactly as strict: an int-vs-float divergence FAILS here."""
    n = norm(v)
    return (type(n).__name__, n)


def rowset(cols, rows):
    """Canonicalize THE WAY THE DRIVER DOES: pandas sort_values over the
    name-sorted columns. The round-2 mirror sorted Python tuples, which
    happily compares list cells — so 4 ARRAY-column queries passed locally
    while the official gate errored with 'unhashable type: list'. pandas
    sort_values raises on list cells exactly like the driver. Rows are
    sorted by VALUE (so both engines order identically) but compared with
    dtype tags (see `cell`)."""
    import pandas as pd

    order = [cols[i] for i in sorted(range(len(cols)), key=lambda i: cols[i])]
    df = pd.DataFrame(
        [[norm(v) for v in r] for r in rows], columns=list(cols), dtype=object
    )[order]
    df = df.sort_values(by=order, kind="mergesort").reset_index(drop=True)
    return [
        tuple(cell(v) for v in r)
        for r in df.itertuples(index=False, name=None)
    ]


# DuckDB types that pandas fetches as float64 / object and the driver's
# hash therefore sees differently from a Spark integral column.
_BANNED_ORACLE_TYPES = ("HUGEINT",)
_SPARK_INTEGRAL = ("long", "int", "bigint", "integer", "smallint", "tinyint")


def audit_oracle_types(con, sql, spark_schema):
    """DESCRIBE the oracle and return a list of (col, duck_type) problems:
    any HUGEINT column (pandas fetches as float64 -> driver hash mismatch
    vs Spark int64), or DOUBLE/FLOAT where the Spark column is integral."""
    spark_types = {f.name: f.dataType.simpleString() for f in spark_schema}
    problems = []
    for colname, ducktype, *_ in con.execute("DESCRIBE " + sql).fetchall():
        du = ducktype.upper()
        if any(b in du for b in _BANNED_ORACLE_TYPES):
            problems.append((colname, ducktype))
        elif du in ("DOUBLE", "FLOAT", "REAL") and spark_types.get(
            colname, ""
        ) in _SPARK_INTEGRAL:
            problems.append((colname, f"{ducktype} vs spark {spark_types[colname]}"))
    return problems


def main() -> int:
    import __spark_entry__ as E

    sf_small, sf_corr = "/root/testdata/sf0.001", "/root/testdata/sf0.01"
    spark = get_spark()

    t0 = time.time()
    res = E.entry(spark)
    n = res.count()
    print(f"entry(): {n} rows, schema={res.columns} ({time.time()-t0:.1f}s)")
    assert n > 0

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_corr}/{t}.parquet'")

    qs, os_ = E.queries(), E.oracle_sql()
    # optional argv name filters (substring match) for quick iteration,
    # e.g. `python scripts/driver_check.py span_clean pack`
    if len(sys.argv) > 1:
        pats = sys.argv[1:]
        qs = {k: v for k, v in qs.items() if any(p in k for p in pats)}
    failures = []
    for name, fn in qs.items():
        t0 = time.time()
        try:
            sdf = fn(spark, sf_corr)
            scols = sdf.columns
            # fetch THROUGH pandas (like the driver) so the compare sees
            # the same representation the official hash does.
            spdf = sdf.toPandas()
            srows = [tuple(r) for r in spdf.itertuples(index=False, name=None)]
        except Exception as ex:
            failures.append(name)
            print(f"FAIL {name}: spark error {ex}")
            continue
        if name not in os_:
            print(f"ok   {name}: rows-only, {len(srows)} rows ({time.time()-t0:.1f}s)")
            continue
        try:
            typ_problems = audit_oracle_types(con, os_[name], sdf.schema)
            # fetch THROUGH pandas, like the driver, so dtype divergence
            # (e.g. HUGEINT->float64) is visible to the compare below.
            ddf = con.execute(os_[name]).fetchdf()
            dcols = list(ddf.columns)
            drows = [tuple(r) for r in ddf.itertuples(index=False, name=None)]
        except Exception as ex:
            failures.append(name)
            print(f"FAIL {name}: duckdb error {ex}")
            continue
        if typ_problems:
            failures.append(name)
            print(f"FAIL {name}: oracle dtype audit {typ_problems}")
            continue
        ok_cols = sorted(scols) == sorted(dcols)
        sset, dset = rowset(scols, srows), rowset(dcols, drows)
        ok_rows = sset == dset
        status = "ok  " if (ok_cols and ok_rows) else "FAIL"
        if status == "FAIL":
            failures.append(name)
        print(
            f"{status} {name}: spark {len(srows)} rows vs duckdb {len(drows)} "
            f"cols_match={ok_cols} values_match={ok_rows} ({time.time()-t0:.1f}s)"
        )
        if not ok_cols:
            print(f"     spark cols: {sorted(scols)}\n     duck  cols: {sorted(dcols)}")
        if not ok_rows:
            sonly = [r for r in sset if r not in set(dset)][:3]
            donly = [r for r in dset if r not in set(sset)][:3]
            print(f"     spark-only: {sonly}\n     duck-only : {donly}")

    print(f"\n{len(qs) - len(failures)}/{len(qs)} queries pass")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
