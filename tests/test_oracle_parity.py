"""Spot-check Spark vs DuckDB oracle parity inside pytest (sf0.001 — the
full sweep lives in scripts/driver_check.py at sf0.01)."""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as E

SF = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

KEYS = [
    "dedup_minhash_signatures",
    "dedup_verified_pairs",
    "dedup_clusters",
    "dedup_global_metrics",
    "text_simhash",
    "dedup_simhash_pairs",
    "mm_binary_metadata",
    "emb_ivf_ann_topk",
    "emb_ivf_cells",
    "orders_rollup_revenue",
    "text_bpe_tokens",
    "events_orders_asof",
    "dedup_candidate_pairs_hotwin",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


@pytest.mark.parametrize("key", KEYS)
def test_query_matches_oracle(spark, duck, key):
    sdf = E.queries()[key](spark, SF)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    cur = duck.execute(E.oracle_sql()[key])
    dcols = [d[0] for d in cur.description]
    drows = cur.fetchall()
    assert sorted(scols) == sorted(dcols)
    order = sorted(range(len(scols)), key=lambda i: scols[i])
    dorder = sorted(range(len(dcols)), key=lambda i: dcols[i])
    s = sorted(tuple(r[i] for i in order) for r in srows)
    d = sorted(tuple(r[i] for i in dorder) for r in drows)
    assert s == d
