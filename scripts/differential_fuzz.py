"""Differential fuzz of the whole driver contract: every queries()[k]
vs oracle_sql()[k] on ADVERSARIAL seeded corpora.

The fixed sf0.01 corpus exercises one data shape; this harness swaps in
deterministic edge-case corpora — empty/whitespace-only/single-token
texts, exotic Unicode (CJK, emoji, combining marks), kilo-character
tokens, exact and near duplicates, planted PII and C4 trigger strings,
tied timestamps, ids at the BIGINT-safety boundary (just under 2^31,
the documented id domain), zero/duplicate/denormal embedding vectors —
and re-runs the SAME order-insensitive Spark-vs-DuckDB compare as
scripts/driver_check.py over ALL registered queries. Any divergence
between the two compilers on any seed is a parity bug the fixed-corpus
gate could not see.

Non-fuzzed tables (region/nation/.../events) are linked from sf0.01 so
the relational/streaming lanes still run; documents + embeddings are
replaced per seed.

Usage::

    python scripts/differential_fuzz.py [seed ...]   # default: 3 seeds
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, "/root/repo")

import duckdb

from scripts.driver_check import TABLES, audit_oracle_types, rowset

SF_BASE = "/root/testdata/sf0.01"

#: exotic but deterministic building blocks
WORDS = [
    "alpha", "beta", "gamma", "the", "and", "of", "to", "in",
    "word", "data", "page", "site", "123", "x",
    "中文词",          # CJK
    "café",                    # latin-1 accent
    "naïve",
    "\U0001f600",                   # emoji
    "éclair",                 # combining mark
    "مرحبا",  # arabic
    "mixedCASE", "UPPER", "{brace}", "semi;colon",
]
PII = [
    "contact bob@example.com now",
    "server at 192.168.1.100 down",
    "call +1 415 555 0199 today",
]
C4_TRIGGERS = [
    "lorem ipsum dolor sit amet",
    "function() { javascript } here",
]


def gen_documents(seed: int):
    """Deterministic adversarial (doc_id, text, lang, source, n_chars)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    langs = ["en", "de", "zh", "xx", ""]
    rows = []
    next_id = [0]

    def add(text, lang="en", did=None):
        i = next_id[0] if did is None else did
        next_id[0] = max(next_id[0], i + 1)
        rows.append(
            (i, text, lang, f"fuzz{seed}", len(text) if text is not None else 0)
        )

    # structural edge cases. NO null text: the documents table carries
    # the engine's ingestion contract `text IS NOT NULL` (sources.py
    # decode emits strings, valid_documents drops token-free docs) — a
    # probed null row diverges in 7 observability lanes (str(None) in
    # the Arrow kernels vs SQL NULL propagation, plus global-model
    # shifts in bloom/dsir), which is the documented contract boundary,
    # not a parity target. Engine-agreeing null behavior that IS part
    # of the contract (e.g. token_stats NULL propagation) stays fixed.
    add("")                                  # empty
    add(" \t\n\x0b\x0c\r  ")                 # whitespace-only (WS class)
    add("one")                               # single token
    add("\U0001f600")                        # single emoji token
    add("x " * 500)                          # long repeat run
    add("k" * 1200)                          # kilo-char single token
    add(" ".join(WORDS))                     # the exotic vocabulary
    for p in PII:
        add(p + " " + " ".join(rng.choice(WORDS, 10)))
    for c in C4_TRIGGERS:
        add(c + " " + " ".join(rng.choice(WORDS, 30)))
    # random docs + exact dups + near dups
    base_texts = []
    for _ in range(60):
        n = int(rng.integers(1, 120))
        t = " ".join(rng.choice(WORDS, n))
        base_texts.append(t)
        add(t, lang=langs[int(rng.integers(0, len(langs)))])
    for t in base_texts[:10]:
        add(t)                               # exact duplicate
    for t in base_texts[10:20]:
        w = t.split()
        if len(w) > 3:
            w[len(w) // 2] = "EDIT"
        add(" ".join(w))                     # near duplicate
    # id at the BIGINT-safety boundary (documented domain: < 2^31)
    add(" ".join(rng.choice(WORDS, 40)), did=2**31 - 2)
    return rows


def gen_embeddings(seed: int, n: int = 120):
    import numpy as np

    rng = np.random.default_rng(seed + 7)
    rows = []
    for i in range(n):
        if i == 0:
            v = [0.0] * 64                   # zero vector (cosine domain)
        elif i == 1:
            v = [1e-30] * 64                 # denormal-ish norm
        elif i % 17 == 1 and i > 2:
            v = rows[i - 1][1]               # exact duplicate vector
        else:
            v = [float(x) for x in rng.standard_normal(64).astype("float32")]
        rows.append((i, v, int(i % 5)))
    return rows


def make_sf_dir(seed: int) -> str:
    import pandas as pd

    d = f"/tmp/fuzz_sf_{seed}"
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    for t in TABLES:
        if t in ("documents", "embeddings"):
            continue
        os.symlink(f"{SF_BASE}/{t}.parquet", f"{d}/{t}.parquet")
    pd.DataFrame(
        gen_documents(seed),
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    ).to_parquet(f"{d}/documents.parquet")
    emb = gen_embeddings(seed)
    pd.DataFrame(
        {"vec_id": [r[0] for r in emb],
         "embedding": [r[1] for r in emb],
         "label": [r[2] for r in emb]}
    ).to_parquet(f"{d}/embeddings.parquet")
    return d


def run_seed(spark, seed: int, only: list[str] | None = None) -> list[str]:
    import __spark_entry__ as E

    sf = make_sf_dir(seed)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    qs, os_ = E.queries(), E.oracle_sql()
    if only:
        qs = {k: v for k, v in qs.items() if any(p in k for p in only)}
    failures = []
    for name, fn in qs.items():
        t0 = time.time()
        try:
            sdf = fn(spark, sf)
            scols = sdf.columns
            # through pandas, like the driver (see driver_check.rowset)
            spdf = sdf.toPandas()
            srows = [tuple(r) for r in spdf.itertuples(index=False, name=None)]
        except Exception as ex:
            failures.append(name)
            print(f"FAIL seed={seed} {name}: spark error {type(ex).__name__}: {str(ex)[:300]}")
            continue
        if name not in os_:
            print(f"skip seed={seed} {name}: no oracle (rows={len(srows)})")
            continue
        try:
            typ_problems = audit_oracle_types(con, os_[name], sdf.schema)
            ddf = con.execute(os_[name]).fetchdf()
            dcols = list(ddf.columns)
            drows = [tuple(r) for r in ddf.itertuples(index=False, name=None)]
        except Exception as ex:
            failures.append(name)
            print(f"FAIL seed={seed} {name}: duckdb error {type(ex).__name__}: {str(ex)[:300]}")
            continue
        if typ_problems:
            failures.append(name)
            print(f"FAIL seed={seed} {name}: oracle dtype audit {typ_problems}")
            continue
        try:
            a, b = rowset(scols, srows), rowset(dcols, drows)
        except Exception as ex:
            failures.append(name)
            print(f"FAIL seed={seed} {name}: canonicalize error {ex}")
            continue
        ok = sorted(scols) == sorted(dcols) and a == b
        if not ok:
            failures.append(name)
            diff = next(
                (i for i, (x, y) in enumerate(zip(a, b)) if x != y),
                min(len(a), len(b)),
            )
            print(
                f"FAIL seed={seed} {name}: rows {len(a)} vs {len(b)}; "
                f"first diff at {diff}: "
                f"{a[diff] if diff < len(a) else '<none>'} vs "
                f"{b[diff] if diff < len(b) else '<none>'}"
            )
        else:
            print(f"ok   seed={seed} {name} ({len(a)} rows, {time.time()-t0:.1f}s)")
    con.close()
    return failures


def main() -> int:
    from imdedup_plus_spark.session import get_spark

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    seeds = [int(a) for a in args if a.isdigit()] or [1, 2, 3]
    only = [a for a in args if not a.isdigit()] or None
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    all_fail: dict[int, list[str]] = {}
    for s in seeds:
        f = run_seed(spark, s, only)
        if f:
            all_fail[s] = f
    print()
    if all_fail:
        print(f"FUZZ FAILURES: {all_fail}")
        return 1
    print(f"fuzz clean: all queries match on seeds {seeds}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
