"""The exact-dup fingerprint has one form: the numpy fold in the signature
kernel, shared by ``textfns.fingerprint`` / ``exact_dup_groups``. These
tests hold it to the DuckDB oracle ``fingerprint_sql`` and hold the
pipeline's single text pass to the two-pass flow it replaced."""

from __future__ import annotations

from dataclasses import replace

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from imdedup_plus_spark import candidates as C
from imdedup_plus_spark import clustering as CL
from imdedup_plus_spark import signatures as S
from imdedup_plus_spark import textfns as T
from imdedup_plus_spark.config import HASH_MOD, REFERENCE_CONFIG, SCALE_CONFIG, SHINGLE_MULT
from imdedup_plus_spark.pipeline import CheckpointedPipeline
from scripts.differential_fuzz import SF_BASE

SF001 = f"{SF_BASE}/documents.parquet"

ADVERSARIAL = [
    (1, "line one\r\nline two\r\n"),              # CRLF
    (2, "vertical\x0btab\x0bsplits"),            # \x0B is a separator
    (3, "nbsp\xa0glues　ideographic too"),   # Unicode spaces do not split
    (4, "STRASSE ß ẞ Straße"),         # ß stays, capital sharp s lowers to it
    (5, "İstanbul and ΣΑΣ"),              # lower() expands / final sigma
    (6, None),                                   # NULL -> NULL
    (7, ""),                                     # empty -> 0
    (8, " \t\n\x0b\f\r "),                       # separators only -> 0
    (9, "one"),                                  # 1 token
    (10, "\U0001F600 astral \U0001F600"),        # astral codepoints
    (11, "line one\r\nline two\r\n"),             # exact dup of 1
]


def _fold_py(text: str | None) -> int | None:
    """Per-token reference: tokens of the Python-lowered text, the Horner
    word hash, then the Horner fold of the word hashes."""
    if text is None:
        return None
    acc = 0
    for tok in S.ascii_tokens(text.lower()):
        acc = (acc * SHINGLE_MULT + S._word_hash_py(tok)) % HASH_MOD
    return acc


def _duck_fingerprints(rows) -> dict:
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    return dict(con.execute(T.fingerprint_sql("doc_id")).fetchall())


def test_fingerprint_matches_oracle_on_sf001(spark):
    docs = spark.read.parquet(SF001)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF001}'")
    want = dict(con.execute(T.fingerprint_sql("doc_id")).fetchall())
    got = {r.doc_id: r.fingerprint for r in T.fingerprint(docs, "doc_id").collect()}
    assert got == want
    # the signature kernel folds the same value for every doc it keeps
    kern = {
        r.doc_id: r.fingerprint
        for r in S.signature_kernel_arrow(
            docs, REFERENCE_CONFIG, "doc_id", fingerprint=True
        ).collect()
    }
    assert kern and all(want[k] == v for k, v in kern.items())
    assert len(kern) == S.valid_documents(docs, REFERENCE_CONFIG).count()


def test_fingerprint_adversarial_rows(spark):
    df = spark.createDataFrame(ADVERSARIAL, "doc_id long, text string")
    got = {r.doc_id: r.fingerprint for r in T.fingerprint(df, "doc_id").collect()}
    assert got == {i: _fold_py(t) for i, t in ADVERSARIAL}
    assert got[6] is None and got[7] == 0 and got[8] == 0 and got[1] == got[11]

    # the oracle agrees wherever DuckDB's lower() agrees with the JVM's.
    # DuckDB lowers by simple (1:1) case mapping, so 'İ' -> 'i' and no
    # final sigma; Spark's lower() (the valid_documents tokenizer) and
    # Python's do the full mapping, which the kernel keeps.
    duck = _duck_fingerprints(ADVERSARIAL)
    con = duckdb.connect()
    texts = [t for _i, t in ADVERSARIAL if t is not None]
    jvm = dict(
        spark.createDataFrame([(t,) for t in texts], "t string")
        .select("t", F.lower("t").alias("lo")).collect()
    )
    diverging = set()
    for i, t in ADVERSARIAL:
        if t is not None and con.execute("SELECT lower(?)", [t]).fetchone()[0] != t.lower():
            diverging.add(i)
            assert jvm[t] == t.lower(), t
            assert duck[i] != got[i]
        else:
            assert duck[i] == got[i], (i, t)
    assert diverging == {5}

    # kernel: same fold for the rows that pass the validity filter
    kern = {
        r.doc_id: r.fingerprint
        for r in S.signature_kernel_arrow(
            df, REFERENCE_CONFIG, "doc_id", fingerprint=True
        ).collect()
    }
    assert set(kern) == {1, 2, 3, 4, 5, 10, 11}
    assert all(kern[i] == got[i] for i in kern)


def test_exact_dup_groups_from_fingerprint_column(spark):
    """Given ``(id, fingerprint)`` rows, no text is needed and the groups
    equal the ones folded from the text; NULL text has no group."""
    df = spark.createDataFrame(ADVERSARIAL, "doc_id long, text string")
    from_text = sorted(map(tuple, T.exact_dup_groups(df, "doc_id").collect()))
    fps = T.fingerprint(df, "doc_id")
    from_fp = sorted(map(tuple, T.exact_dup_groups(fps, "doc_id").collect()))
    assert from_text == from_fp
    by_id = {r[0]: r for r in from_text}
    assert 6 not in by_id
    assert by_id[11][2:] == (1, 2) and by_id[1][2:] == (1, 2)
    assert by_id[7][2:] == (7, 2) and by_id[8][2:] == (7, 2)  # both fold to 0


def _two_pass_flow(spark, docs, cfg, idc):
    """The flow the single text pass replaced: exact groups of the valid
    docs (here from the DuckDB oracle), then the representatives' text
    joined back into the signature kernel."""
    valid = S.valid_documents(docs, cfg)
    con = duckdb.connect()
    con.register("documents", valid.select(idc, "text").toPandas())
    groups = spark.createDataFrame(
        con.execute(T.exact_dup_groups_sql(idc)).fetchdf()[[idc, "exact_rep"]]
    )
    reps = groups.where(F.col(idc) == F.col("exact_rep")).select(idc)
    sig = S.signature_kernel_arrow(valid.join(reps, idc), cfg, idc)
    verified = C.verify_pairs_kernel(
        C.candidate_pairs(S.explode_bands(sig, cfg, idc), cfg, idc), sig, cfg, idc
    )
    rep_clusters = CL.clusters_from_pairs(sig, verified, idc)
    clusters = groups.join(
        rep_clusters.withColumnRenamed(idc, "exact_rep"), "exact_rep"
    ).select(idc, "cluster_id")
    return verified, clusters


def test_single_pass_pipeline_matches_two_pass_flow(spark, fixture_corpus, tmp_path):
    docs = fixture_corpus.drop("base_id", "variant")
    cfg = replace(SCALE_CONFIG, exact_prepass=True)
    pipe = CheckpointedPipeline(spark, str(tmp_path / "wd"), cfg, id_col="url")
    res = pipe.run(docs)
    want_pairs, want_clusters = _two_pass_flow(spark, docs, cfg, "url")

    def rows(df, *cols):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    pairs = rows(res["verified_pairs"], "id_a", "id_b")
    assert pairs and pairs == rows(want_pairs, "id_a", "id_b")
    assert rows(res["clusters"], "url", "cluster_id") == rows(
        want_clusters, "url", "cluster_id"
    )
    # the signature stage holds every valid doc; LSH sees only the reps
    n_valid = S.valid_documents(docs, cfg).count()
    lineage = {rec["stage"]: rec for rec in pipe.lineage()}
    assert lineage["signatures"]["rows"] == n_valid
    assert lineage["exact_groups"]["rows"] == n_valid
    assert res["signatures"].count() < n_valid


def test_exact_prepass_refuses_short_docs_below_window(spark, tmp_path):
    cfg = replace(
        REFERENCE_CONFIG, exact_prepass=True, short_doc_tokens=6, shingle_window=3
    )
    docs = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    with pytest.raises(ValueError, match="shingle_window"):
        CheckpointedPipeline(spark, str(tmp_path / "wd"), cfg).run(docs)
