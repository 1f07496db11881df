"""T4: determinism + resume — kill-and-resume yields identical clusters;
re-running a completed stage is a no-op."""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import replace

import pytest

from imdedup_plus_spark import clustering as CL
from imdedup_plus_spark.config import REFERENCE_CONFIG as CFG
from imdedup_plus_spark.pipeline import CheckpointedPipeline, StaleStageError


def _clusters_of(res):
    return sorted((r.url, r.cluster_id) for r in res["clusters"].collect())


def test_resume_is_noop_and_deterministic(spark, fixture_corpus, tmp_path):
    docs = fixture_corpus.drop("base_id", "variant")
    wd = str(tmp_path / "wd")

    p1 = CheckpointedPipeline(spark, wd, CFG, id_col="url")
    r1 = p1.run(docs)
    c1 = _clusters_of(r1)
    lineage1 = {l["stage"]: l["completed_at_epoch"] for l in p1.lineage()}
    assert set(lineage1) == {"signatures", "verified_pairs", "clusters", "spans", "span_summary"}

    # full re-run: every stage must be skipped (identical lineage timestamps)
    p2 = CheckpointedPipeline(spark, wd, CFG, id_col="url")
    r2 = p2.run(docs)
    lineage2 = {l["stage"]: l["completed_at_epoch"] for l in p2.lineage()}
    assert lineage1 == lineage2
    assert _clusters_of(r2) == c1

    # simulate a crash after verified_pairs: clusters onward lost
    for stage in ("clusters", "spans", "span_summary"):
        shutil.rmtree(os.path.join(wd, stage))
    p3 = CheckpointedPipeline(spark, wd, CFG, id_col="url")
    r3 = p3.run(docs)
    lineage3 = {l["stage"]: l["completed_at_epoch"] for l in p3.lineage()}
    # untouched stages kept their manifests; rebuilt stages have fresh ones
    assert lineage3["signatures"] == lineage1["signatures"]
    assert lineage3["verified_pairs"] == lineage1["verified_pairs"]
    assert _clusters_of(r3) == c1

    # another config must not resume these stages: refused, not reused
    strict = replace(CFG, verify_jaccard_pct=95)
    with pytest.raises(StaleStageError, match="signatures"):
        CheckpointedPipeline(spark, wd, strict, id_col="url").run(docs)
    # ... while the same workdir still resumes under its own config
    p4 = CheckpointedPipeline(spark, wd, CFG, id_col="url")
    p4.run(docs)
    assert {l["stage"]: l["completed_at_epoch"] for l in p4.lineage()} == lineage3


def test_resume_refuses_changed_input_files(spark, tmp_path):
    """The lineage key covers the input files and their sizes: the same
    path rewritten with other documents is a different input."""
    src = str(tmp_path / "docs")
    rows = [(i, f"page {i % 5} body words alpha beta gamma") for i in range(40)]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)
    wd = str(tmp_path / "wd")
    CheckpointedPipeline(spark, wd, CFG).run(spark.read.parquet(src))
    CheckpointedPipeline(spark, wd, CFG).run(spark.read.parquet(src))  # resumes

    more = rows + [(100, "an added page with other words entirely")]
    spark.createDataFrame(more, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(src)
    with pytest.raises(StaleStageError):
        CheckpointedPipeline(spark, wd, CFG).run(spark.read.parquet(src))


def test_workdir_without_key_is_refused(spark, tmp_path):
    """A stage written before lineage keys existed is stale by definition."""
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma")], "doc_id long, text string"
    )
    wd = str(tmp_path / "wd")
    p = CheckpointedPipeline(spark, wd, CFG)
    p.run(docs)
    path = p._lineage_path("signatures")
    with open(path) as fh:
        rec = json.load(fh)
    del rec["key"]
    with open(path, "w") as fh:
        json.dump(rec, fh)
    with pytest.raises(StaleStageError):
        CheckpointedPipeline(spark, wd, CFG).run(docs)


def test_commit_counts_rows_without_an_extra_job(spark, tmp_path):
    """The stage row count is observed on the write: committing a stage
    runs exactly the jobs of a bare parquet write plus the read that
    returns it (the schema read), and no count over the stage."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    df = spark.range(0, 1000, 1, 4).withColumnRenamed("id", "doc_id").where("doc_id % 3 = 0")
    p = CheckpointedPipeline(spark, str(tmp_path / "wd"), CFG)
    p.key = "k"

    def jobs(group, action):
        sc.setJobGroup(group, group)
        try:
            action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(tracker.getJobIdsForGroup(group))

    bare_dir = str(tmp_path / "bare")
    bare = jobs(
        "bare-write",
        lambda: (df.write.parquet(bare_dir), spark.read.parquet(bare_dir)),
    )
    commit = jobs("commit", lambda: p._commit("signatures", df, time.time()))
    assert commit == bare
    with open(p._lineage_path("signatures")) as fh:
        assert json.load(fh)["rows"] == 334
    # an empty stage still commits, with 0 rows
    p._commit("spans", df.where("doc_id < 0"), time.time())
    with open(p._lineage_path("spans")) as fh:
        assert json.load(fh)["rows"] == 0


def test_lineage_written_after_data(spark, fixture_corpus, tmp_path):
    """The manifest is the commit marker: an in-progress dir must never be
    visible as a completed stage."""
    docs = fixture_corpus.drop("base_id", "variant")
    wd = str(tmp_path / "wd2")
    p = CheckpointedPipeline(spark, wd, CFG, id_col="url")
    r = p.run(docs)
    for stage in ("signatures", "verified_pairs", "clusters"):
        d = os.path.join(wd, stage)
        assert os.path.exists(os.path.join(d, "_LINEAGE.json"))
        with open(os.path.join(d, "_LINEAGE.json")) as fh:
            rec = json.load(fh)
        assert rec["rows"] > 0
        assert rec["rows"] == spark.read.parquet(d).count()
        assert not os.path.exists(d + ".inprogress")
    # the clusters stage records its CC round count: the rounds a direct
    # call over the stage's own verified pairs takes
    with open(p._lineage_path("clusters")) as fh:
        cc_rounds = json.load(fh)["cc_rounds"]
    stats: dict = {}
    CL.clusters_from_pairs(r["signatures"], r["verified_pairs"], "url", stats=stats)
    assert cc_rounds == stats["rounds"] >= 1


def test_dup_free_corpus_commits_empty_stages(spark, tmp_path):
    """With no duplicates the pair, span and summary stages are empty; the
    observed row count must still arrive (0), not hang or go missing."""
    rows = [(i, f"unique page {i} " + " ".join(f"t{i}_{j}" for j in range(20)))
            for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    p = CheckpointedPipeline(spark, str(tmp_path / "wd"), replace(CFG, exact_prepass=True))
    p.run(docs)
    rows_of = {rec["stage"]: rec["rows"] for rec in p.lineage()}
    assert rows_of["signatures"] == rows_of["exact_groups"] == rows_of["clusters"] == 30
    assert rows_of["verified_pairs"] == rows_of["spans"] == 0
