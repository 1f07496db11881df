"""End-to-end training-data preparation pipeline: dedup tier + the
round-4 prep tier, checkpointed, composed from the engine's own
oracle-checked operators.

What a user of the reference would actually RUN to turn a crawl into
training shards: the dedup pipeline (``pipeline.CheckpointedPipeline``
— recrawl collapse, signatures (one text pass, which also folds the
exact-dup fingerprint), exact groups, verified pairs, clusters) followed
by

* ``keepers``   — survivor per dup cluster (argmax quality; the
  scale-shaped ``clustering.cluster_keepers`` aggregate), every doc a
  keep/drop flag;
* ``verdict``   — the per-document decision record: exact-dup /
  near-dup-keeper / decontamination / C4 / Gopher-repetition flags plus
  the first-failing-reason CASE. This stage is BY CONSTRUCTION the same
  composition the oracle-checked ``corpus_select_verdict`` driver query
  runs (``selection.verdict_case_sql`` is the shared source of truth),
  so the pipeline's keep/drop decisions are the certified ones;
* ``selected``  — the kept slice with PII-scrubbed text
  (``hygiene.pii_scrub``; scrub fingerprints retained per doc);
* ``shards``    — the reproducible training order
  (``ordering.shuffle_shards``: shard + dense in-shard position) plus
  the sequence-packing assignment (``trainprep.pack_chunks``) over the
  selected slice.

Every stage materializes to ``<workdir>/<stage>/`` with the same
written-after-data ``_LINEAGE.json`` commit protocol as the dedup
stages (idempotent resume; Iceberg mapping documented in pipeline.py).
``write_shards`` materializes the final artifact: parquet partitioned
by shard, rows ordered by position within each file — the layout a
training loader streams sequentially.

Reference parity: the reference stops at dedup + restore
(``main.c:300-365``); this module is the forward path the prompt's
training-data tier adds on top, built ONLY from stages that each hold
their own oracle row.

Scale notes (100 TB): every stage is one of the already-audited plans
(PLANS.md) — the composition adds joins keyed on the doc id (the
corpus's natural clustering), one shard-keyed exchange for the order,
and a per-bucket window for packing. Nothing here introduces a new
corpus-keyed window or driver-side loop.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import clustering as CL
from . import hygiene as HG
from . import ordering as ORD
from . import selection as SEL
from . import textfns as T
from . import trainprep as TP
from .pipeline import CheckpointedPipeline

#: prep stages appended after pipeline.STAGES (lineage() order)
PREP_STAGES = ("keepers", "verdict", "selected", "shards")


class TrainingPrepPipeline(CheckpointedPipeline):
    """Dedup + training-data prep, one resumable workdir.

    ``id_col`` must be numeric (BIGINT-like): the ordering permutation
    and the packing bucket split are integer maps. String-keyed corpora
    should pass a surrogate id (e.g. the crawl record number) — the
    same requirement a real training manifest has anyway.
    """

    def __init__(self, *args, n_shards: int = ORD.ORD_N_SHARDS, **kw) -> None:
        super().__init__(*args, **kw)
        self.n_shards = n_shards

    def _key_fields(self) -> dict:
        return dict(super()._key_fields(), n_shards=self.n_shards)

    def run_prep(self, docs: DataFrame) -> dict[str, DataFrame]:
        """Run everything; returns the dedup frames plus ``keepers``,
        ``verdict``, ``selected``, ``shards`` and ``packed``."""
        if dict(docs.dtypes)[self.id_col] in ("string", "binary"):
            raise ValueError(
                "TrainingPrepPipeline needs a numeric id_col (ordering/"
                "packing are integer maps); provide a surrogate id"
            )
        out = self.run(docs)
        idc = self.id_col
        valid, clusters = out["valid"], out["clusters"]

        def _build_keepers() -> DataFrame:
            ql = T.quality_score(valid, idc).select(idc, "quality_permille")
            return CL.cluster_keepers(clusters.join(ql, idc), idc)

        keepers = self._stage("keepers", _build_keepers)

        def _build_verdict() -> DataFrame:
            # the corpus_select_verdict composition (driver-checked):
            # every gate joined on the id, one shared CASE. The exact
            # groups come from the dedup run when its prepass built them.
            groups = out["exact_groups"]
            if groups is None:
                groups = T.exact_dup_groups(valid, idc)
            ex = groups.select(
                idc,
                (F.col("exact_rep") != F.col(idc)).cast("int").alias(
                    "is_exact_dup"
                ),
            )
            kp = keepers.select(idc, F.col("keep").alias("neardup_keep"))
            dec = TP.decontaminate_kernel(valid, idc).select(
                idc, "contaminated"
            )
            c4 = HG.c4_filters(valid, idc).select(
                idc, F.col("keep").alias("c4_keep")
            )
            rep = TP.repetition_stats_kernel(valid, idc).select(
                idc, "repetition_pass"
            )
            case = SEL.verdict_case_sql()
            return (
                ex.join(kp, idc).join(dec, idc).join(c4, idc).join(rep, idc)
                .select(
                    idc,
                    "is_exact_dup",
                    "neardup_keep",
                    "contaminated",
                    "c4_keep",
                    "repetition_pass",
                    F.expr(case).alias("verdict"),
                    F.expr(f"CAST(({case}) = 'kept' AS INT)").alias("kept"),
                )
            )

        verdict = self._stage("verdict", _build_verdict)

        def _build_selected() -> DataFrame:
            kept = verdict.where(F.col("kept") == 1).select(idc)
            keep_docs = valid.join(kept, idc)
            cols = [c for c in ("lang",) if c in valid.columns]
            scrub = HG.pii_scrub_text(keep_docs, idc).select(
                idc, F.col("scrubbed_text").alias("text"), "n_pii"
            )
            if cols:
                scrub = scrub.join(keep_docs.select(idc, *cols), idc)
            return scrub

        selected = self._stage("selected", _build_selected)

        def _build_shards() -> DataFrame:
            order = ORD.shuffle_shards(
                selected.select(idc), idc, n_shards=self.n_shards
            )
            packed = TP.pack_chunks(selected, idc).select(
                idc,
                "pack_bucket",
                "stream_offset",
                "chunk_first",
                "chunk_last",
            )
            return order.join(packed, idc)

        shards = self._stage("shards", _build_shards)
        out.update(
            keepers=keepers, verdict=verdict, selected=selected, shards=shards
        )
        return out

    def lineage(self) -> list[dict]:
        import json

        out = super().lineage()
        for st in PREP_STAGES:
            if self.is_complete(st):
                with open(self._lineage_path(st)) as fh:
                    out.append(json.load(fh))
        return out

    def write_shards(self, outdir: str) -> dict:
        """Materialize the training artifact: parquet partitioned by
        ``shard``, rows ordered by ``pos`` inside each shard (ONE file
        per shard so the on-disk row order IS the training order)."""
        idc = self.id_col
        final = (
            self._load("selected")
            .join(self._load("shards"), idc)
            .repartition(self.n_shards, "shard")
            .sortWithinPartitions("shard", "pos")
        )
        final.write.mode("overwrite").partitionBy("shard").parquet(outdir)
        n = self.spark.read.parquet(outdir).count()
        return {"outdir": outdir, "rows": int(n), "n_shards": self.n_shards}
