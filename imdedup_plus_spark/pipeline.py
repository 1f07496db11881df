"""End-to-end orchestration with resumable per-stage checkpoints.

The reference's unit of resumability is the batch (``PATCH_SIZE`` patches,
fresh feature tables per batch — ``/root/reference/idedup.c:308-313,
824-830``). The north rule requires *global* dedup with per-partition
lineage + metrics and resume-from-checkpoint. Design:

* every expensive stage materializes to ``<workdir>/<stage>/`` as Parquet
  (Iceberg when a catalog is configured — this sandbox has no Iceberg jar,
  and SURVEY.md §7 allows the Parquet-plus-manifest fallback). In run
  order:

  - ``recrawls`` (opt-in ``collapse_recrawls``): newest revision per
    canonical URL, all input columns;
  - ``signatures``: the single text pass before span extraction — one
    ``(id, sig, shingle_set, n_set_true)`` row per valid doc, plus
    ``fingerprint`` with ``exact_prepass``;
  - ``exact_groups`` (``exact_prepass``): ``(id, exact_rep)`` per valid
    doc, grouped from the signature stage's ``(id, fingerprint)`` rows —
    the text is not read again;
  - ``verified_pairs``: LSH candidates of the representatives' signature
    rows, verified;
  - ``clusters``: ``(id, cluster_id)`` per valid doc (members of an exact
    group inherit their representative's cluster);
  - ``spans`` and ``span_summary``: copy/insert spans against each
    cluster's base;

* a stage is complete iff ``<workdir>/<stage>/_LINEAGE.json`` exists — it is
  written *after* the Parquet commit, so a killed run can never leave a
  complete-looking stage behind (write-ahead ordering = idempotent resume);
* the lineage record carries row count (observed during the write, no
  extra scan), config echo, wall time (``clusters`` also its CC round
  count, ``cc_rounds``) and a ``key``: a hash of the config, ``id_col``,
  ``collapse_recrawls``, the stage layout version and the input files
  with their sizes. A completed stage whose key differs from the run's is
  refused (``StaleStageError``) instead of silently reused;
* re-running a completed stage with the same key is a no-op read
  (tests/test_resume.py).

At 100 TB each stage boundary is also the natural operational boundary:
signatures are ~40 bytes/doc (8 x 8-byte features + id), pairs and clusters
are tiny relative to the corpus, so checkpoint I/O is negligible next to
the document scan.

Exact Iceberg mapping of this fallback (what a cluster with the
``iceberg-spark-runtime`` jar would configure; every concept below has a
1:1 analog in this module, so swapping the writer is mechanical):

* session conf::

    spark.sql.extensions=org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions
    spark.sql.catalog.dedup=org.apache.iceberg.spark.SparkCatalog
    spark.sql.catalog.dedup.type=hadoop           # or hive/rest
    spark.sql.catalog.dedup.warehouse=<workdir>

* ``<workdir>/<stage>/`` parquet dir  ->  table ``dedup.db.<stage>``,
  written with ``df.writeTo("dedup.db.<stage>").createOrReplace()``;
  the bands/state tables partitioned by ``(band_id, bucket(band_hash))``
  so streaming probes prune to the touched buckets (streaming.py does
  this today via parquet partition dirs).
* ``_LINEAGE.json`` written-after-data  ->  Iceberg's snapshot commit:
  atomicity comes from the catalog swap instead of manifest ordering,
  and the row-count/config echo land in snapshot ``summary`` properties
  (``df.writeTo(...).option("snapshot-property.cfg", ...)``).
* resume no-op read  ->  time-travel to the last committed snapshot;
  a partially-written attempt is invisible (uncommitted snapshot).
* the streaming epoch manifest (streaming.py) -> MERGE INTO keyed on
  ``epoch`` with ``WHEN NOT MATCHED THEN INSERT`` — replayed epochs
  become no-ops server-side instead of via the manifest check.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from dataclasses import asdict

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from . import candidates as C
from . import clustering as CL
from . import signatures as S
from . import spans as SP
from .config import DedupConfig

STAGES = (
    "recrawls",
    "signatures",
    "exact_groups",
    "verified_pairs",
    "clusters",
    "spans",
    "span_summary",
)

#: bump when a stage's content changes for the same config and input, so
#: workdirs written by older code are refused rather than reused.
#: 2: ``signatures`` covers every valid doc (+ ``fingerprint``) and runs
#: before ``exact_groups``.
STAGE_LAYOUT_VERSION = 2


class StaleStageError(RuntimeError):
    """A completed stage was built for another config, input or layout."""


class CheckpointedPipeline:
    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        cfg: DedupConfig | None = None,
        id_col: str = "doc_id",
        collapse_recrawls: bool = False,
    ) -> None:
        self.spark = spark
        self.workdir = workdir
        self.cfg = cfg or DedupConfig()
        self.id_col = id_col
        #: opt-in Common-Crawl pre-stage (weburl.py): canonicalize URLs and
        #: keep only the newest warc_ts revision per canonical URL, so exact
        #: recrawl volume never reaches shingling. Requires url + warc_ts
        #: columns on the input (the input_hint shape).
        self.collapse_recrawls = collapse_recrawls
        #: lineage key of the current run (set by ``run`` from its input)
        self.key: str | None = None
        os.makedirs(workdir, exist_ok=True)

    # -- lineage -----------------------------------------------------------
    def _stage_dir(self, stage: str) -> str:
        return os.path.join(self.workdir, stage)

    def _lineage_path(self, stage: str) -> str:
        return os.path.join(self._stage_dir(stage), "_LINEAGE.json")

    def is_complete(self, stage: str) -> bool:
        return os.path.exists(self._lineage_path(stage))

    def _key_fields(self) -> dict:
        """Everything besides the input that decides what a stage holds."""
        return {
            "config": asdict(self.cfg),
            "id_col": self.id_col,
            "collapse_recrawls": self.collapse_recrawls,
            "layout": STAGE_LAYOUT_VERSION,
        }

    def _input_files(self, docs: DataFrame) -> list[tuple[str, int]]:
        """``(uri, bytes)`` of every file under ``docs``; empty for an
        in-memory or cached frame, whose plan names no files."""
        jvm = self.spark.sparkContext._jvm
        conf = self.spark.sparkContext._jsc.hadoopConfiguration()
        out = []
        for uri in sorted(docs.inputFiles()):
            path = jvm.org.apache.hadoop.fs.Path(uri)
            out.append((uri, path.getFileSystem(conf).getFileStatus(path).getLen()))
        return out

    def lineage_key(self, docs: DataFrame) -> str:
        rec = dict(self._key_fields(), input=self._input_files(docs))
        blob = json.dumps(rec, sort_keys=True).encode()
        return hashlib.sha256(blob).hexdigest()

    def _commit(
        self, stage: str, df: DataFrame, started: float, extra: dict | None = None
    ) -> DataFrame:
        """Write ``df`` as ``stage``, then its lineage (plus ``extra``)."""
        path = self._stage_dir(stage)
        tmp = path + ".inprogress"
        shutil.rmtree(tmp, ignore_errors=True)
        # the row count rides on the write job itself (no re-read + count)
        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode("overwrite").parquet(tmp)
        rows = obs.get["rows"]
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
        lineage = {
            "stage": stage,
            "rows": rows,
            "n_files": len([f for f in os.listdir(path) if f.endswith(".parquet")]),
            "config": asdict(self.cfg),
            "key": self.key,
            "wall_sec": round(time.time() - started, 3),
            "completed_at_epoch": int(time.time()),
            **(extra or {}),
        }
        with open(self._lineage_path(stage), "w") as fh:
            json.dump(lineage, fh, indent=2)
        return self._load(stage)

    def _load(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(self._stage_dir(stage))

    def _stage(self, stage: str, build, extra=None) -> DataFrame:
        """Load ``stage`` if complete, else commit ``build()``; ``extra``,
        if given, is called after the build for more lineage fields."""
        if self.is_complete(stage):
            with open(self._lineage_path(stage)) as fh:
                found = json.load(fh).get("key")
            if found != self.key:
                raise StaleStageError(
                    f"stage {stage!r} in {self.workdir} was built for another "
                    f"config, input or stage layout (key {found}, this run "
                    f"{self.key}); use a fresh workdir or delete the stage"
                )
            return self._load(stage)
        t0 = time.time()
        df = build()
        return self._commit(stage, df, t0, extra() if extra else None)

    def lineage(self) -> list[dict]:
        out = []
        for st in STAGES:
            if self.is_complete(st):
                with open(self._lineage_path(st)) as fh:
                    out.append(json.load(fh))
        return out

    # -- stages --------------------------------------------------------------
    def run(self, docs: DataFrame) -> dict[str, DataFrame]:
        cfg, idc = self.cfg, self.id_col
        self.key = self.lineage_key(docs)

        if self.collapse_recrawls:
            from . import weburl as WU

            missing = {"url", "warc_ts"} - set(docs.columns)
            if missing:
                raise ValueError(
                    f"collapse_recrawls needs url+warc_ts columns; missing {missing}"
                )
            keep = list(docs.columns)
            src = docs
            docs = self._stage(
                "recrawls", lambda: WU.latest_revision(src, keep_cols=keep)
            )

        if (cfg.exact_prepass and cfg.short_doc_tokens > 0
                and cfg.shingle_window > cfg.min_tokens):
            # exact groups come from the signature rows, which need a full
            # shingle window; valid docs below it would have no group
            raise ValueError(
                "exact_prepass with short_doc_tokens needs shingle_window <= min_tokens"
            )

        # the single text pass: Arrow/numpy kernel, bit-identical to the SQL
        # forms (tests/test_signatures.py) but immune to the JVM
        # interpreted-HOF / array_intersect allocation walls measured in
        # BENCH/BASELINE.md. It applies the validity filter itself, and with
        # the prepass also folds each doc's exact-dup fingerprint.
        sig_all = self._stage(
            "signatures",
            lambda: S.signature_kernel_arrow(docs, cfg, idc, fingerprint=cfg.exact_prepass),
        )

        # only the short-doc lane reads the token-level valid frame
        valid = S.valid_documents(docs, cfg) if cfg.short_doc_tokens > 0 else None
        exact_groups = None
        sig = sig_all
        if cfg.exact_prepass:
            # FIX_OPTI analog: collapse identical texts to one representative
            # before the quadratic stages (2df.c:477-494 / index.c:254-264)
            from . import textfns as T

            exact_groups = self._stage(
                "exact_groups",
                lambda: T.exact_dup_groups(sig_all.select(idc, "fingerprint"), idc)
                .select(idc, "exact_rep"),
            )
            reps = exact_groups.where(F.col(idc) == F.col("exact_rep")).select(idc)
            sig = sig_all.join(reps, idc, "left_semi")
            if valid is not None:
                valid = valid.join(reps, idc, "left_semi")

        def _build_verified() -> DataFrame:
            verified = C.verified_pairs(sig, cfg, idc)
            if valid is None:
                return verified
            # a pair found by both lanes keeps its band count; the verify
            # columns depend only on the pair, so they group with it
            short_pairs = C.verify_pairs_kernel(
                C.short_doc_pairs(valid, cfg, idc), sig, cfg, idc
            )
            return (
                verified.unionByName(short_pairs)
                .groupBy("id_a", "id_b", "n_eq", "inter", "un")
                .agg(F.max("n_matching_bands").alias("n_matching_bands"))
                .select(*verified.columns)
            )

        verified = self._stage("verified_pairs", _build_verified)

        cc_stats: dict = {}

        def _build_clusters() -> DataFrame:
            rep_clusters = CL.clusters_from_pairs(sig, verified, idc, stats=cc_stats)
            if exact_groups is None:
                return rep_clusters
            # expand: every member inherits its representative's cluster id
            return (
                exact_groups.join(
                    rep_clusters.withColumnRenamed(idc, "exact_rep"), "exact_rep"
                )
                .select(idc, "cluster_id")
            )

        clusters = self._stage(
            "clusters", _build_clusters, lambda: {"cc_rounds": cc_stats["rounds"]}
        )
        spans = self._stage(
            "spans",
            lambda: SP.extract_spans(
                SP.pair_texts_from_clusters(clusters, docs, idc),
                string_ids=dict(docs.dtypes)[idc] == "string",
            ),
        )
        summary = self._stage("span_summary", lambda: SP.span_summary(spans))
        return {
            "signatures": sig,
            "exact_groups": exact_groups,
            "verified_pairs": verified,
            "clusters": clusters,
            "spans": spans,
            "span_summary": summary,
        }
