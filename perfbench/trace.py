"""Per-layer tracing from the benchmark's side of the program boundary.

``Tracer`` swaps each layer's public entry point for a wrapper for the
duration of one traced run. A wrapper

* switches the Spark job group to its layer, so every job Spark runs
  from then on — the stage write that follows, and the eager CC rounds
  inside ``clusters_from_pairs`` — is attributed to that layer until the
  next wrapped call switches it again;
* persists and counts the DataFrame it returns, so lazy work is executed
  under the layer that defined it rather than under whichever layer
  happens to trigger it later (this is the tracing perturbation that
  ``tracing.overhead_ratio`` reports).

Per-group task metrics are then read from the status store, which is
populated with the UI off on pyspark 4.1.2.
"""

from __future__ import annotations

import time

from pyspark import StorageLevel
from pyspark.sql import functions as F
from py4j.protocol import Py4JJavaError

from imdedup_plus_spark import bytedelta as BD
from imdedup_plus_spark import candidates as C
from imdedup_plus_spark import clustering as CL
from imdedup_plus_spark import dirdedup as DD
from imdedup_plus_spark import signatures as S
from imdedup_plus_spark import sources as SRC
from imdedup_plus_spark import spans as SP
from imdedup_plus_spark import textfns as T
from perfbench.metrics import LAYER_METRICS, LAYERS

#: group for the tracer's own bookkeeping jobs, attributed to no layer
TRACE_GROUP = "trace"
#: group for orchestration outside every wrapped entry point
PIPELINE_GROUP = "pipeline"

_MB = 1 << 20


def set_group(sc, group: str) -> None:
    sc.setJobGroup(group, group)


def group_stats(sc, group: str) -> dict[str, float]:
    """Summed task metrics of every completed stage run under ``group``.

    ``task_skew`` is max over median task time of the group's dominant
    stage (largest summed run time), 1.0 when that stage ran one task.
    ``cpu_s`` is JVM executor CPU; Python worker CPU is not in it.
    """
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = {
        "task_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "jobs": float(len(jobs)),
        "tasks": 0.0, "task_skew": 0.0, "shuffle_read_mb": 0.0,
        "shuffle_write_mb": 0.0, "spill_mb": 0.0,
    }
    dominant = None
    for sid in sorted(stage_ids):
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:  # evicted, or never submitted
            continue
        if sd.status().toString() != "COMPLETE":  # SKIPPED: reused shuffle output
            continue
        out["task_s"] += sd.executorRunTime() / 1e3
        out["cpu_s"] += sd.executorCpuTime() / 1e9
        out["gc_s"] += sd.jvmGcTime() / 1e3
        out["tasks"] += sd.numCompleteTasks()
        out["shuffle_read_mb"] += sd.shuffleReadBytes() / _MB
        out["shuffle_write_mb"] += sd.shuffleWriteBytes() / _MB
        out["spill_mb"] += sd.diskBytesSpilled() / _MB
        if dominant is None or sd.executorRunTime() > dominant.executorRunTime():
            dominant = sd
    if dominant is not None:
        out["task_skew"] = 1.0
        if dominant.numCompleteTasks() > 1:
            q = sc._gateway.new_array(sc._jvm.double, 2)
            q[0], q[1] = 0.5, 1.0
            summary = store.taskSummary(dominant.stageId(), dominant.attemptId(), q)
            if summary.isDefined():
                run = summary.get().executorRunTime()
                if run.apply(0) > 0:
                    out["task_skew"] = run.apply(1) / run.apply(0)
    return out


class Tracer:
    """Context manager: wrap the layer entry points, time each layer's
    job-group period, and collect per-layer metrics afterwards."""

    def __init__(self, spark, cores: int, bucket_cap: int) -> None:
        self.sc = spark.sparkContext
        self.cores = cores
        self.bucket_cap = bucket_cap
        self.wall: dict[str, float] = {}
        self.rows: dict[str, int] = {}
        self.counts: dict[str, int] = {}
        self._persisted = []
        self._saved = []
        self._group = None
        self._since = 0.0

    # -- job-group periods ----------------------------------------------
    def enter(self, group: str) -> None:
        now = time.monotonic()
        if self._group is not None:
            self.wall[self._group] = self.wall.get(self._group, 0.0) + now - self._since
        self._group, self._since = group, now
        set_group(self.sc, group)

    def _persist(self, df):
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        self._persisted.append(df)
        return df, df.count()

    def _materialize(self, layer: str, df):
        df, n = self._persist(df)
        self.rows[layer] = self.rows.get(layer, 0) + n
        return df

    # -- wrappers ---------------------------------------------------------
    def _wrap(self, layer: str, fn, before=None, after=None):
        def traced(*args, **kwargs):
            if before is not None:
                args = before(args)
            self.enter(layer)
            out = self._materialize(layer, fn(*args, **kwargs))
            if after is not None:
                after()
            return out

        return traced

    def _count_bands(self, args):
        """Hot-bucket share of the band rows ``candidate_pairs`` receives:
        band rows in buckets larger than ``bucket_cap`` over all band rows."""
        self.enter(TRACE_GROUP)
        bands, cfg, id_col = args[0], args[1], args[2]
        sizes = C.band_buckets(bands, cfg, id_col)
        row = sizes.agg(
            F.sum("bucket_size").alias("all"),
            F.sum(F.when(F.col("bucket_size") > self.bucket_cap, F.col("bucket_size"))
                  .otherwise(0)).alias("hot"),
        ).first()
        self.counts["band_rows"] = int(row["all"] or 0)
        self.counts["hot_band_rows"] = int(row["hot"] or 0)
        return args

    def _count_verified(self, args):
        """The verified pairs reach CC as an argument: count them under
        ``candidates``, which is where verification runs."""
        self.enter("candidates")
        args = list(args)
        args[1], n = self._persist(args[1])
        self.counts["verified"] = self.counts.get("verified", 0) + n
        return tuple(args)

    def _read_container(self, args):
        """``reconstruct_payloads`` gets the lazily read ``.sidp`` spans:
        read them under ``container`` before the replay starts."""
        self.enter("container")
        args = list(args)
        args[0] = self._materialize("container", args[0])
        return tuple(args)

    def _targets(self):
        return [
            (T, "exact_dup_groups", self._wrap("textfns", T.exact_dup_groups)),
            (S, "signature_kernel_arrow", self._wrap("signatures", S.signature_kernel_arrow)),
            (C, "candidate_pairs",
             self._wrap("candidates", C.candidate_pairs, before=self._count_bands)),
            (CL, "clusters_from_pairs",
             self._wrap("clustering", CL.clusters_from_pairs, before=self._count_verified)),
            (SP, "extract_spans", self._wrap("spans", SP.extract_spans)),
            (DD, "ingest", self._wrap("sources", DD.ingest)),
            # the .sidp write follows extract_byte_spans in compress
            (BD, "extract_byte_spans",
             self._wrap("bytedelta", BD.extract_byte_spans,
                        after=lambda: self.enter("container"))),
            (BD, "reconstruct_payloads",
             self._wrap("bytedelta", BD.reconstruct_payloads, before=self._read_container)),
            (SRC, "restore_to_directory", self._wrap("sources", SRC.restore_to_directory)),
        ]

    def __enter__(self) -> "Tracer":
        for mod, name, wrapper in self._targets():
            self._saved.append((mod, name, getattr(mod, name)))
            setattr(mod, name, wrapper)
        self.enter(PIPELINE_GROUP)
        return self

    def stop(self) -> None:
        """End of the timed region: later jobs (output checks) are the
        benchmark's, not a layer's."""
        self.enter(TRACE_GROUP)

    def __exit__(self, *exc) -> None:
        self.stop()
        self._group = None
        for mod, name, fn in reversed(self._saved):
            setattr(mod, name, fn)
        self._saved.clear()
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    # -- results ------------------------------------------------------------
    def layer_metrics(self) -> dict[str, float]:
        out = {}
        for layer in LAYERS[1:]:
            out.update(layer_stats(
                self.sc, layer, self.wall.get(layer, 0.0), self.rows.get(layer, 0), self.cores
            ))
        return out


def layer_stats(sc, layer: str, wall: float, rows: int, cores: int) -> dict[str, float]:
    """Every ``LAYER_METRICS`` entry of one layer, as ``<layer>.<metric>``."""
    stats = group_stats(sc, layer)
    stats["wall_s"] = wall
    stats["rows_out"] = float(rows)
    stats["busy_share"] = stats["task_s"] / (wall * cores) if wall > 0 else 0.0
    return {f"{layer}.{name}": stats[name] for name in LAYER_METRICS}
