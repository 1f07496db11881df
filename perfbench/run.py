"""Benchmark of the dedup pipeline and the directory compress/restore contract.

    python3 perfbench/run.py --workload crawl_neardup --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One process runs one workload as a closed
loop with one client: one job at a time on one warm SparkSession
(``local[<cores from os.sched_getaffinity(0)>]``), a fresh work directory for
every run. It prints one JSON object as its last stdout line: the
end-to-end metrics with ``--trace 0``, the per-layer metrics of one extra
traced run with ``--trace 1``. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.monotonic()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from dataclasses import replace  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import corpus  # noqa: E402
from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.quality import dedup_ratio, recall_precision, xxhash_fold  # noqa: E402

#: workload -> (corpus kind, n_base): ~3,700 crawl documents, ~600 files.
#: The timed run is the first on its session (20-40 s on 4 cores, mostly
#: per-job overhead and JIT warm-up at these sizes); every process also
#: pays JVM start and three set-ups, and 48 of them fit the check budget.
WORKLOADS = {
    "crawl_neardup": ("crawl", 1000),
    "dir_roundtrip": ("dir", 160),
}
SETUPS = 3
RECALL_FLOOR = 0.99
#: do not start another measured run after this many seconds of process time
RUN_DEADLINE_S = 120.0
STATE_DIR = os.path.join(ROOT, ".perfbench")


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def host_sizing() -> tuple[int, str]:
    """(cores, driver heap): cores from the affinity mask, heap a quarter
    of MemTotal (whole GiB, 1..8) — local mode runs every task in it."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return cores, f"{max(1, min(8, kb // (4 << 20)))}g"


def program_digest() -> str:
    """sha256 of the package sources: keys the per-seed fingerprint record."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "imdedup_plus_spark")
    for name in sorted(os.listdir(pkg)):
        if name.endswith(".py"):
            with open(os.path.join(pkg, name), "rb") as fh:
                h.update(name.encode() + fh.read())
    return h.hexdigest()[:16]


class RssSampler:
    """Peak summed RSS of the driver JVM and all its descendants (the
    Python worker daemon and workers), sampled every 0.2 s."""

    def __init__(self, pid: int) -> None:
        self.pid = pid
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree(self) -> list[int]:
        pids, todo = [], [self.pid]
        while todo:
            pid = todo.pop()
            pids.append(pid)
            try:
                for tid in os.listdir(f"/proc/{pid}/task"):
                    with open(f"/proc/{pid}/task/{tid}/children") as fh:
                        todo.extend(int(c) for c in fh.read().split())
            except OSError:  # exited while walking
                pass
        return pids

    def _rss_kb(self, pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def _loop(self) -> None:
        while not self._stop.wait(0.2):
            self.peak_kb = max(self.peak_kb, sum(self._rss_kb(p) for p in self._tree()))

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def _warm_workers(batches):
    """One task per core: start a Python worker, import the kernels."""
    import pandas as pd

    from imdedup_plus_spark import bytedelta, container, signatures, spans  # noqa: F401

    for pdf in batches:
        yield pd.DataFrame({"n": [len(pdf)]})


class Bench:
    def __init__(self, workload: str, seed: int) -> None:
        from imdedup_plus_spark.config import REFERENCE_CONFIG, SCALE_CONFIG

        self.workload = workload
        self.kind, self.n_base = WORKLOADS[workload]
        self.cfg = (
            replace(SCALE_CONFIG, exact_prepass=True)
            if self.kind == "crawl" else REFERENCE_CONFIG
        )
        self.seed = seed
        self.cores, heap = host_sizing()
        self.run_dir = os.path.join(STATE_DIR, "run")
        # this benchmark's own Spark local dir, work dirs and temp files
        shutil.rmtree(self.run_dir, ignore_errors=True)
        tmp = os.path.join(self.run_dir, "tmp")
        os.makedirs(tmp)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = heap
        os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(self.run_dir, "spark-local")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["TMPDIR"] = tmp
        self.extra_conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
        t = time.monotonic()
        self.input, self.truth, self.corpus_hash = corpus.cached(
            os.path.join(STATE_DIR, "cache"), self.kind, seed, self.n_base
        )
        self.gen_s = time.monotonic() - t
        self.fp_record = os.path.join(
            STATE_DIR, "cache",
            f"fingerprint-{workload}-v{corpus.GEN_VERSION}-s{seed}-{program_digest()}",
        )
        self.spark = None
        self.tracer = None
        self.docs = None
        self.loaded = 0
        self.fingerprint = None
        self.n_iter = 0
        self.attempted = 0
        self.failed = 0

    # -- set-up -------------------------------------------------------------
    def setup(self, since: float) -> float:
        """Session ready and input loaded (crawl: read, cached and counted;
        dir: listed and read once); returns the wall time from ``since``."""
        from imdedup_plus_spark.session import get_spark
        from perfbench.trace import set_group

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{self.cores}]",
            shuffle_partitions=2 * self.cores,
            extra_conf=self.extra_conf,
        )
        sc = self.spark.sparkContext
        sc.setLogLevel("ERROR")
        set_group(sc, "session")
        if self.kind == "crawl":
            self.docs = self.spark.read.parquet(self.input).cache()
            self.loaded = self.docs.count()
        else:
            self.loaded = (
                self.spark.read.format("binaryFile")
                .option("recursiveFileLookup", "true")
                .load(self.input)
                .count()
            )
        if self.loaded != len(self.truth.group):
            raise RuntimeError(f"loaded {self.loaded} inputs, generated {len(self.truth.group)}")
        wall = time.monotonic() - since
        set_group(sc, "bench")
        return wall

    # -- one run ------------------------------------------------------------
    def crawl_run(self, work: str) -> dict:
        from pyspark.sql import functions as F

        from imdedup_plus_spark.pipeline import CheckpointedPipeline

        t = time.monotonic()
        pipe = CheckpointedPipeline(self.spark, work, self.cfg, id_col="url")
        pipe.run(self.docs)
        wall = time.monotonic() - t
        self._end_timed()

        read = lambda stage: self.spark.read.parquet(os.path.join(work, stage))  # noqa: E731
        assign = {r["url"]: r["cluster_id"] for r in read("clusters").collect()}
        verified = read("verified_pairs")
        summary = read("span_summary").agg(
            F.sum("copied_tokens").alias("copied"), F.sum("inserted_tokens").alias("inserted")
        ).first()
        inserted = int(summary["inserted"] or 0)
        copied = int(summary["copied"] or 0)
        reps = read("exact_groups").where(F.col("url") == F.col("exact_rep")).count()
        recall, precision = recall_precision(assign, self.truth)
        return {
            "wall": wall,
            "docs_per_s": len(self.truth.group) / wall,
            "recall": recall,
            "precision": precision,
            "dedup_ratio": dedup_ratio(assign, self.truth, inserted),
            "fingerprint": (
                f"{verified.count()}-{xxhash_fold(verified, 'id_a', 'id_b'):016x}"
                f"-{xxhash_fold(read('clusters'), 'url', 'cluster_id'):016x}"
            ),
            "rep_share": reps / len(self.truth.group),
            "copy_share": copied / max(copied + inserted, 1),
            "lineage": {rec["stage"]: rec["wall_sec"] for rec in pipe.lineage()},
        }

    def dir_run(self, work: str) -> dict:
        from pyspark.sql import functions as F

        from imdedup_plus_spark import dirdedup as DD

        store, out = os.path.join(work, "store"), os.path.join(work, "out")
        t = time.monotonic()
        metrics = DD.compress(self.spark, self.input, store)
        t_compress = time.monotonic() - t
        t = time.monotonic()
        restored = DD.restore(self.spark, store, out)
        t_restore = time.monotonic() - t
        self._end_timed()

        n_files = len(self.truth.group)
        bad = DD.check(self.spark, self.input, out).where("NOT byte_identical").count()
        on_disk = sum(len(fn) for _dp, _dn, fn in os.walk(out))
        names = self.spark.read.parquet(os.path.join(store, "names.parquet"))
        rows = {r["doc_id"]: r for r in names.collect()}

        def cluster(doc_id):
            r = rows[doc_id]
            if r["role"] == DD.ROLE_EXACT:
                return cluster(r["ref_id"])
            return r["ref_id"] if r["role"] == DD.ROLE_DELTA else doc_id

        assign = {r["rel"]: rows[cluster(d)]["rel"] for d, r in rows.items()}
        recall, precision = recall_precision(assign, self.truth)
        clusters = self.spark.createDataFrame(list(assign.items()), "rel string, cluster string")
        refs = names.select(F.col("doc_id").alias("ref_id"), F.col("rel").alias("ref_rel"))
        linked = names.where(F.col("role") != DD.ROLE_STORED).join(refs, "ref_id")
        wall = t_compress + t_restore
        if bad or on_disk != n_files or restored != n_files:
            log(f"restore check: {bad} differing, {on_disk} on disk, "
                f"{restored} restored of {n_files}")
        return {
            "wall": wall,
            "docs_per_s": n_files / wall,
            "recall": recall,
            "precision": precision,
            "dedup_ratio": float(metrics["ratio"]),
            "fingerprint": (
                f"{linked.count()}-{xxhash_fold(linked, 'rel', 'role', 'ref_rel'):016x}"
                f"-{xxhash_fold(clusters, 'rel', 'cluster'):016x}"
            ),
            "restore_ok": bad == 0 and on_disk == n_files and restored == n_files,
            "compress_s": t_compress,
            "restore_s": t_restore,
        }

    def _end_timed(self) -> None:
        if self.tracer is not None:
            self.tracer.stop()

    def one_run(self) -> dict | None:
        """One closed-loop run plus its correctness gate; ``None`` if it
        raised or failed the gate (counted in ``failed``)."""
        self.attempted += 1
        work = os.path.join(self.run_dir, "work", f"run{self.n_iter}")
        self.n_iter += 1
        try:
            res = (self.crawl_run if self.kind == "crawl" else self.dir_run)(work)
        except Exception:  # a failed run is a data point, not a crash
            log(traceback.format_exc())
            self.failed += 1
            return None
        finally:
            shutil.rmtree(work, ignore_errors=True)
        if res["recall"] < RECALL_FLOOR:
            log(f"recall {res['recall']:.6f} below the {RECALL_FLOOR} floor")
        ok = res.get("restore_ok", True) and res["recall"] >= RECALL_FLOOR
        if not (self._check_fingerprint(res["fingerprint"]) and ok):
            self.failed += 1
            return None
        return res

    def _check_fingerprint(self, fp: str) -> bool:
        """Identical across runs of a seed: within this process, and
        against the record an earlier process left for this seed and
        program version."""
        if self.fingerprint is None:
            self.fingerprint = fp
            if os.path.exists(self.fp_record):
                with open(self.fp_record) as fh:
                    self.fingerprint = fh.read().strip()
            else:
                tmp = f"{self.fp_record}.tmp{os.getpid()}"
                with open(tmp, "w") as fh:
                    fh.write(fp)
                os.replace(tmp, self.fp_record)
        if fp != self.fingerprint:
            log(f"fingerprint {fp} differs from {self.fingerprint}")
            return False
        return True

    # -- driver ---------------------------------------------------------------
    def measure(self, seconds: float, trace: bool) -> dict:
        from perfbench import trace as TR

        setups = [self.setup(T_PROCESS) - self.gen_s]
        for _ in range(SETUPS - 1):
            setups.append(self.setup(time.monotonic()))
        log(f"set-up s: {[round(s, 3) for s in setups]} (first includes JVM launch)")
        # session.* from the jobs of the last set-up (job group "session")
        session = TR.layer_stats(
            self.spark.sparkContext, "session", setups[-1], self.loaded, self.cores
        )

        gateway_pid = self.spark.sparkContext._gateway.proc.pid
        # Python workers started and the kernels' modules imported; the JIT
        # stays cold (see README: a batch job pays that on every run)
        self.spark.range(0, self.cores, 1, self.cores).mapInPandas(
            _warm_workers, "n long"
        ).collect()
        runs = []
        start = time.monotonic()
        while True:
            res = self.one_run()
            if res is not None:
                runs.append(res)
                sides = (f" (compress {res['compress_s']:.3f} s, restore {res['restore_s']:.3f} s)"
                         if "compress_s" in res else "")
                log(f"run: {res['wall']:.3f} s{sides} fingerprint {res['fingerprint']}")
            done = time.monotonic()
            if done - start >= seconds or done - T_PROCESS >= RUN_DEADLINE_S:
                break
        if not runs:
            raise RuntimeError("no measured run passed its correctness gate")
        print(f"fingerprint {self.workload} seed={self.seed}: {self.fingerprint}", flush=True)
        med = lambda k: statistics.median(r[k] for r in runs)  # noqa: E731
        if not trace:
            return {
                "docs_per_s": med("docs_per_s"),
                "recall": med("recall"),
                "precision": med("precision"),
                "dedup_ratio": med("dedup_ratio"),
                "setup_s": statistics.median(setups),
            }

        # One traced run, then one untraced run for its overhead: the later
        # run has the warmer JIT, so the ratio errs high. Peak RSS is kept
        # here, unbounded: it varies by 10% from process to process.
        with RssSampler(gateway_pid) as rss:
            with TR.Tracer(self.spark, self.cores, self.cfg.bucket_cap) as tracer:
                self.tracer = tracer
                res = self.one_run()
            self.tracer = None
            after = self.one_run()
        if res is None or after is None:
            raise RuntimeError("the traced run or the run after it failed its correctness gate")
        props = self.truth.properties()
        counts = tracer.counts
        metrics = dict(session)
        metrics.update(tracer.layer_metrics())
        metrics.update({
            "session.jvm_start_s": setups[0],
            "pipeline.wall_s": tracer.wall.get(TR.PIPELINE_GROUP, 0.0),
            "pipeline.peak_rss_mb": rss.peak_kb / 1024,
            "textfns.rep_share": res.get("rep_share", 0.0),
            "candidates.keep_rate": counts.get("verified", 0) / max(tracer.rows.get("candidates", 0), 1),
            "spans.copy_share": res.get("copy_share", 0.0),
            "input.docs": float(props["docs"]),
            "input.near_dup_share": props["near_dup_share"],
            "input.exact_dup_share": props["exact_dup_share"],
            "input.mean_tokens": props["mean_tokens"],
            "input.hot_bucket_share": counts.get("hot_band_rows", 0) / max(counts.get("band_rows", 0), 1),
            "tracing.overhead_ratio": res["wall"] / after["wall"],
        })
        if "lineage" in res:
            for stage, layer in (("exact_groups", "textfns"), ("signatures", "signatures"),
                                 ("verified_pairs", "candidates"), ("clusters", "clustering"),
                                 ("spans", "spans")):
                log(f"lineage {stage}: {res['lineage'].get(stage)} s, "
                    f"layer {layer}: {tracer.wall.get(layer, 0.0):.3f} s")
        log(f"traced {res['wall']:.3f} s, untraced {after['wall']:.3f} s")
        return metrics

    def close(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = gateway.proc
        self.spark.stop()
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
        shutil.rmtree(os.path.join(self.run_dir, "work"), ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import imdedup_plus_spark
    except ImportError as e:
        log(f"the program is not in this checkout: {e}")
        return 2
    if not os.path.abspath(imdedup_plus_spark.__file__).startswith(ROOT + os.sep):
        log(f"imdedup_plus_spark resolves outside the checkout: {imdedup_plus_spark.__file__}")
        return 2

    bench = Bench(args.workload, args.seed)
    print(f"corpus {args.workload} seed={args.seed}: {bench.corpus_hash}", flush=True)
    try:
        metrics = bench.measure(args.seconds, bool(args.trace))
    finally:
        bench.close()
    declared = PER_LAYER if args.trace else END_TO_END
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, (u, _) in declared.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
