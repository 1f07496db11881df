"""Multi-executor scaling evidence on a localhost Spark standalone cluster.

The north rule asks for the identical job at N and 4N *executors* with
throughput scaling efficiency >= 0.8. local[N] mode cannot represent that
faithfully: all N threads share one JVM heap and one process tree.
This harness runs a real standalone master + worker; every executor is
its own JVM with its own heap and its own Python worker — the isolation
a cluster node gives. The package ships via ``spark.submit.pyFiles``
(the actual ``--py-files`` mode the north rule requires).

Round-5 headline convention (VERDICT r04 Next #5 — "1 -> 4 JVMs at fixed
cores-per-JVM, 3 repeated pairs"):

    N  cluster:  1 executor JVM  x 1 core   (+ its Python worker: 2 CPUs)
    4N cluster:  4 executor JVMs x 1 core   (8 CPUs)

Single-core executors are the standard K8s-Spark shape and make the JVM
count the ONLY thing that changes between the halves. Resource model:

* **Executor pool**: the lowest ``2*n_exec*cores`` mask CPUs outside the
  driver node — 2 CPUs per executor core (task thread + Python worker),
  exactly the budget a real worker node allocates. The worker daemon
  launches executors, so it (and everything it forks) is pinned here.
* **Driver node**: the ``DRIVER_NODE_CPUS`` highest CPUs of the affinity
  mask (IDENTICAL at both halves) host the master daemon, the driver JVM
  and driver Python — the separate driver/master node of a real cluster.
  Without this split the constant driver+daemon load eats a 2-CPU N half
  alive and the efficiency ratio measures daemon crowding, not the job
  (the round-4 harness pinned everything into one mask for exactly that
  reason). ``cpu_plan`` splits the mask; one too small for both exits
  before any daemon or probe starts.

Each half runs in a FRESH process (the BENCH/BASELINE.md protocol) and
records a calibration probe taken under the half's own executor mask
(matmul on 1 CPU + aggregate DRAM touch at the half's Python-worker
concurrency), so host drift between repeats is visible in the artifact.

Usage:
    python scripts/scaling_cluster.py half <n_exec> <exec_cores> <corpus> <out.json>
    python scripts/scaling_cluster.py pair <corpus> <tag>   # N then 4N, prints efficiency
    python scripts/scaling_cluster.py campaign <corpus> <n_pairs>  # repeated pairs + notebook table
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import pyspark

from scripts.scaling_data import timed_pipeline

SPARK_DIR = os.path.dirname(pyspark.__file__)
SPARK_CLASS = os.path.join(SPARK_DIR, "bin", "spark-class")
MASTER_URL = "spark://127.0.0.1:7077"
PYFILES_ZIP = os.path.join(REPO, "dist", "imdedup_plus_spark.zip")

#: size of the fixed "driver node": master daemon + driver JVM + driver
#: Python. Same CPUs at BOTH halves so driver capacity is not part of the
#: scaled resource (on a real cluster the driver node does not grow).
DRIVER_NODE_CPUS = 4
#: heap of each executor JVM; the worker offers n_exec times this
EXECUTOR_MEM_GB = 6


def cpu_plan(
    mask: set[int], n_exec: int, exec_cores: int
) -> tuple[set[int], set[int]]:
    """``(driver_cpus, exec_cpus)`` for one half: the driver node is the
    ``DRIVER_NODE_CPUS`` highest CPUs of ``mask``, the executor pool the
    lowest ``2 * n_exec * exec_cores`` of the rest. Exits naming the CPU
    count needed when ``mask`` cannot hold both."""
    cpus = sorted(mask)
    n_pool = 2 * n_exec * exec_cores
    need = DRIVER_NODE_CPUS + n_pool
    if len(cpus) < need:
        raise SystemExit(
            f"scaling_cluster: {n_exec} executor(s) x {exec_cores} core(s) "
            f"need {need} CPUs ({DRIVER_NODE_CPUS} driver node + {n_pool} "
            f"executor pool); the affinity mask has {len(cpus)}"
        )
    return set(cpus[-DRIVER_NODE_CPUS:]), set(cpus[:n_pool])


def _kill_daemons() -> None:
    # kill only java daemons (a naive pkill -f would match any shell whose
    # command line mentions the class name — including our own caller)
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() != "java":
                    continue
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read().decode(errors="replace")
            if "org.apache.spark.deploy" in cmd:
                os.kill(int(pid), signal.SIGKILL)
        except (OSError, ProcessLookupError):
            continue
    time.sleep(2)


def _probe(exec_cpus: set[int], n_workers: int) -> dict:
    """Host-health probe under the half's own executor mask: per-core
    matmul rate (1 CPU) and aggregate DRAM touch at the half's
    Python-worker concurrency — recorded per half so drift between
    repeats is visible (BENCH/BASELINE.md calibration discipline)."""
    import numpy as np

    os.sched_setaffinity(0, {min(exec_cpus)})
    a = np.random.default_rng(0).standard_normal((1024, 1024))
    a @ a
    t0 = time.time()
    for _ in range(10):
        a @ a
    matmul = time.time() - t0

    os.sched_setaffinity(0, exec_cpus)
    # DRAM touch at worker concurrency: n_workers procs each streaming
    # a warmed 256 MB buffer (glibc-reuse env is set by the caller)
    import multiprocessing as mp

    def _stream(q):
        b = np.ones(32 * 1024 * 1024, dtype=np.float64)  # 256 MB
        float(b.sum())  # warm
        t = time.time()
        for _ in range(4):
            float(b.sum())
        q.put(time.time() - t)

    q = mp.get_context("fork").Queue()
    procs = [
        mp.get_context("fork").Process(target=_stream, args=(q,))
        for _ in range(n_workers)
    ]
    t0 = time.time()
    for p in procs:
        p.start()
    times = [q.get() for _ in procs]
    for p in procs:
        p.join()
    # aggregate bandwidth: n_workers * 4 passes * 256 MB / slowest worker
    agg_gbps = n_workers * 4 * 0.25 / max(times)
    return {
        "cpu_matmul_sec": round(matmul, 3),
        "dram_agg_gbps": round(agg_gbps, 1),
        "load_1m": round(os.getloadavg()[0], 2),
    }


def _start_cluster(
    n_exec: int, exec_cores: int, driver_cpus: set[int], exec_cpus: set[int]
) -> list[subprocess.Popen]:
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = "/dev/shm/spark-local"
    env.setdefault("SPARK_NO_DAEMONIZE", "1")
    procs = []
    # master on the driver node
    os.sched_setaffinity(0, driver_cpus)
    procs.append(
        subprocess.Popen(
            [SPARK_CLASS, "org.apache.spark.deploy.master.Master",
             "--host", "127.0.0.1", "--port", "7077", "--webui-port", "8090"],
            stdout=open("/tmp/sc_master.log", "w"), stderr=subprocess.STDOUT, env=env,
        )
    )
    time.sleep(6)
    # worker (and every executor + Python worker it forks) in the pool
    os.sched_setaffinity(0, exec_cpus)
    procs.append(
        subprocess.Popen(
            [SPARK_CLASS, "org.apache.spark.deploy.worker.Worker",
             "--host", "127.0.0.1", "--cores", str(n_exec * exec_cores),
             "--memory", f"{n_exec * EXECUTOR_MEM_GB}g", "--webui-port", "8091", MASTER_URL],
            stdout=open("/tmp/sc_worker.log", "w"), stderr=subprocess.STDOUT, env=env,
        )
    )
    time.sleep(6)
    return procs


def run_half(n_exec: int, exec_cores: int, corpus: str) -> dict:
    driver_cpus, exec_cpus = cpu_plan(os.sched_getaffinity(0), n_exec, exec_cores)
    cores_max = n_exec * exec_cores
    # glibc heap reuse for the numpy kernels (CLAUDE.md page-fault fact);
    # exported before daemons fork so Python workers inherit it
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(1 << 30))
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", str(1 << 30))
    # a leftover daemon from an earlier half would load the probe
    _kill_daemons()
    cal = _probe(exec_cpus, n_workers=cores_max)
    procs = _start_cluster(n_exec, exec_cores, driver_cpus, exec_cpus)
    try:
        # driver JVM + driver Python live on the driver node
        os.sched_setaffinity(0, driver_cpus)
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.appName(f"scaling-{n_exec}x{exec_cores}")
            .master(MASTER_URL)
            .config("spark.executor.cores", str(exec_cores))
            .config("spark.executor.memory", f"{EXECUTOR_MEM_GB}g")
            .config("spark.driver.memory", "4g")
            .config("spark.cores.max", str(cores_max))
            .config("spark.submit.pyFiles", PYFILES_ZIP)
            .config("spark.pyspark.python", sys.executable)
            .config("spark.ui.enabled", "false")
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
            .config("spark.sql.files.maxPartitionBytes", "16m")
            .config("spark.sql.shuffle.partitions", "256")
            # on a loopback cluster every block is "remote enough": the 3s
            # default locality wait makes small-task stages trickle 2-4
            # tasks at a time after a localCheckpoint pins blocks
            .config("spark.locality.wait", "100ms")
            .config("spark.sql.session.timeZone", "UTC")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
        r = timed_pipeline(spark, corpus)
        spark.stop()
        return {
            "cluster": f"{n_exec} executors x {exec_cores} core(s) "
                       f"(cores.max={cores_max})",
            **r,
            "calibration": cal,
        }
    finally:
        for p in procs:
            p.send_signal(signal.SIGTERM)
        _kill_daemons()


def _run_half_proc(n_exec: int, exec_cores: int, corpus: str, out: str) -> dict:
    """Fresh process per half (the notebook's measurement protocol)."""
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "half",
         str(n_exec), str(exec_cores), corpus, out],
        check=True,
    )
    with open(out) as fh:
        return json.load(fh)


def run_pair(corpus: str, tag: str) -> dict:
    nf = os.path.join(REPO, "BENCH", f"cluster5_N_{tag}.json")
    f4 = os.path.join(REPO, "BENCH", f"cluster5_4N_{tag}.json")
    rn = _run_half_proc(1, 1, corpus, nf)
    r4 = _run_half_proc(4, 1, corpus, f4)
    eff = round(r4["docs_per_sec"] / (4 * rn["docs_per_sec"]), 3)
    out = {"N": rn, "4N": r4, "scaling_efficiency": eff}
    print(json.dumps(out, indent=2))
    return out


def campaign(corpus: str, n_pairs: int) -> None:
    pairs = [run_pair(corpus, str(i + 1)) for i in range(n_pairs)]
    effs = [p["scaling_efficiency"] for p in pairs]
    lines = [
        f"\n## Multi-JVM N->4N scaling campaign ({n_pairs} repeated pairs), "
        f"corpus = {pairs[0]['N']['n_docs']} docs\n\n"
        "Real standalone master + worker; executors are separate 1-core/6g\n"
        "JVMs with their own Python workers (2 CPUs each); driver + master\n"
        "pinned to a fixed 4-CPU 'driver node' at BOTH halves; package via\n"
        "spark.submit.pyFiles; fresh process per half; per-half calibration\n"
        "probes under the half's executor mask.\n\n"
        "| pair | N (1 exec) docs/s | 4N (4 exec) docs/s | efficiency | "
        "N matmul/dram | 4N matmul/dram |\n|---|---|---|---|---|---|\n"
    ]
    for i, p in enumerate(pairs):
        cn, c4 = p["N"]["calibration"], p["4N"]["calibration"]
        lines.append(
            f"| {i + 1} | {p['N']['docs_per_sec']} | {p['4N']['docs_per_sec']} "
            f"| **{p['scaling_efficiency']}** "
            f"| {cn['cpu_matmul_sec']}s / {cn['dram_agg_gbps']} GB/s "
            f"| {c4['cpu_matmul_sec']}s / {c4['dram_agg_gbps']} GB/s |\n"
        )
    mean_eff = round(sum(effs) / len(effs), 3)
    lines.append(
        f"\nEfficiencies: {effs} — mean **{mean_eff}**, "
        f"min {min(effs)}, max {max(effs)} (target >= 0.8).\n"
    )
    with open(os.path.join(REPO, "BENCH", "BASELINE.md"), "a") as fh:
        fh.writelines(lines)
    print("".join(lines))


if __name__ == "__main__":
    if sys.argv[1] == "half":
        n_exec, exec_cores = int(sys.argv[2]), int(sys.argv[3])
        corpus, out = sys.argv[4], sys.argv[5]
        r = run_half(n_exec, exec_cores, corpus)
        os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
        with open(out, "w") as fh:
            json.dump(r, fh)
        print(json.dumps(r))
    elif sys.argv[1] == "pair":
        run_pair(sys.argv[2], sys.argv[3])
    elif sys.argv[1] == "campaign":
        campaign(sys.argv[2], int(sys.argv[3]) if len(sys.argv) > 3 else 3)
