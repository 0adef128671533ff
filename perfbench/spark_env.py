"""Spark session lifecycle, sized for the host, with every file it writes
kept inside the benchmark's work directory and Python workers importing
``genie_spark`` from the checkout under test."""

from __future__ import annotations

import os
from types import SimpleNamespace

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# a small heap keeps the JVM's peak RSS, which grows with the heap the
# collector lets it take, close to the same figure from run to run
DRIVER_MEMORY = "1g"
# the traced run reads stage and task figures back from the status
# store; keep every one of them for the life of the context
_RETAIN = "1000000"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def conf(work_dir: str) -> SparkConf:
    local = os.path.join(work_dir, "spark-local")
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    return (
        SparkConf()
        .setMaster(f"local[{cpus()}]")
        .setAppName("genie-spark-perfbench")
        .set("spark.driver.memory", DRIVER_MEMORY)
        .set("spark.ui.enabled", "false")
        .set("spark.ui.showConsoleProgress", "false")
        .set("spark.ui.retainedJobs", _RETAIN)
        .set("spark.ui.retainedStages", _RETAIN)
        .set("spark.ui.retainedTasks", _RETAIN)
        .set("spark.local.dir", local)
        .set("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .set("spark.executorEnv.PYTHONPATH", ROOT)
        .set("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}")
    )


def prepare_environment(work_dir: str) -> None:
    """Environment the JVM and its Python workers inherit: the checkout
    first on PYTHONPATH, temp files inside the work directory."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    rest = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + rest if rest else "")
    os.environ["TMPDIR"] = tmp


def start(work_dir: str) -> SparkSession:
    """A fresh SparkContext, then the pipeline's own session settings
    (``run_pipeline.build_session``) on top of it. After ``spark.stop()``
    the JVM stays up and the next call creates a new context in it, with
    new Python workers."""
    import run_pipeline

    SparkContext(conf=conf(work_dir))
    spark = run_pipeline.build_session(SimpleNamespace(cpus=cpus()))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """End the gateway JVM and wait for it: it exits when its stdin
    closes."""
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:  # the process ended between listing and reading
        pass
    return 0


def _descendants(root: int) -> list:
    children: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def peak_rss_mb() -> float:
    """Summed peak RSS (VmHWM) of this driver process, the JVM and every
    Python worker below the JVM. Each benchmark run is its own process
    with its own JVM, and inputs are generated in another process, so the
    figure covers one workload's set-up and timed window and nothing
    else."""
    pids = [os.getpid()]
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if proc is not None:
        pids += _descendants(proc.pid)
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024.0
