"""Spark session lifecycle and host probes for the benchmark.

Everything the benchmark writes (Spark scratch space, JVM temp files,
checkpoints, event logs, traces) lives under ``WORK`` inside the checkout,
so a run reads and writes nothing outside it.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_run"


def prepare_env(run_dir: Path) -> None:
    """Point every temp/scratch location of Python, the JVM and Spark at
    ``run_dir`` and make the repo importable by Spark's Python workers.
    Must run before pyspark starts its JVM."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    # the launcher JVM spark-submit starts before the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))


def start_session(cores: int, run_dir: Path, event_log: bool = False):
    """A ``local[cores]`` session configured like the repo's bench sessions
    (AQE off, Arrow on). The first call launches the JVM; a call after
    ``spark.stop()`` starts a new SparkContext in the same JVM."""
    from pyspark.sql import SparkSession

    tmp = run_dir / "tmp"
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "2g")
        .config("spark.locality.wait", "0")
        .config("spark.local.dir", str(run_dir / "spark-local"))
        .config("spark.sql.warehouse.dir", str(run_dir / "warehouse"))
        # the parallel collector: under G1 round times moved 12-23%
        # between runs of the same code
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:+UseParallelGC")
    )
    if event_log:
        log_dir = run_dir / "eventlog"
        log_dir.mkdir(parents=True, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", log_dir.as_uri())
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def timed_setups(ctx, setup, release, reps: int):
    """Start the run's session and set the workload up ``reps`` times on
    it with ``setup(spark, ctx.seed)``, releasing each set-up but the last
    with ``release(state)`` (untimed). The first repetition's time also
    covers the session start, that is the JVM launch. Returns the session,
    the last state and the repetition times; their median (``setup_s``) is
    a set-up in a warm JVM, the cold first repetition being the slowest."""
    times = []
    t0 = time.perf_counter()
    spark = start_session(ctx.cores, ctx.run_dir, event_log=ctx.event_log)
    state = None
    for i in range(reps):
        if i:
            release(state)
            t0 = time.perf_counter()
        state = setup(spark, ctx.seed)
        times.append(time.perf_counter() - t0)
    return spark, state, times


def shutdown_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM (and with it the Python
    worker daemons it forked) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        if proc is not None:
            try:
                if proc.stdin:
                    proc.stdin.close()
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — last resort: kill, then reap
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def _status_kb(pid: int | str, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> dict:
    """Peak resident memory (VmHWM) of this Python process and of the
    driver JVM, in MiB."""
    pid = jvm_pid()
    return dict(python=_status_kb("self", "VmHWM") / 1024.0,
                jvm=_status_kb(pid, "VmHWM") / 1024.0 if pid is not None else 0.0)


def storage_used_mb(spark) -> float:
    """Spark storage memory currently held by cached blocks, in MiB."""
    status = spark.sparkContext._jsc.sc().getExecutorMemoryStatus()
    it = status.iterator()
    used = 0
    while it.hasNext():
        pair = it.next()._2()
        used += int(pair._1()) - int(pair._2())
    return used / (1 << 20)


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def fresh_dir(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    return path
