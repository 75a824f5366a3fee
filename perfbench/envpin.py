"""Environment pinning: where the benchmark writes, how Spark is sized,
and the record of what it ran on.

All files the benchmark writes (inputs, staged output, Spark scratch,
event logs, temp files) live under ``<root>/.perfbench_run``; traced runs
also leave their spans file under ``<root>/.perfbench_out``.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = "kafka_to_nexus_spark"
MAX_SLOTS = 2  # local[N] never exceeds this, so figures compare across boxes


def require_package() -> None:
    """Fail fast when the engine's source is not beside the benchmark."""
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        raise SystemExit(f"perfbench: no {PACKAGE}/ package under {ROOT}")


def slots() -> int:
    """Half the cores: the other half is left to the Python driver, its
    workers and the JVM's compiler and GC threads. Over five alternating
    pairs of runs on a 4-core box, local[2] against local[4] narrowed the
    quartile spread of every filewriter metric (job_s 0.16 to 0.13,
    batch_latency_p50_s 0.12 to 0.10, docs_per_s 0.13 to 0.08) at 4-11%
    more latency; llm moved within its noise."""
    cores = min(os.cpu_count() or 1, len(os.sched_getaffinity(0)))
    return max(1, min(cores // 2, MAX_SLOTS))


def driver_memory() -> str:
    """A driver heap fitted to the box: an eighth of physical memory,
    clamped to [1 GiB, 3 GiB]."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mb = int(min(max(total / 8 / 2**20, 1024), 3072))
    return f"{mb}m"


class RunDirs:
    """Per-process scratch under the checkout, removed on close."""

    def __init__(self, tag: str) -> None:
        self.base = ROOT / ".perfbench_run" / f"{tag}-{os.getpid()}"
        shutil.rmtree(self.base, ignore_errors=True)
        self.base.mkdir(parents=True)
        self.tmp = self.base / "tmp"
        self.tmp.mkdir()

    def path(self, *parts: str) -> str:
        return str(self.base.joinpath(*parts))

    def close(self) -> None:
        shutil.rmtree(self.base, ignore_errors=True)
        try:
            self.base.parent.rmdir()
        except OSError:
            pass


def pin_process_env(dirs: RunDirs) -> None:
    """Environment every child (the JVM, its Python workers) inherits:
    the engine importable from any cwd, temp files inside the checkout."""
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = str(dirs.tmp)
    os.environ["SPARK_LOCAL_DIRS"] = dirs.path("spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(slots())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_memory()
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = str(dirs.tmp)


def start_session(dirs: RunDirs, event_log: bool, jvm_opts: str = ""):
    """The engine's own session factory, with N, memory and scratch pinned
    (``jvm_opts``: the workload's own JVM flags). Returns (spark, seconds
    taken)."""
    from kafka_to_nexus_spark.session import get_spark

    # a fixed-size heap (-Xms = the -Xmx spark.driver.memory sets): no heap
    # resizing during the run, so memory and GC figures repeat
    java_opts = (f"-Djava.io.tmpdir={dirs.tmp} -XX:-UsePerfData {jvm_opts} "
                 f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": dirs.path("spark-local"),
        "spark.sql.warehouse.dir": dirs.path("warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
    }
    if event_log:
        os.makedirs(dirs.path("eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + dirs.path("eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    n = slots()
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n,
        extra_conf=conf,
    )
    spark.range(1).count()  # the gateway and first job are part of start-up
    return spark, time.perf_counter() - t0


def record(spark) -> dict:
    import pyarrow
    import pyspark

    from kafka_to_nexus_spark.sinks import hdf5

    return {
        "nproc": os.cpu_count(),
        "slots": slots(),
        "master": spark.sparkContext.master,
        "driver_memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
        "jvm_args": [str(a) for a in spark.sparkContext._jvm.java.lang.management
                     .ManagementFactory.getRuntimeMXBean().getInputArguments()
                     if str(a).startswith("-X")],
        "hdf5_backend": hdf5_backend(hdf5),
    }


def hdf5_backend(hdf5_module) -> str:
    return "hdf5lib" if hdf5_module._h5.__name__.endswith("hdf5lib") else "h5py"


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers it
    forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - last resort: never leave the JVM behind
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None


def process_start() -> float:
    """Epoch seconds at which this process started."""
    ticks = os.sysconf("SC_CLK_TCK")
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / ticks


class RssSampler:
    """Peak memory of this process and all its descendants (the JVM and
    its Python workers), sampled on a background thread. Each process
    counts its proportional set size, so pages that forked Python workers
    share with their parent are counted once, not once per worker."""

    def __init__(self, interval: float = 0.2) -> None:
        import threading

        self.interval, self.peak_mb = interval, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="perfbench-rss", daemon=True)

    @staticmethod
    def tree_rss_mb() -> float:
        parent = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
        me, total_kb = os.getpid(), 0
        for pid in parent:
            p = pid
            while p > 1 and p != me:
                p = parent.get(p, 0)
            if p != me:
                continue
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    total_kb += next(int(line.split()[1]) for line in f
                                     if line.startswith("Pss:"))
            except (OSError, StopIteration):
                continue
        return total_kb / 1024

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, self.tree_rss_mb())
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, self.tree_rss_mb())
