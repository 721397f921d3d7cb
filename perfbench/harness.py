"""Session lifecycle, timing, host record and summary statistics shared by
the workloads.

Everything the benchmark writes lives under ``.perfbench_work/`` in the
checkout: staged inputs, Spark's local and temp directories, sinks, event
logs and per-run records.  The engine is used only through
``geedim_spark.session.get_session`` with the library defaults; the confs
the benchmark adds are the ones in :func:`bench_conf`, :func:`trace_conf`
and a workload's ``SESSION_CONF`` (listed again in ``perfbench/plan.json``).
"""

from __future__ import annotations

import glob
import json
import os
import platform
import shutil
import subprocess
import sys
import threading

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


def work_dir(*parts: str) -> str:
    path = os.path.join(WORK, *parts)
    os.makedirs(path, exist_ok=True)
    return path


def cpu_count() -> int:
    """Cores the host gives this process: ``env -u OMP_NUM_THREADS nproc``."""
    env = {k: v for k, v in os.environ.items() if k != "OMP_NUM_THREADS"}
    out = subprocess.run(["nproc"], env=env, capture_output=True, text=True,
                         check=True)
    return int(out.stdout.strip())


def prepare_env() -> None:
    """Point Python workers at the checkout and keep every temp file inside
    it.  Must run before the first session starts the JVM."""
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(dict.fromkeys(paths))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = work_dir("tmp")
    os.environ["SPARK_LOCAL_DIRS"] = work_dir("local")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def bench_conf() -> dict:
    """Confs the benchmark adds to the library defaults, in every session:
    temp and shuffle files stay in the checkout, no progress bar, and a
    fixed-size driver heap."""
    return {
        "spark.local.dir": work_dir("local"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work_dir('tmp')} -XX:-UsePerfData -Xms3g",
        "spark.sql.warehouse.dir": work_dir("warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # the library's 8g driver heap grew to ~9 GB of RSS on the catalogue
        # requests and the benchmark host is shared, so cap it; -Xms above
        # sizes the heap up front, which took the heap-growth trend out of
        # the first timed units
        "spark.driver.memory": "3g",
    }


def trace_conf(log_dir: str) -> dict:
    """Confs of the traced session only: an uncompressed event log."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
    }


def open_session(extra: dict | None = None):
    from geedim_spark.session import get_session

    conf = bench_conf()
    conf.update(extra or {})
    return get_session("perfbench", master=f"local[{cpu_count()}]",
                       extra_conf=conf)


# ---------------------------------------------------------------------------
# failures: exceptions, wrong outputs and task retries
# ---------------------------------------------------------------------------

def retried_tasks(spark, group: str) -> int:
    """Failed task attempts plus re-attempted stages in one job group, from
    the status tracker (works with the UI off)."""
    st = spark.sparkContext.statusTracker()
    bad = 0
    for jid in st.getJobIdsForGroup(group):
        job = st.getJobInfo(jid)
        if job is None:
            continue
        for sid in job.stageIds:
            stage = st.getStageInfo(sid)
            if stage is not None:
                bad += stage.numFailedTasks + stage.currentAttemptId
    return bad


class Outcome:
    """Operations attempted and failed in one run, with the reasons."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def record(self, ok: bool, reason: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.reasons.append(reason)


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------

def median(values: list[float]) -> float:
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("median of no values")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile) by nearest rank; with fewer than eleven samples,
    the slowest one (percentile 100)."""
    s = sorted(values)
    n = len(s)
    if n < 11:
        return s[-1], 100.0
    k = n - 10  # 1-based rank: ten samples rank above it
    return s[k - 1], 100.0 * k / n


# ---------------------------------------------------------------------------
# memory: peak summed RSS of the driver JVM and its Python workers
# ---------------------------------------------------------------------------

def _proc_tree_rss(root_pid: int) -> int:
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process ended while we listed it
        pid = int(stat.split("/")[2])
        children.setdefault(int(fields[1]), []).append(pid)
        rss[pid] = int(fields[21]) * page
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Samples the JVM process tree every ``interval`` seconds in a thread."""

    def __init__(self, jvm_pid: int, interval: float = 0.2) -> None:
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, _proc_tree_rss(self.jvm_pid))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, _proc_tree_rss(self.jvm_pid))


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def shutdown(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to exit
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)


# ---------------------------------------------------------------------------
# host record
# ---------------------------------------------------------------------------

def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _source_id() -> str:
    """git SHA when the checkout is a repository, else a digest of the
    engine's source files (the benchmark's checkout carries no .git)."""
    if os.path.isdir(os.path.join(ROOT, ".git")):
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    import hashlib

    h = hashlib.sha1()
    for path in sorted(glob.glob(os.path.join(ROOT, "geedim_spark", "**", "*.py"),
                                 recursive=True)):
        with open(path, "rb") as f:
            h.update(f.read())
    return "tree-" + h.hexdigest()[:12]


def host_probe_s(tasks: int = 400) -> float:
    """Engine-free control: seconds for the headline kernel's per-image
    work under plain multiprocessing (scripts/host_scaling_probe.run),
    timed in the same minutes as the run."""
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    try:
        import host_scaling_probe
    finally:
        sys.path.pop(0)
    workers = min(4, cpu_count())
    return tasks / host_scaling_probe.run(workers, tasks)


class HostRecord:
    """nproc, loadavg, CPU-steal delta, source id, library versions and the
    engine-free probe, around one run."""

    def __init__(self) -> None:
        import numpy
        import pyarrow
        import pyspark

        self.probe_s = host_probe_s()
        self._t0 = _cpu_times()
        self.info = {
            "nproc": cpu_count(),
            "loadavg_start": os.getloadavg()[0],
            "source": _source_id(),
            "python": platform.python_version(),
            "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "numpy": numpy.__version__,
            "probe_s": self.probe_s,
        }

    def finish(self) -> dict:
        t1 = _cpu_times()
        delta = [b - a for a, b in zip(self._t0, t1)]
        steal = delta[7] if len(delta) > 7 else 0
        self.info["loadavg_end"] = os.getloadavg()[0]
        self.info["steal_share"] = steal / max(1, sum(delta))
        return self.info


def write_record(name: str, record: dict) -> str:
    path = os.path.join(work_dir("runs"), name + ".json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True, default=str)
    return path


def remove_tree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
