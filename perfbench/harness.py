"""Run-level plumbing: the checkout-local work area, the Spark session and its
shutdown, the process-tree peak-memory sampler and the result line.

Everything a run writes goes under ``<checkout>/.perfbench_work/run-*``:
Spark's local dirs, the JVM and Python temp dirs, the event log, the seeded
inputs and the stage store. The run removes its directory when it ends.
"""

from __future__ import annotations

import json
import os
import signal
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

#: Cores of this process's CPU set; the session is local[NPROC] with
#: NPROC shuffle partitions and nothing else running beside it.
NPROC = len(os.sched_getaffinity(0))

#: Driver heap, fixed in size (-Xms = -Xmx). The inputs are a few hundred MB
#: at most; a small heap that never resizes keeps the JVM's resident size
#: and GC behaviour alike between runs, and the box's shared memory free.
DRIVER_MEM = "2g"


def prepare_environment(run_dir: str) -> None:
    """Point every temp and spill location of this process and its children
    (JVM, Python workers) into the run directory. Must run before pyspark
    starts the JVM."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # Python workers import the package from the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    import tempfile

    tempfile.tempdir = tmp


def start_spark(run_dir: str, event_log: bool):
    """local[NPROC] session through the package's own factory. With
    `event_log`, Spark writes one plain-JSON event log per run (rolling and
    compression off: Spark 4's default rolling zstd directory is not plain
    JSON) for trace.rollup()."""
    from docprocai_service_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if event_log:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(
        app_name="perfbench", cores=NPROC, shuffle_partitions=NPROC, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit. The gateway JVM exits
    when its stdin closes; pyspark would otherwise leave that to interpreter
    exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def descendants(root_pid: int) -> list[int]:
    """All live descendants of `root_pid`, from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may contain spaces; ppid is the 2nd field after the ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def reap_descendants(timeout: float = 30.0) -> None:
    """Terminate and wait for anything this process started that is still
    alive (a Python worker daemon that outlived its JVM, say)."""
    me = os.getpid()
    left = descendants(me)
    for pid in left:
        try:
            os.kill(pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.time() + timeout
    while left and time.time() < deadline:
        for pid in list(left):
            try:
                done, _ = os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:  # not our direct child: poll /proc
                done = pid if not os.path.exists(f"/proc/{pid}") else 0
            if done:
                left.remove(pid)
        time.sleep(0.05)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


class RssSampler:
    """Peak resident memory of this process and all its descendants (driver,
    JVM, Python workers): the sum over processes of each one's peak resident
    set (VmHWM in /proc/<pid>/status). The kernel keeps that peak, so a
    spike between two samples still counts and the figure does not depend on
    when the samples fall; a process that has exited keeps the peak last
    read for it. Reading status does not walk the page tables, so sampling
    every `period` s leaves the measured run undisturbed."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self._peaks: dict[int, int] = {}  # pid → VmHWM bytes
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        for pid in [me, *descendants(me)]:
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            self._peaks[pid] = int(line.split()[1]) * 1024
                            break
            except (OSError, ValueError):
                continue  # the process ended between listing and reading

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return sum(self._peaks.values()) / (1 << 20)


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def emit(correct: bool, attempted: int, failed: int, metrics: dict[str, tuple[float, str]]) -> None:
    """The result: one JSON object as the last line of stdout."""
    doc = {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    sys.stdout.flush()
    print(json.dumps(doc), flush=True)


def detail(name: str, value, unit: str, note: str = "") -> None:
    """A named figure on its own stdout line, before the result line."""
    print(f"  {name} = {value} {unit}" + (f"  [{note}]" if note else ""), flush=True)

