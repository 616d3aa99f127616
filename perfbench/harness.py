"""Process plumbing: the work directory inside the checkout, the Spark
session, the resident-memory sampler, a shutdown that waits for the JVM
to exit, and a reaper that waits for every other process the run
started."""

from __future__ import annotations

import ctypes
import os
import shutil
import signal
import subprocess
import threading
import time

CORES = 4
DRIVER_MEMORY = "2g"


class WorkDir:
    """``<checkout>/.perfbench/<workload>-<seed>-t<trace>/``, emptied on
    entry. Spark scratch space, temp files and the event log live here so
    a run reads and writes only inside its checkout."""

    def __init__(self, root: str, name: str):
        self.base = os.path.join(root, ".perfbench")
        self.path = os.path.join(self.base, name)
        shutil.rmtree(self.path, ignore_errors=True)
        for sub in ("tmp", "spark-local", "eventlog"):
            os.makedirs(os.path.join(self.path, sub))
        self.results = os.path.join(self.base, "results")
        os.makedirs(self.results, exist_ok=True)

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def cleanup(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def isolate_temp(work: WorkDir) -> None:
    """Point every temp-file user (Python, the JVM via TMPDIR-aware
    launchers, Python workers, Spark's scratch space, which an inherited
    ``SPARK_LOCAL_DIRS`` would otherwise override) at the work directory.
    Call before pyspark starts."""
    os.environ["TMPDIR"] = work.sub("tmp")
    os.environ["SPARK_LOCAL_DIRS"] = work.sub("spark-local")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def start_session(work: WorkDir, traced: bool):
    """The benchmark's session, created through the package's own
    ``get_spark`` with the benchmark's settings layered on top."""
    from cs_search_engine_architecture_spark.session import get_spark

    tmp = work.sub("tmp")
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": work.sub("spark-local"),
        # the heap starts at its maximum, so how far it has grown does
        # not differ from run to run with GC timing
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEMORY}"
        ),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": work.sub("warehouse"),
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + work.sub("eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(
        app_name="perfbench", master=f"local[{CORES}]", extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, close the gateway and wait until the JVM (and with it
    its Python workers) has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Adopt orphaned descendants. The JVM starts PySpark's worker daemon,
    which forks the Python workers; when the JVM exits first they
    re-parent to this process instead of to init, so ``reap_children``
    can stop them and wait for them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _child_pids() -> list[int]:
    me, kids = os.getpid(), []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the field after the parenthesised command is the state, then ppid
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            kids.append(int(name))
    return kids


def reap_children(term_after: float = 10.0, kill_after: float = 20.0,
                  give_up_after: float = 60.0) -> None:
    """Wait until no child of this process is left, zombies included.
    Children still running after ``term_after`` seconds get SIGTERM,
    after ``kill_after`` seconds SIGKILL; after ``give_up_after`` seconds
    it raises rather than hang. With ``become_subreaper`` in
    force this covers every descendant: a grandchild whose parent has
    ended is a child by then."""
    t0 = time.monotonic()
    signalled: dict[int, int] = {}
    while True:
        live = []
        for pid in _child_pids():
            try:
                done, _ = os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                done = pid
            if not done:
                live.append(pid)
        if not live:
            return
        waited = time.monotonic() - t0
        if waited >= give_up_after:
            raise RuntimeError(f"child processes did not exit: {live}")
        sig = (signal.SIGKILL if waited >= kill_after
               else signal.SIGTERM if waited >= term_after else None)
        for pid in live:
            if sig is not None and signalled.get(pid) != sig:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
                signalled[pid] = sig
        time.sleep(0.05)


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks of all CPUs since boot, from ``/proc/stat``.
    On a virtual machine, steal is time the host gave to other guests; a
    run with a high steal share was slowed from outside."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:9]]
    return fields[7], sum(fields)


def steal_frac(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[1] - start[1]
    return (end[0] - start[0]) / total if total else 0.0


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak of (driver Python + JVM) resident memory, sampled from
    ``/proc`` every ``interval`` seconds on a daemon thread."""

    def __init__(self, pids, interval: float = 0.25):
        self.pids = [p for p in pids if p]
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in self.pids))

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def dir_bytes(path: str, skip: tuple[str, ...] = ()) -> int:
    total = 0
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = [d for d in dirnames if d not in skip]
        for f in filenames:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total
