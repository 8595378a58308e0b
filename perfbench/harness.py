"""Process-level plumbing shared by the workloads: the Spark session and
its shutdown, the peak-RSS window, and the machine probes (CPU steal and
the calibration loop).

Everything a run writes goes under ``perfbench/_work`` inside the checkout
(Spark scratch, JVM temp files, checkpoints, generated tables, event
logs, result files); nothing is written elsewhere.
"""

from __future__ import annotations

import os
import shutil
import signal
import statistics
import time


class Workdir:
    """The run's private directory tree under ``<checkout>/perfbench/_work``."""

    def __init__(self, checkout: str, tag: str):
        root = os.path.join(checkout, "perfbench", "_work")
        self.scratch = os.path.join(root, f"scratch-{tag}-{os.getpid()}")
        self.out = os.path.join(root, "out")
        for d in (self.scratch, self.out):
            os.makedirs(d, exist_ok=True)

    def dir(self, *parts: str) -> str:
        """A fresh directory under the run's scratch tree."""
        p = os.path.join(self.scratch, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def cleanup(self) -> None:
        shutil.rmtree(self.scratch, ignore_errors=True)


def cores() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def start_session(work: Workdir, event_log_dir: str | None):
    """``local[<cores>]`` through the program's own ``build_session``,
    with its own driver memory, and the Python workers started. Only where
    files go is changed, so that a run writes nothing outside its
    checkout: the shuffle scratch through the program's
    ``SPARK_GRAFT_LOCAL_DIR`` (left alone, it picks ``/dev/shm`` when that
    has room), temporary files through ``TMPDIR`` and ``java.io.tmpdir``.
    With ``event_log_dir`` the event log is on, uncompressed and in one
    non-rolling file, so the tracer can read task metrics back."""
    from resolve_spark.session import build_session

    tmp = work.dir("tmp")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = work.dir("spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM (the launcher's too) reads this; without perf data none
    # writes to the system temporary directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    conf = {
        "spark.sql.warehouse.dir": work.dir("warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    n = cores()
    spark = build_session(app_name="perfbench", master=f"local[{n}]",
                          extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    # start the Python workers here, so that what follows pays none of it
    spark.range(n).repartition(n).mapInPandas(lambda it: it, "id long").count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then wait until the JVM and the Python workers it
    started have exited: a run must leave no process behind, and after
    ``spark.stop()`` the gateway JVM lives on until its stdin closes,
    which would otherwise happen only as this process exits."""
    started = [p for p in _descendants(os.getpid()) if p != os.getpid()]
    spark.stop()
    # the JVM exits when its stdin closes; the worker daemon follows it
    proc = spark.sparkContext._gateway.proc
    proc.stdin.close()
    deadline = time.monotonic() + 60
    while any(_alive(p) for p in started):
        if time.monotonic() > deadline:
            for p in started:
                if _alive(p):
                    os.kill(p, signal.SIGKILL)
        time.sleep(0.1)
    proc.wait()


def _alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (FileNotFoundError, ProcessLookupError):
        return False


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except (FileNotFoundError, ProcessLookupError):
            continue
        # the command name is parenthesised and may hold spaces
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _comm_and_hwm(pid: int) -> tuple[str, int] | None:
    """(name, peak resident bytes) of one process; None once it exited
    or while it is a zombie, which holds no memory."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            status = fh.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    fields = dict(line.split(":", 1) for line in status.splitlines() if ":" in line)
    if "VmHWM" not in fields:
        return None
    return fields["Name"].strip(), int(fields["VmHWM"].split()[0]) * 1024


class PeakRss:
    """Peak resident set of this process tree (the Python driver, the
    Spark JVM, its Python worker daemon and the workers) over a window.

    Each process's kernel high-water mark (``VmHWM``) is reset when the
    window opens and read when it closes; ``peak_mb`` is their sum over
    the processes alive then. Short-lived forks that exit inside the
    window, whose resident pages are their parent's, are not counted."""

    def __enter__(self) -> "PeakRss":
        for pid in _descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as fh:
                    fh.write("5")
            except (FileNotFoundError, ProcessLookupError):
                continue
        return self

    def __exit__(self, *exc) -> None:
        self.parts: dict[str, int] = {}
        for pid in _descendants(os.getpid()):
            got = _comm_and_hwm(pid)
            if got:
                self.parts[got[0]] = self.parts.get(got[0], 0) + got[1]
        self.peak_mb = sum(self.parts.values()) / 2**20


def cpu_steal() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs so far, from ``/proc/stat``:
    on a virtual machine, steal is time the hypervisor gave the CPUs to
    another guest."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def calibrate(reps: int = 3) -> float:
    """Seconds for a fixed CPU-only loop (median of ``reps``). It does no
    I/O and touches no Spark, so it moves only with the machine: compare
    it between runs before comparing their timings."""
    samples = []
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_500_000):
            acc = (acc * 31 + i) % 1_000_003
        samples.append(time.perf_counter() - t0)
    return statistics.median(samples)

