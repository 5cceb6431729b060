"""Process-tree helpers: peak resident memory, log redirection and an
orderly shutdown of the Spark JVM with everything it started."""

from __future__ import annotations

import contextlib
import os
import signal
import subprocess
import threading
import time


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid is the 2nd field after ")"
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_cpu_s(pid: int | None = None) -> float:
    """CPU seconds (user + system) used so far by ``pid`` (default: this
    process) and its descendants, including children they have reaped.
    Unlike wall time it barely moves when other guests of a shared host
    steal CPU."""
    pid = pid or os.getpid()
    ticks = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


class TaskCpu:
    """CPU seconds spent by the tasks of the Spark jobs run since the
    last ``take()``: the executor CPU time Spark records per stage, for
    running the tasks (the task metric the traced run sums as
    ``job.cpu_s``) and for deserialising them (on tile_publish, with its
    ~200 small stages a job, about half the total), plus the CPU of the
    Python workers, which run the UDFs outside the JVM.

    Unlike the CPU of the whole process tree it leaves out the JVM's
    JIT compiler and the driver's planning. Right after the cold pass
    the JIT still spends 10-25 CPU seconds a job, at a pace that depends
    on what else the host runs, so the process tree's CPU for one job
    moved by a fifth between runs of one build."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm_pid = self.sc._gateway.proc.pid
        self.last_stage = -1
        self._executor_s()
        self.python_s = self._python_s()

    def _executor_s(self) -> float:
        """Executor CPU of the stages newer than the last one seen."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()  # every task end is recorded
        gw = self.sc._gateway
        stages = jsc.statusStore().stageList(
            None, False, False, gw.new_array(gw.jvm.double, 0), None)
        it, ns, newest = stages.iterator(), 0, self.last_stage
        while it.hasNext():  # newest stage first
            sd = it.next()
            if sd.stageId() <= self.last_stage:
                break
            ns += sd.executorCpuTime() + sd.executorDeserializeCpuTime()
            newest = max(newest, sd.stageId())
        self.last_stage = newest
        return ns / 1e9

    def _python_s(self) -> float:
        kids = _children_map().get(self.jvm_pid, ())
        return sum(tree_cpu_s(p) for p in kids)

    def take(self) -> float:
        py = self._python_s()
        spent = self._executor_s() + py - self.python_s
        self.python_s = py
        return spent


class PeakRss:
    """Samples the summed RSS of this process and all its descendants
    (the PySpark driver, the JVM and the Python workers) on a thread."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            kb = sum(_rss_kb(p) for p in [me, *descendants(me)])
            self.peak_kb = max(self.peak_kb, kb)
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


@contextlib.contextmanager
def output_to(path: str):
    """Point file descriptors 1 and 2 at ``path`` for the duration, so a
    child started inside (the JVM, and the Python workers it forks)
    writes its logs there for good; this process gets its own back."""
    saved = [os.dup(1), os.dup(2)]
    fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
    try:
        os.dup2(fd, 1)
        os.dup2(fd, 2)
        yield
    finally:
        os.dup2(saved[0], 1)
        os.dup2(saved[1], 2)
        for f in (fd, *saved):
            os.close(f)


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, close the JVM's stdin (it exits on EOF), and
    wait until the JVM and every process under it has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    started = descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + timeout_s
    alive = started
    while alive:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")
                 and not _is_zombie(p)]
        if not alive:
            break
        if time.monotonic() > deadline:
            for p in alive:
                with contextlib.suppress(OSError):
                    os.kill(p, signal.SIGKILL)
            deadline = time.monotonic() + 5.0
        time.sleep(0.1)


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True
