"""Process helpers: launch time, cores, the host's current speed, the Spark
JVM's Python workers and their peak resident memory, a stop that waits
for every process the session started, and a last sweep that ends and
reaps every process the run left behind."""

from __future__ import annotations

import ctypes
import os
import signal
import statistics
import subprocess
import sys
import time

REF_LOOPS = 2_000_000   # iterations of the host-speed reference, per core
REF_NOMINAL_S = 0.25    # its wall on a quiet 4-core box (all cores at once)


def since_launch() -> float:
    """Seconds since this process was launched (/proc start time, 10 ms)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def cores() -> int:
    return len(os.sched_getaffinity(0))


#: A host-clock process: for each line ``n`` on stdin, runs a fixed loop of
#: ``n`` iterations and answers with a line; exits at end of input.
_SPIN_SRC = """
import sys

def spin(n):
    s = 0
    for i in range(n):
        s += i * i % 7
    return s

for line in sys.stdin:
    sys.stdout.write("%d\\n" % spin(int(line)))
    sys.stdout.flush()
"""


class HostClock:
    """The host's speed, sampled as the wall of a fixed pure-Python loop run
    on every core at once, in processes of its own.  The box is shared, and
    its speed drifts by tens of percent from minute to minute; a run's walls
    are scaled by ``REF_NOMINAL_S`` over its median sample, to seconds on
    the quiet host.  Samples are taken only while no JVM or Spark worker of
    the run is alive (before the session starts and after it stops), so
    the program's own background work does not move them, and the loop is
    the benchmark's own code, so a change to the program does not either.
    The loop processes are plain children of this one (no multiprocessing
    pool, whose resource tracker would outlive the run); ``close`` ends
    them and waits for each."""

    def __init__(self, n: int):
        self.samples: list[float] = []
        self.procs = [subprocess.Popen([sys.executable, "-S", "-c", _SPIN_SRC],
                                       stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
                      for _ in range(n)]
        self._time_loop()  # process start-up stays out of the samples

    def _time_loop(self) -> float:
        t0 = time.perf_counter()
        for p in self.procs:
            p.stdin.write(f"{REF_LOOPS}\n")
            p.stdin.flush()
        for p in self.procs:
            if not p.stdout.readline():
                raise RuntimeError("host-clock process ended early")
        return time.perf_counter() - t0

    def sample(self, k: int = 3):
        self.samples += [self._time_loop() for _ in range(k)]

    def scale(self, wall: float) -> float:
        """``wall`` in seconds on the quiet host."""
        return wall * REF_NOMINAL_S / statistics.median(self.samples)

    def close(self):
        for p in self.procs:
            p.stdin.close()
        for p in self.procs:
            try:
                p.wait(timeout=10)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
            p.stdout.close()


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            kids.setdefault(ppid, []).append(int(p))
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def vmhwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def python_workers() -> list[int]:
    """The pyspark daemon and worker processes under the session's JVM."""
    out = []
    for p in _descendants(jvm_pid()):
        try:
            with open(f"/proc/{p}/cmdline", "rb") as f:
                if b"pyspark" in f.read():
                    out.append(p)
        except OSError:
            pass
    return out


def worker_peak_rss_mb() -> float:
    """Highest VmHWM among the session's Python workers."""
    return max((vmhwm_mb(p) for p in python_workers()), default=0.0)


def reset_peak_rss():
    """Restart VmHWM of the JVM and its Python workers from their current
    resident size, so that work done so far does not count in it."""
    pid = jvm_pid()
    for p in (pid, *python_workers()):
        try:
            with open(f"/proc/{p}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def stop(spark):
    """Stop the session and the JVM, and wait for the Python workers."""
    from pyspark import SparkContext

    workers = python_workers()
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()
        try:
            gw.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gw.proc.kill()
            gw.proc.wait()
    deadline = time.time() + 20
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in workers):
        time.sleep(0.1)


PR_SET_CHILD_SUBREAPER = 36


def become_subreaper():
    """Make this process the reaper of its orphaned descendants (the
    pyspark daemon and workers outlive the JVM that started them by a
    moment), so that ``reap_all`` can wait for every one of them."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return ""


def _reap_children():
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def reap_all(grace: float = 20.0):
    """End every process this one started, directly or not, and wait for
    each: SIGTERM, then SIGKILL after ``grace`` seconds; orphans come back
    to this process (``become_subreaper``) and are reaped here."""
    me = os.getpid()
    deadline = time.time() + grace
    sig = signal.SIGTERM
    while True:
        _reap_children()
        live = [p for p in _descendants(me) if _state(p) not in ("", "Z")]
        if not live and not _descendants(me):
            return
        for p in live:
            try:
                os.kill(p, sig)
            except OSError:
                pass
        if time.time() > deadline:
            sig = signal.SIGKILL
        if time.time() > deadline + 10:
            return
        time.sleep(0.1)
