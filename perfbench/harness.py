"""Measurement plumbing shared by every workload: the Spark session the
benchmark owns, process-tree CPU and memory, the host-state record, the
warm-up loop and the timed-pass loop.

Nothing here rescales a metric. The host record (load average, CPU
count, slots, calibration probe) is printed beside the result so a
noisy run can be explained, never corrected.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import sys
import time

_TICK = os.sysconf("SC_CLK_TCK")

# the benchmark's fixed Spark settings (README "Steadiness settings")
DRIVER_MEMORY = "2g"
# pass time is within run-to-run noise from the third pass on, on both
# workloads; a fixed count keeps every run's timed passes at the same
# point of the JVM's warm-up (a settle test on noisy pass times stopped
# anywhere from the 3rd to the 5th pass)
WARM_PASSES = 3


def slots() -> int:
    """Task slots: one fewer than the CPUs, so the driver, the JVM's
    own threads and the host keep a core. Measured on a 4-CPU host, two
    sessions' median pass times were 8.7% apart at ``local[4]`` and 1%
    apart at ``local[3]``."""
    return max(1, (os.cpu_count() or 2) - 1)


def configure_env(root: str, work: str) -> None:
    """Environment every Spark process of the run inherits: workers
    import the package from the checkout, scratch files stay inside
    the run's work directory."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def start_spark(work: str, app: str, event_log: str | None = None):
    """The benchmark's own session through the package's factory."""
    from lexoid_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    # the heap is committed and touched in full at launch: left to grow,
    # its resident size at a pass depended on when G1 had last resized
    # it, and moved the tree's peak memory by ~20% between runs
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(event_log),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app, cores=slots(), extra_conf=conf)


# --- process lifetime --------------------------------------------------------

def adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts, so a
    Python worker whose JVM has ended is re-parented here, not to init,
    and ``end_processes`` can wait for it. Best effort: without
    ``prctl`` the snapshot in ``end_processes`` still covers them."""
    import ctypes

    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    except (OSError, AttributeError):   # PR_SET_CHILD_SUBREAPER = 36
        pass


def _alive(pid: int) -> bool:
    """``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def _reap_children() -> None:
    """Collect every ended child without blocking."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def end_processes(grace: float = 20.0) -> None:
    """Stop the Spark session and its JVM if one is up, then end every
    process this one started (the JVM, Python workers, the sampler) and
    wait until each has ended: EOF on the JVM's stdin first, SIGTERM
    after ``grace`` seconds, SIGKILL five seconds later. Safe to call
    on every path out of a run, also when Spark never started."""
    import signal

    me = os.getpid()
    started = set(_tree_pids(me)) - {me}
    try:
        from pyspark import SparkContext
    except ImportError:
        SparkContext = None
    if SparkContext is not None:
        sc = SparkContext._active_spark_context
        if sc is not None:
            try:
                sc.stop()
            except Exception:
                pass
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:
                pass
            SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()   # the JVM exits on EOF
                proc.wait(timeout=grace)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + grace
    sig = signal.SIGTERM
    while True:
        _reap_children()
        started |= set(_tree_pids(me)) - {me}
        left = [p for p in started if _alive(p)]
        if not left:
            return
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, sig)
                except OSError:
                    pass
            deadline = time.monotonic() + 5.0
            sig = signal.SIGKILL
        time.sleep(0.05)


# --- process tree ------------------------------------------------------------

def _tree_pids(root_pid: int, exclude: int | None = None) -> list[int]:
    """``root_pid`` and its descendants, leaving out the subtree of
    ``exclude``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        if pid == exclude:
            continue
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _pid_cpu_s(pid: int) -> float:
    """User+system CPU of ``pid``, including its reaped children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return 0.0
    fields = stat[stat.rindex(")") + 2:].split()
    return sum(int(x) for x in fields[11:15]) / _TICK


def tree_cpu_s(root_pid: int | None = None,
               exclude: int | None = None) -> float:
    """User+system CPU of this process and every descendant (the JVM
    and its Python workers), including reaped children, without the
    subtree of ``exclude``. Not host-wide."""
    return sum(_pid_cpu_s(pid)
               for pid in _tree_pids(root_pid or os.getpid(), exclude))


def tree_pss_mb(root_pid: int, exclude: int | None = None) -> float:
    """Resident memory of the process tree as PSS: a page shared by
    several processes (forked Python workers) counts once in total, not
    once per process as summed RSS would."""
    total_kb = 0
    for pid in _tree_pids(root_pid, exclude):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1e3


def _sample_loop(conn, root_pid: int, period: float) -> None:
    """Body of the sampler process: on "start", sample the tree of
    ``root_pid`` (without this process) until "stop", then send back
    the peak; any other message ends it."""
    me = os.getpid()
    while True:
        if conn.recv() != "start":
            return
        peak = 0.0
        while True:
            peak = max(peak, tree_pss_mb(root_pid, exclude=me))
            if conn.poll(period):
                break
        conn.recv()
        conn.send(max(peak, tree_pss_mb(root_pid, exclude=me)))


class PssSampler:
    """Peak PSS of the benchmark's process tree, sampled every
    ``period`` seconds between ``start()`` and ``stop()`` by a separate
    process. Start it before the Spark session: its pid is left out of
    every tree measurement, so walking /proc and reading the JVM's
    smaps does not land in the measured CPU or memory."""

    def __init__(self, period: float = 0.25):
        import multiprocessing

        ctx = multiprocessing.get_context("fork")
        self._conn, child = ctx.Pipe()
        self._proc = ctx.Process(target=_sample_loop, daemon=True,
                                 args=(child, os.getpid(), period))
        self._proc.start()
        child.close()
        self.pid = self._proc.pid

    def start(self) -> None:
        self._conn.send("start")

    def stop(self) -> float:
        self._conn.send("stop")
        return self._conn.recv()

    def cpu_s(self) -> float:
        """The sampler's own CPU so far (kept out of the metrics)."""
        return _pid_cpu_s(self.pid)

    def close(self) -> None:
        if self._proc.is_alive():
            self._conn.send("quit")
            self._proc.join(timeout=5)
            if self._proc.is_alive():
                self._proc.kill()
                self._proc.join()
        self._conn.close()


# --- host state --------------------------------------------------------------

def _calibration_probe() -> float:
    """Fixed single-core CPU work (pure-Python loop + sha256), the same
    shape as the repository harness's probe; min of 3."""
    best = None
    buf = bytes(65536)
    for _ in range(3):
        t0 = time.monotonic()
        acc = 0
        for i in range(1_500_000):
            acc += i * i
        h = hashlib.sha256()
        for _ in range(500):
            h.update(buf)
        h.digest()
        el = time.monotonic() - t0
        best = el if best is None else min(best, el)
    return best


def steal_s() -> float:
    """Host-wide CPU time the hypervisor gave to other guests."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def host_record() -> dict:
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    return {
        "load1": load1,
        "nproc": os.cpu_count(),
        "slots": slots(),
        "calibration_s": round(_calibration_probe(), 4),
    }


# --- pass loops --------------------------------------------------------------

def warm_up(run_pass) -> list[float]:
    """WARM_PASSES untimed passes. Returns their times."""
    times: list[float] = []
    for _ in range(WARM_PASSES):
        t0 = time.perf_counter()
        run_pass()
        times.append(time.perf_counter() - t0)
    return times


def timed_passes(run_pass, seconds: float, sampler: PssSampler,
                 min_passes: int = 2,
                 before=None) -> list[tuple[float, float, float]]:
    """Closed loop: run whole passes back to back until ``seconds`` have
    elapsed (and at least ``min_passes``); ``before`` runs untimed
    ahead of each pass. Returns one (wall s, tree CPU-s, peak PSS MB)
    per pass; the sampler's process is outside both."""
    passes = []
    t_start = time.perf_counter()
    while len(passes) < min_passes or \
            time.perf_counter() - t_start < seconds:
        if before is not None:
            before()
        cpu0 = tree_cpu_s(exclude=sampler.pid)
        sampler.start()
        t0 = time.perf_counter()
        run_pass()
        wall = time.perf_counter() - t0
        peak = sampler.stop()
        passes.append((wall, tree_cpu_s(exclude=sampler.pid) - cpu0, peak))
    return passes


def median(xs) -> float:
    return float(statistics.median(xs))


def quantile(xs, q: float) -> float:
    """Nearest-rank quantile (q in [0, 1]); 0.0 for an empty list."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return float(s[min(len(s) - 1, max(0, int(round(q * (len(s) - 1)))))])
