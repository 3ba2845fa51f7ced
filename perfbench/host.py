"""Host facts, launch settings fitted to the host, and a /proc memory sampler.

Everything the benchmark writes lives under ``<checkout>/.bench_build/
perfbench``; Spark's local dirs, the JVM temp dir and Python's temp dir
are pointed there too, so a run touches nothing outside the checkout.
"""

from __future__ import annotations

import os
import platform
import subprocess
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_build", "perfbench")

# Program files the benchmark drives; without them there is nothing to run.
REQUIRED = ("geotiff_spark/session.py", "tests/tiff_writer.py")


def missing_program() -> list[str]:
    return [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]


def mem_total_mib() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def fit_launch() -> dict:
    """Launch settings derived from the host, exported through the
    program's own environment knobs before ``geotiff_spark.session`` is
    imported (it reads ``SPARK_GRAFT_DRIVER_MEM`` at import time).

    Spark gets half the cores: each task thread drives a Python worker,
    and the JVM's compiler, GC and scheduler threads, the Python daemon
    and this driver need cores of their own. On a 4-core shared host,
    local[4] ran the ingest pass slower than local[2] and lost more
    time to the hypervisor (steal), so its timings followed the
    neighbours' load more than the program.

    The pinned, pre-touched heap is a sixteenth of MemTotal, clamped to
    [1, 4] GiB: the benchmark's inputs are small, and the host's memory is
    shared with other tenants."""
    cpus = max(1, len(os.sched_getaffinity(0)) // 2)
    heap_mib = max(1024, min(4096, mem_total_mib() // 16))
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    pythonpath = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    env = {
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mib}m",
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # Python workers import geotiff_spark from the checkout root,
        # whatever the current directory of the launch.
        "PYTHONPATH": pythonpath,
        "PYSPARK_PYTHON": os.environ.get("PYSPARK_PYTHON", "python3"),
    }
    os.environ.update(env)
    conf = {
        # A fixed set of JIT compiler threads, so that tree_cpu_s can
        # leave out their CPU time (a thread that exits would take its
        # count with it).
        "spark.driver.extraJavaOptions": (
            f"-Xms{heap_mib}m -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}"
            " -XX:-UseDynamicNumberOfCompilerThreads"
        ),
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    return {"master": f"local[{cpus}]", "cpus": cpus, "heap_mib": heap_mib,
            "env": env, "conf": conf}


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat: steal is time
    the hypervisor ran something else while this machine's CPUs wanted
    to run."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def _cmd_version(cmd: list[str]) -> str:
    try:
        out = subprocess.run(cmd, capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return "unavailable"
    text = (out.stdout + out.stderr).strip().splitlines()
    return text[0] if text else "unavailable"


def git_sha() -> str:
    """The checkout's commit when it is a git repository, else the
    hash-free marker the driver's plain checkouts get."""
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "not-a-git-checkout"
    return _cmd_version(["git", "-C", ROOT, "rev-parse", "HEAD"])


def host_facts(spark_version: str) -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mib": mem_total_mib(),
        "python": platform.python_version(),
        "java": _cmd_version(["java", "-version"]),
        "spark": spark_version,
        "git_sha": git_sha(),
    }


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
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_mem_bytes(root_pid: int) -> tuple[int, int]:
    """Memory of root_pid (the JVM) and all its descendants (the Python
    daemon and the workers it forks), and how many processes that is.

    The JVM counts its RSS. Each descendant counts its proportional set
    size: PSS splits the pages a forked worker still shares with the
    daemon among the processes mapping them, where summed RSS would count
    them once per worker and jump with the number of idle workers Spark
    keeps. The JVM's PSS is not read: walking its pinned heap's page
    tables every sample would stall it."""
    kids = _children_map()
    page = os.sysconf("SC_PAGE_SIZE")
    total, procs = 0, 0
    try:
        with open(f"/proc/{root_pid}/statm") as fh:
            total = int(fh.read().split()[1]) * page
        procs = 1
    except OSError:
        pass
    stack = list(kids.get(root_pid, ()))
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, ()))
        try:
            total += _pss_bytes(pid)
            procs += 1
        except OSError:
            continue
    return total, procs


# Thread names (as /proc truncates them) of the JVM's JIT compilers.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat_ticks(path: str, fields: slice) -> int:
    with open(path) as fh:
        # the counters follow the parenthesised command name
        return sum(int(x) for x in fh.read().rsplit(")", 1)[1].split()[fields])


def _jit_ticks(pid: int) -> int:
    total = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                if not fh.read().startswith(JIT_THREADS):
                    continue
            total += _stat_ticks(f"/proc/{pid}/task/{tid}/stat", slice(11, 13))
        except OSError:
            continue
    return total


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system) spent so far by root_pid (the JVM) and
    its descendants (the Python daemon and workers, with the exited
    children they reaped), less the JVM's JIT compiler threads: compiling
    hot code is warm-up that goes on for passes after the first and runs
    at whatever pace the host allows. Time the hypervisor stole is in
    none of it."""
    kids = _children_map()
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, ()))
        try:
            # utime, stime, cutime, cstime: fields 14-17 of the stat line
            total += _stat_ticks(f"/proc/{pid}/stat", slice(11, 15))
        except OSError:
            continue
    try:
        total -= _jit_ticks(root_pid)
    except OSError:
        pass
    return total / os.sysconf("SC_CLK_TCK")


class MemSampler:
    """Samples ``tree_mem_bytes`` of the driver JVM every ``interval``
    seconds while armed; ``peak`` is the largest sample taken while
    armed, ``peak_procs`` the process count of that sample."""

    def __init__(self, root_pid: int, interval: float = 0.25):
        self.root_pid = root_pid
        self.interval = interval
        self.peak = 0
        self.peak_procs = 0
        self.armed = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            if self.armed:
                total, procs = tree_mem_bytes(self.root_pid)
                if total > self.peak:
                    self.peak, self.peak_procs = total, procs

    def __enter__(self) -> "MemSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def wait_gone(proc, timeout: float = 60.0) -> None:
    """Wait for a launched process to end, killing it past the timeout."""
    deadline = time.monotonic() + timeout
    while proc.poll() is None and time.monotonic() < deadline:
        time.sleep(0.1)
    if proc.poll() is None:
        proc.kill()
        proc.wait(timeout=30)
