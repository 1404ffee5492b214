"""Host record, process-tree RSS sampling and Spark session lifetime for the
benchmark. Everything here reads /proc directly (psutil is not a dependency
of the engine)."""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

_PAGE = os.sysconf("SC_PAGE_SIZE")

# The engine's size guards: each picks a driver-side numpy twin below its
# threshold and the distributed plan above it.
GUARD_VARS = (
    "SPARK_GRAFT_LSH_DRIVER_MAX",
    "SPARK_GRAFT_VERIFY_DRIVER_MAX",
    "SPARK_GRAFT_CC_DRIVER_MAX",
    "SPARK_GRAFT_INTERVALS_DRIVER_MAX",
    "SPARK_GRAFT_OFFSETS_DRIVER_MAX",
    "SPARK_GRAFT_LSH_DRIVER_PAIR_MAX",
    "SPARK_GRAFT_STRIKE_SINGLE_MAX",
)

CORES = 4  # local[4]: one executor thread per core of the reference host
# The driver JVM's heap, fixed and pre-touched at launch: its RSS is then a
# constant, and a pass never pays the host's first-touch page faults for a
# heap that grows mid-job. peak_rss_mb is the process tree's RSS above it.
HEAP = "2g"
HEAP_BYTES = 2 << 30


def alu_spin(n: int = 1_000_000) -> float:
    """Seconds for a fixed pure-Python integer loop: a host-speed probe
    recorded before and after each run, never used to drop runs."""
    t = time.perf_counter()
    acc = 0
    for i in range(n):
        acc = (acc + i * i) & 0xFFFFFFFF
    return time.perf_counter() - t


@contextmanager
def zero_guards():
    """Every size guard at 0 within the block: the engine takes its
    distributed plans whatever the input size."""
    saved = {k: os.environ.get(k) for k in GUARD_VARS}
    os.environ.update({k: "0" for k in GUARD_VARS})
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v


def host_record() -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "master": f"local[{CORES}]",
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "numpy": numpy.__version__,
        "guards": {"pass": "engine defaults", "dist_pass": {k: "0" for k in GUARD_VARS}},
    }


def _stat(pid: int | str) -> tuple[int, int, bytes] | None:
    """(ppid, start time, command name) of a live process, or None
    (zombies included)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return None
    # the command name may hold spaces: fields restart after the last ')'
    rest = stat[stat.rindex(b")") + 2 :].split()
    if rest[0] == b"Z":
        return None
    return int(rest[1]), int(rest[19]), stat[stat.index(b"(") + 1 : stat.rindex(b")")]


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def tree_rss(root: int) -> dict[int, tuple[bytes, int]]:
    """{pid: (command name, resident bytes)} of ``root`` and all its
    descendants: the driver Python process, the Spark JVM it launched and
    the JVM's Python workers. A child of the JVM that runs the JVM's own
    binary is left out: it is the JVM between vfork and exec (named after
    the forking thread), and would count the JVM's heap twice."""
    stats = {int(d): st for d in os.listdir("/proc") if d.isdigit() and (st := _stat(d))}
    kids: dict[int, list[int]] = {}
    for pid, st in stats.items():
        kids.setdefault(st[0], []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        ppid = stats[pid][0]
        if stats.get(ppid, (0, 0, b""))[2] == b"java" and _exe(pid) == _exe(ppid):
            continue
        try:
            with open(f"/proc/{pid}/statm", "rb") as f:
                out[pid] = (stats[pid][2], int(f.read().split()[1]) * _PAGE)
        except OSError:
            pass
    return out


def reap(seen: dict[int, int], timeout: float = 30.0) -> None:
    """Wait for processes the run started to exit (Python workers outlive
    the JVM for a moment), then kill any that remain. ``seen`` maps pid to
    start time, so a reused pid is never touched."""
    import signal

    def alive() -> list[int]:
        return [p for p, t in seen.items() if (_stat(p) or (0, None))[1] == t]

    deadline = time.monotonic() + timeout
    while alive() and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in alive():
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


class RssSampler:
    """Samples the process tree's RSS on a background thread and keeps the
    high-water mark, the processes at that mark, and every descendant pid
    it saw."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self.at_peak: list[tuple[str, int]] = []  # (command, MB) at the peak
        self.seen: dict[int, int] = {}  # descendant pid -> start time
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            tree = tree_rss(pid)
            rss = sum(b for _, b in tree.values())
            if rss > self.peak:
                self.peak = rss
                self.at_peak = [(c.decode(), b >> 20) for c, b in tree.values()]
            for p in tree.keys() - {pid} - self.seen.keys():
                st = _stat(p)
                if st is not None:
                    self.seen[p] = st[1]
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def _session_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions": f"-Xms{HEAP} -XX:+AlwaysPreTouch",
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(f"{work}/eventlog", exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = f"file://{work}/eventlog"
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    return conf


def launch_jvm(work: str, trace: bool) -> None:
    """Launch the Spark JVM (the py4j gateway) without a SparkContext, so
    that every set-up starts its session on a running JVM and pays the same
    cost. The JVM-level settings must be given here: later sessions reuse
    this JVM."""
    from pyspark import SparkConf, SparkContext

    conf = SparkConf(loadDefaults=False).setAll(_session_conf(work, trace).items())
    SparkContext._ensure_initialized(conf=conf)


def start_session(work: str, trace: bool):
    """A SparkSession on the engine's own factory, with every file it
    writes kept under ``work``."""
    from deduplicate_text_datasets_spark.session import get_spark

    return get_spark(
        "perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra=_session_conf(work, trace),
    )


def stop_jvm() -> None:
    """Stop the Spark JVM the gateway launched and wait for it to exit."""
    import subprocess

    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
