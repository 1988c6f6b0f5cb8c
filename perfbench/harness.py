"""Process-level plumbing for the benchmark: a per-run scratch directory
inside the checkout, the Spark session and its warm-up, peak RSS and CPU
time over the whole process tree, and a teardown that waits for the JVM
to exit."""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import threading
import time

CORES = 4
PKG = "louis_crawler_legacy_spark"


def require_package(root: str) -> None:
    """Fail fast (before any JVM starts) when the program under test is
    not beside the benchmark."""
    for rel in (os.path.join(PKG, "plans", "crawl.py"), "__spark_entry__.py"):
        if not os.path.isfile(os.path.join(root, rel)):
            raise SystemExit(f"perfbench: {rel} not found under {root}")


def driver_mem() -> str:
    """A quarter of the machine's memory, clamped to 1-4 GiB: the package's
    24g default would let one run take the whole machine."""
    with open("/proc/meminfo") as f:
        kb = int(f.readline().split()[1])
    return f"{min(4, max(1, kb // (4 * 1024 * 1024)))}g"


class Scratch:
    """Per-run directory under the checkout holding the warehouse, Spark
    local dirs, Python temp files and the event log; removed on close."""

    def __init__(self, root: str):
        self.path = tempfile.mkdtemp(prefix=".perfbench-", dir=root)
        for sub in ("local", "tmp", "events", "inputs"):
            os.makedirs(os.path.join(self.path, sub))
        self._n = 0

    def sub(self, name: str) -> str:
        return os.path.join(self.path, name)

    def fresh_dir(self, prefix: str) -> str:
        self._n += 1
        d = os.path.join(self.path, f"{prefix}{self._n}")
        os.makedirs(d)
        return d

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def start_spark(root: str, scratch: Scratch, trace: bool):
    """Spark on local[CORES] through the package's own ``get_spark``;
    the benchmark adds only harness settings (no console progress bar,
    scratch dirs inside the checkout, and the event log when tracing)."""
    tmp = scratch.sub("tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = scratch.sub("local")
    os.environ["SPARK_DRIVER_MEM"] = driver_mem()
    # every JVM the run starts (spark-submit's launcher too) would
    # otherwise write its perf-data file under /tmp, outside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"])
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    if root not in sys.path:
        sys.path.insert(0, root)
    from louis_crawler_legacy_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": scratch.sub("spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }
    if trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + scratch.sub("events")
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    spark = get_spark(app_name="perfbench", cpus=CORES, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _identity_batches(batches):
    yield from batches


def warm_session(spark) -> None:
    """Pay the per-process first-use costs that belong to Spark rather
    than to the program: the first JVM job, and the first Arrow round
    trip, which starts one Python worker per core."""
    spark.range(CORES).count()
    spark.range(4 * CORES, numPartitions=CORES).mapInPandas(
        _identity_batches, "id long"
    ).count()


def stop_spark(spark) -> None:
    """Stop the session, then the py4j gateway, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort at teardown
            proc.kill()
            proc.wait(timeout=30)


def _tree_pids(root_pid: int) -> list[int]:
    """``root_pid`` and every live descendant (driver, JVM, Python
    workers), read from /proc."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _tree_rss_bytes(root_pid: int, page: int) -> int:
    """Summed RSS of ``root_pid`` and every live descendant."""
    total = 0
    for pid in _tree_pids(root_pid):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and its
    descendants: the live ones, and the exited ones their parents have
    reaped. Time the hypervisor steals from the VM is not counted."""
    ticks = 0
    for pid in _tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Samples the process tree's summed RSS every ``period`` seconds
    while ``active``; ``peak_mb`` is the largest sum seen."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak = 0
        self.active = False
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.wait(self.period):
            if self.active:
                self.peak = max(self.peak, _tree_rss_bytes(pid, self._page))

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class Clock:
    """Wall-clock spans keyed by name, for set-up phases."""

    def __init__(self):
        self.spans: dict[str, float] = {}

    def span(self, name: str):
        clock = self

        class _Span:
            def __enter__(self):
                self.t = time.perf_counter()

            def __exit__(self, *exc):
                clock.spans[name] = clock.spans.get(name, 0.0) + time.perf_counter() - self.t

        return _Span()
