"""Host sizing, the Spark session's lifetime, the peak-memory sampler and
the tracer of the benchmark.

Everything here sits outside the engine: the benchmark drives the engine
through its public entry points and times each call from outside.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
import uuid
from contextlib import contextmanager, nullcontext

# Share of the host's memory given to the driver JVM heap. The package
# default (16g) does not fit a 15 GB host; 55% leaves room for the Python
# driver, the Python workers and the page cache.
HEAP_SHARE = 0.55


def _cgroup_cpus() -> float | None:
    try:
        with open("/sys/fs/cgroup/cpu.max") as f:
            quota, period = f.read().split()
    except (OSError, ValueError):
        return None
    if quota == "max":
        return None
    return int(quota) / int(period)


def _cgroup_mem_bytes() -> int | None:
    for path in ("/sys/fs/cgroup/memory.max",
                 "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit() and int(raw) < (1 << 60):
            return int(raw)
    return None


def _mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def host_sizing() -> dict:
    """Cores and driver heap derived from this host: ``local[nproc]`` and
    HEAP_SHARE of the smaller of MemTotal and the cgroup limit."""
    cores = len(os.sched_getaffinity(0))
    quota = _cgroup_cpus()
    if quota is not None:
        cores = max(1, min(cores, int(quota)))
    total = _mem_total_bytes()
    limit = _cgroup_mem_bytes()
    mem = min(total, limit) if limit else total
    heap_mb = int(mem * HEAP_SHARE) >> 20
    return {
        "cores": cores,
        "master": f"local[{cores}]",
        "driver_mem": f"{heap_mb}m",
        "mem_total_mb": total >> 20,
        "cgroup_limit_mb": (limit >> 20) if limit else None,
        "console_progress": False,
    }


def start_spark(sizing: dict, work_dir: str):
    """Start the engine's session with the host sizing; every temporary
    file of the driver, the JVM and the workers goes under ``work_dir``."""
    from pdxbldgimport_spark.session import get_spark

    local = os.path.join(work_dir, "spark-local")
    os.makedirs(local, exist_ok=True)
    # SPARK_LOCAL_DIRS wins over spark.local.dir when set, so pin both.
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEM"] = sizing["driver_mem"]
    return get_spark(
        app_name="perfbench",
        cores=sizing["cores"],
        shuffle_partitions=max(sizing["cores"], 8),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            # the package's heap pin, made resident at start-up, plus the
            # JVM's temp dir. Without the pre-touch the first timed calls
            # pay the heap's first-touch page faults: the bulk join ran
            # 2.6-4.7 s a call until the heap was resident, a steady
            # 2.6-2.9 s with it pre-touched, and the peak RSS of the query
            # mix varied by a fifth between runs.
            "spark.driver.extraJavaOptions": (
                "-Djava.net.preferIPv4Stack=true"
                f" -Xms{sizing['driver_mem']} -XX:+AlwaysPreTouch"
                f" -Djava.io.tmpdir={work_dir}"
            ),
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it: the
    JVM exits when its stdin closes and takes the Python workers along."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def jvm_heap_mb(spark) -> dict:
    """The JVM heap's committed size and its live set, the heap in use
    after a full collection, in MB, from the JVM's memory beans. The
    pools' peak use since start-up goes along for the report: it follows
    the collector's adaptive sizing more than the engine."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    bean = mf.getMemoryMXBean()
    bean.gc()
    heap = bean.getHeapMemoryUsage()
    return {
        "committed_mb": heap.getCommitted() / (1 << 20),
        "live_mb": heap.getUsed() / (1 << 20),
        "pool_peak_used_mb": {
            p.getName(): p.getPeakUsage().getUsed() / (1 << 20)
            for p in mf.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"
        },
    }


class MemSampler:
    """Peak of the summed proportional set size (PSS) of this process and
    all its descendants (the JVM and the Python workers), sampled from
    /proc. PSS counts a page shared by n processes as 1/n in each, so the
    sum is the memory the tree holds: summed RSS would count the JVM's
    heap twice while a freshly spawned child still shares its pages."""

    def __init__(self, interval: float = 1.0):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _tree_pss_kb() -> int:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(entry))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                pass
        return total

    def sample(self) -> None:
        self.peak_kb = max(self.peak_kb, self._tree_pss_kb())

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written out as
    JSON when the run ends. A disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def _span(self, name: str, attrs: dict):
        idx = len(self.spans)
        rec = {
            "id": idx,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter() - self._t0,
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def span(self, name: str, **attrs):
        return self._span(name, attrs) if self.enabled else nullcontext({})

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, **extra, "spans": self.spans}, f, indent=1)


_SIZE = r"([\d.,]+) (B|KiB|MiB|GiB|TiB)\b"
_SCALE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
# In the DOT rendering of a SQL plan graph a node's label holds its name in
# <b>..</b> and its metrics as "name: value", or "name total (min, ...)<br>value".
_NODE = re.compile(r"<b>([^<]+)</b>")
_PYTHON_SENT = re.compile(r"data sent to Python workers[^<]*?(?:<br>)?\s*" + _SIZE)
PLAN_NODES = {
    "FlatMapGroupsInPandas": "plan.flatmapgroupsinpandas",
    "SortAggregate": "plan.sortaggregate",
    "Exchange": "plan.exchange",
    "BroadcastNestedLoopJoin": "plan.bnlj",
}


class SparkLayers:
    """Per-op Spark counts, read after the op from the status tracker (jobs,
    stages, tasks), the app status store (shuffle, spill, GC, run time)
    and the SQL status store (plan nodes, bytes sent to Python workers).
    Each op runs in its own job group; its SQL executions are the ones
    started between the op's begin and end."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._conv = jvm.scala.jdk.javaapi.CollectionConverters
        self._app = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_list = jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self._bus = self.sc._jsc.sc().listenerBus()
        self._gc_beans = list(jvm.java.lang.management.ManagementFactory
                              .getGarbageCollectorMXBeans())
        self._gc0 = 0
        self._n = 0
        self._exec0 = 0
        self.overhead_s = 0.0

    def _gc_ms(self) -> int:
        return sum(max(b.getCollectionTime(), 0) for b in self._gc_beans)

    def begin(self, name: str) -> str:
        """Start an op: its jobs run in a job group of their own. The bus
        is empty here, as ``end`` of the previous op waited for it."""
        self._n += 1
        group = f"perfbench-{self._n}"
        self.sc.setJobGroup(group, name)
        self._exec0 = self._sql.executionsCount()
        self._gc0 = self._gc_ms()
        return group

    def end(self, group: str) -> dict:
        t0 = time.perf_counter()
        gc_ms = self._gc_ms() - self._gc0
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        # the status stores are fed by the listener bus: let it catch up
        self._bus.waitUntilEmpty(60_000)
        tracker = self.sc.statusTracker()
        out = {k: 0.0 for k in (
            "spark.jobs", "spark.stages", "spark.tasks",
            "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.gc_s",
            "spark.executor_run_s", "spark.python_bytes", *PLAN_NODES.values(),
        )}
        stage_ids: set[int] = set()
        for job in tracker.getJobIdsForGroup(group):
            out["spark.jobs"] += 1
            info = tracker.getJobInfo(job)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        for sid in sorted(stage_ids):
            attempts = self._conv.asJava(self._app.stageData(
                sid, False, self._no_list, False, self._no_quantiles))
            for sd in attempts:
                if sd.status().toString() == "SKIPPED":
                    continue
                out["spark.stages"] += 1
                out["spark.tasks"] += sd.numCompleteTasks()
                out["spark.shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spark.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out["spark.executor_run_s"] += sd.executorRunTime() / 1000.0
        # local mode: driver and executor share one JVM, so its collectors'
        # time over the op is the op's GC time (task-level GC time reads 0)
        out["spark.gc_s"] = gc_ms / 1000.0
        # the op's SQL executions are the ones stored since ``begin``
        # (the store keeps the latest 1,000; an op here starts far fewer)
        n_exec = self._sql.executionsCount()
        new = self._conv.asJava(self._sql.executionsList(
            self._exec0, n_exec - self._exec0)) if n_exec > self._exec0 else []
        for ex in new:
            eid = ex.executionId()
            dot = self._sql.planGraph(eid).makeDotFile(self._sql.executionMetrics(eid))
            for name in _NODE.findall(dot):
                key = PLAN_NODES.get(name)
                if key:
                    out[key] += 1
            for num, unit in _PYTHON_SENT.findall(dot):
                out["spark.python_bytes"] += float(num.replace(",", "")) * _SCALE[unit]
        self.overhead_s += time.perf_counter() - t0
        return out
