"""SparkSession factory tuned for the engine.

Local-mode testing uses ``local[N]``; the same config block is what a
``spark-submit --py-files`` cluster run would use (minus master/memory,
which come from the cluster manager). AQE is on so skewed cell joins get
runtime splitting on top of our explicit salting.
"""

from __future__ import annotations

import ctypes
import os

from pyspark.sql import SparkSession


def _tune_malloc() -> None:
    """Serve large allocations from the reused heap instead of fresh
    mmaps. glibc mmap()s big numpy/Arrow buffers and returns them to the
    OS on free, so every batch re-faults cold pages; on hosts with slow
    page provisioning (this sandbox measures first-touch as low as
    ~35 MB/s in bad phases, ~90× slower than reused pages) that
    dominates the kernels. Applies to this process via mallopt and to
    the JVM + forked Python workers via environment (glibc reads the
    _-suffixed vars at process start)."""
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(1 << 30))
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "-1")
    try:
        libc = ctypes.CDLL("libc.so.6")
        libc.mallopt(-3, 1 << 30)  # M_MMAP_THRESHOLD
        libc.mallopt(-1, -1)       # M_TRIM_THRESHOLD: never give back
    except OSError:  # non-glibc platform — env vars still help children
        pass


_tune_malloc()


def session_token(spark: SparkSession) -> str:
    """Stable per-session cache key. ``id(spark)`` is unsafe — after a
    session is stopped and GC'd, a new SparkSession can reuse the same
    id and alias module-level caches to stale checkpoint handles and
    broadcasts from the dead session. applicationId + context startTime
    never recur."""
    sc = spark.sparkContext
    return f"{sc.applicationId}@{sc.startTime}"


# (cache, token_at, release) of every session_cache. One SparkContext
# lives per process, so every token but the live one belongs to a
# stopped session.
_SESSION_CACHES: list = []
_live_token: str | None = None


def session_cache(token_at: int | None, release=None) -> dict:
    """A module-level dict whose keys hold a session_token at index
    ``token_at`` (``None``: the key is the token). The first
    ``evict_stopped_sessions`` call under a new token drops the entries
    of every other token, calling ``release(value)`` on each."""
    cache: dict = {}
    _SESSION_CACHES.append((cache, token_at, release))
    return cache


def evict_stopped_sessions(token: str) -> None:
    """Mark ``token`` the live session. On the first call under a new
    token, drop every session cache's entries of other tokens: a
    stopped session's checkpoint handles and dumps, which would
    otherwise stay until the process exits."""
    global _live_token
    if token == _live_token:
        return
    _live_token = token
    for cache, at, release in _SESSION_CACHES:
        for key in [k for k in cache if (k if at is None else k[at]) != token]:
            value = cache.pop(key)
            if release is not None:
                release(value)


def _external_master() -> bool:
    """True when a Spark master is already configured outside this
    factory. Under ``spark-submit`` the Python driver is launched by the
    JVM's PythonRunner (``PYSPARK_GATEWAY_PORT`` exported) and
    spark-submit always sets ``spark.master`` on the JVM side, so the
    builder must not override it. A plain ``python`` invocation has
    neither signal, so local[N] remains the default. If a gateway is
    already attached, the JVM conf is checked directly."""
    if os.environ.get("MASTER") or os.environ.get("PYSPARK_GATEWAY_PORT"):
        return True
    try:
        # stable import path (works on PySpark 3.x and 4.x; the
        # pyspark.core.context module is 4.x-only and a swallowed
        # ImportError would silently skip this check)
        from pyspark import SparkContext
        from pyspark.conf import SparkConf

        if SparkContext._jvm is not None:  # attached gateway: real conf
            return SparkConf(loadDefaults=True).contains("spark.master")
    except Exception:
        pass
    return False


# Share of the host's memory given to the driver heap, and its cap. The
# rest is left to the Python driver, the Python workers and the page
# cache; a fixed 16g default made the JVM die at start on a 15 GB host.
HEAP_SHARE = 0.55
HEAP_CAP_MB = 16 << 10


def host_memory() -> tuple[int, int | None]:
    """This host's MemTotal and its cgroup memory limit (``None`` when
    unlimited), in bytes."""
    with open("/proc/meminfo") as f:
        total = next(int(line.split()[1]) << 10 for line in f
                     if line.startswith("MemTotal:"))
    for path in ("/sys/fs/cgroup/memory.max",
                 "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        # cgroup v2 writes "max", v1 a huge sentinel, for "no limit"
        if raw.isdigit() and int(raw) < (1 << 60):
            return total, int(raw)
    return total, None


def driver_mem(mem_total: int, cgroup_limit: int | None) -> str:
    """The driver heap size: ``SPARK_DRIVER_MEM`` when set, else
    HEAP_SHARE of the smaller of MemTotal and the cgroup limit, capped
    at HEAP_CAP_MB."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    mem = min(mem_total, cgroup_limit) if cgroup_limit else mem_total
    return f"{min(int(mem * HEAP_SHARE) >> 20, HEAP_CAP_MB)}m"


def get_spark(
    app_name: str = "pdxbldgimport_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores=None`` → ``SPARK_GRAFT_CPUS``, else the CPU count.
    ``shuffle_partitions`` defaults to the core count: on a real cluster
    this would instead be ~2-3× total cores (AQE coalesces down, so
    erring high is safe at 100 TB scale). The driver heap is
    ``driver_mem`` of this host.
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        cores = int(env) if env else os.cpu_count() or 4
    if shuffle_partitions is None:
        # override knob for topology experiments (e.g. local-cluster
        # legs want more, smaller reduce tasks than cores — on a real
        # cluster this would be ~2-3× total cores; AQE coalesces down)
        envp = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
        shuffle_partitions = int(envp) if envp else max(cores, 8)

    heap = driver_mem(*host_memory())
    builder = SparkSession.builder
    # Respect an externally-configured master (spark-submit --master /
    # spark.master property): only default to local[N] when none is set,
    # so the same entry point runs local in dev and distributed under a
    # cluster manager instead of silently overriding it with local mode.
    if not _external_master():
        builder = builder.master(f"local[{cores}]")
    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", heap)
        .config("spark.ui.enabled", "false")
        # Pin the heap: a growable 48g heap made G1 commit/uncommit tens of
        # GB across a run — observed as random multi-second stalls with the
        # CPUs idle. -Xms == -Xmx removes the churn.
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.net.preferIPv4Stack=true -Xms{heap}",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
