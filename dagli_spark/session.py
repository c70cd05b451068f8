"""SparkSession factory with scale-appropriate defaults.

Defaults chosen for a large multi-executor cluster but testable on
local[N]:

- AQE on (runtime coalesce / skew-join splitting),
- Arrow on (all heavy Python work is vectorized pandas UDFs — the reference
  streams fixed-size row batches between nodes,
  core/.../dag/MultithreadedDAGExecutor.java:48-72; Arrow record batches are
  the columnar analogue),
- UTC session timezone (temporal semantics must not depend on host TZ),
- shuffle partitions default to 2x cores locally (the reference's
  "2 x logical cores" worker default, core/.../dag/LocalDAGExecutor.java:14);
  on a real cluster leave spark.sql.shuffle.partitions to AQE's coalescing,
- a generated-code cache of CODEGEN_CACHE_ENTRIES classes, and class names
  without codegen stage ids: Spark's default cache (100) is smaller than
  the working set of one pass over the driver queries, so LRU evicted
  every class before its reuse and every repeated query recompiled all of
  its classes with Janino,
- cores and driver heap sized to the host it runs on (the CPUs this
  process may run on, half of MemAvailable), not to a fixed cluster node.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Arrow batch size mirrors the reference's 5000-row training batches
# (core/.../dag/MultithreadedDAGExecutor.java:72).
ARROW_BATCH_ROWS = 5000

# Entries of Spark's generated-code cache (spark.sql.codegen.cache.maxEntries,
# default 100). The engine's working set, measured at sf0.01 and local[4]
# as CodegenMetrics' compilation count of a first pass in a fresh JVM: 710
# classes over the 82 non-flagship queries(), 208 over bench.py's 13
# headline queries, 68 for the flagship. At the default every class was
# evicted before its reuse, so every repeated pass recompiled all of them
# (1,074 compilations per pass over the 82 queries); with 2,048 a second
# pass compiles none. A mean class is 3.3 KB of bytecode.
CODEGEN_CACHE_ENTRIES = 2048

# local[N] heap ceiling, reached at 96 GB available
_MAX_HEAP_GB = 48


def host_cpus() -> int:
    """The CPUs this process may run on: its affinity mask, which a
    container's cpuset narrows (os.cpu_count() reports the whole
    machine)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # no affinity API off Linux
        return os.cpu_count() or 1


def default_cores() -> int:
    """``$SPARK_GRAFT_CPUS`` if set, else :func:`host_cpus`."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else host_cpus()


def master_cores(master: str) -> int:
    """The N of a ``local[N]`` master (``local[*]``: :func:`host_cpus`);
    :func:`default_cores` for a master that names no count ("local", a
    cluster URL)."""
    n = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
    n = n.split(",")[0]  # local[N,maxFailures] carries a second field
    if n == "*":
        return host_cpus()
    try:
        return int(n)
    except ValueError:
        return default_cores()


def mem_available_bytes() -> int | None:
    """MemAvailable from /proc/meminfo; None where there is no such file."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return None


def default_driver_memory(mem_available: int | None = None) -> str:
    """``$SPARK_DRIVER_MEMORY`` if set, else half of MemAvailable in whole
    GiB, within [1, 48] GiB: local[N] runs every task in the driver JVM,
    and the other half is left to the Python workers (one per core) and
    the rest of the host. Without /proc/meminfo, the 48 GiB ceiling."""
    env = os.environ.get("SPARK_DRIVER_MEMORY")
    if env:
        return env
    avail = mem_available if mem_available is not None else mem_available_bytes()
    if avail is None:
        return f"{_MAX_HEAP_GB}g"
    return f"{min(_MAX_HEAP_GB, max(1, avail // 2 // (1 << 30)))}g"


def get_spark(
    app_name: str = "dagli_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[N]`` with N from :func:`default_cores`
    when no cluster master is configured — on a real cluster, pass
    ``master=None`` with a pre-configured environment and this is a no-op.
    The driver heap comes from :func:`default_driver_memory`.
    """
    if master is None:
        master = f"local[{default_cores()}]"

    # Python workers must be able to import this package regardless of the
    # driver's cwd (the spark-submit equivalent is --py-files); prepend the
    # repo root to PYTHONPATH before the JVM forks workers.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )

    # One BLAS thread per Python worker: parallelism is Spark's job, not the
    # math library's — otherwise each of N workers spawns one thread per
    # machine core and a local[8] run silently uses every core (and on a
    # real cluster, oversubscribes the executor).
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")

    builder = SparkSession.builder.appName(app_name).master(master)
    builder = builder.config("spark.executorEnv.PYTHONPATH",
                             os.environ["PYTHONPATH"])
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        builder = builder.config(f"spark.executorEnv.{var}", os.environ[var])

    if shuffle_partitions is None:
        shuffle_partitions = max(8, 2 * master_cores(master))

    conf = {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(ARROW_BATCH_ROWS),
        # Null-propagating edge semantics (Spark 4 defaults ANSI on, which
        # turns double/0 and out-of-range element_at into JOB-KILLING
        # errors mid-pipeline). Operators are additionally hardened with
        # try_divide/try_element_at so they stay safe in ANSI-on sessions
        # the caller may bring (e.g. the correctness driver's own session).
        "spark.sql.ansi.enabled": "false",
        # smaller split size so fat binary-column scans (image decode) get
        # enough tasks to fill all cores on local[N]; a real cluster reading
        # 100 TB has plenty of splits and can keep the 128 MB default.
        "spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024),
        # full ReadSchema lines in explain output: the pruning audit
        # (plans/inspect.scan_columns) refuses truncated schemas
        "spark.sql.maxMetadataStringLength": "10000",
        "spark.sql.parquet.filterPushdown": "true",
        "spark.sql.parquet.aggregatePushdown": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # local[N] puts every "executor" in the driver JVM: size the heap
        # for N concurrent sort/window tasks (a real cluster sets
        # spark.executor.memory per node instead).
        "spark.driver.memory": default_driver_memory(),
        # see CODEGEN_CACHE_ENTRIES: repeated queries reuse their classes
        "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
        # the cache is keyed by source text, and a whole-stage class name
        # carries its codegen stage id, which AQE assigns in stage-creation
        # order — an order that varies with stage completion timing. With
        # the id in the name, a repeated asof_bucketed recompiled 4 classes
        # on some passes; without it, identical stages also share one class
        # across queries (13 headline queries at sf0.01: 226 -> 208).
        "spark.sql.codegen.useIdInClassName": "false",
        "spark.ui.enabled": "false",
        "spark.driver.extraJavaOptions": "-Djava.net.preferIPv4Stack=true",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
