"""SparkSession factory with scale-ready defaults.

Local-mode settings mirror what a 1000-executor cluster deployment would set
cluster-wide: AQE on (runtime re-plan + skew-join splitting), Arrow transport
for the pandas-UDF extraction stage, UTC session time, shuffle partitions
sized to the parallelism rather than the 200 default.

Also home of :func:`per_gateway`, the memo for pure ``Column`` builders.
"""

from __future__ import annotations

import functools
import os

from pyspark import SparkContext
from pyspark.sql import SparkSession

__all__ = ["get_spark", "DEFAULT_CPUS", "per_gateway"]

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _default_driver_mem() -> str:
    """SPARK_DRIVER_MEM, else ~1/4 of host RAM clamped to [2g, 32g] — big
    enough for local-mode shuffles at bench scale, small enough to launch on
    modest hosts."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    try:
        page = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        gb = max(2, min(32, int(page / (1 << 30) // 4)))
    except (ValueError, OSError):
        gb = 4
    return f"{gb}g"


def _driver_java_opts() -> str:
    """Code-cache reserve appended to (not clobbering) env-supplied opts."""
    user = os.environ.get("SPARK_DRIVER_JAVA_OPTS", "")
    ours = "-XX:ReservedCodeCacheSize=1g"
    return f"{user} {ours}".strip()


def get_spark(
    app_name: str = "poc_document_ocr_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    executors: tuple[int, int] | None = None,
) -> SparkSession:
    """``executors=(n, cores)`` (or env ``SPARK_GRAFT_EXECUTORS=NxC``) runs
    ``local-cluster[n, cores, mem]`` — SEPARATE executor JVMs on this
    machine, the honest single-box stand-in for an n-executor cluster
    (per-executor heaps/GC/Python workers, real serialization between
    processes). Default remains the in-process ``local[cpus]``."""
    cpus = cpus or DEFAULT_CPUS
    if executors is None:
        env = os.environ.get("SPARK_GRAFT_EXECUTORS")
        if env:
            n, c = env.lower().split("x")
            executors = (int(n), int(c))
    if executors:
        n_exec, exec_cores = executors
        cpus = n_exec * exec_cores
        exec_mem_mb = int(os.environ.get("SPARK_GRAFT_EXECUTOR_MEM_MB", "8192"))
        master = f"local-cluster[{n_exec},{exec_cores},{exec_mem_mb}]"
    else:
        master = f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # larger Arrow batches amortize JVM↔Python transfer at high task
        # concurrency: 40k raised 32-thread extraction throughput ~37%
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "40000")
        .config("spark.driver.memory", _default_driver_mem())
        # whole-stage codegen emits one class per plan shape; a long session
        # running many distinct plans fills the JVM's default 240 MB code
        # cache, after which JIT compilation stops and everything crawls —
        # reserve enough up front. Deliberately NO -XX:+UseCodeCacheFlushing:
        # measured here, flushing evicts *warm* generated methods and
        # re-executions drop to interpreted speed (6s folds became 60s on
        # random reps); a fixed 1g reserve is stable.
        .config("spark.driver.extraJavaOptions", _driver_java_opts())
        # the compiled-class cache behind that code: a pipeline wave
        # generates over 100 classes (fold, anti-join, appends), so the
        # default 100-entry LRU would evict each class before the next wave
        # asks for it again, and every wave would re-run Janino and re-warm
        # the JIT on fresh classes — seconds of compiler work per wave whose
        # timing varies run to run. With room for every plan shape, a
        # repeated wave compiles nothing.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # AQE sizes broadcast candidates by COMPRESSED shuffle bytes; a
        # string-keyed relation (md5 fingerprints, terms) deserializes
        # 10-20x bigger, so a "64 MB" side can be a >1 GB in-memory
        # relation — the default 1g maxResultSize then kills the
        # broadcast collect (hit by winnow containment at 1.88M docs:
        # 1082 MiB from 11 tasks). The relation itself is fine — one
        # copy in the local JVM, and on a real cluster the driver is
        # provisioned for its broadcast duty — so raise the collect
        # ceiling rather than shrinking the threshold and losing the
        # broadcast wins everywhere else.
        .config("spark.driver.maxResultSize", "4g")
    )
    if executors:
        # executor JVMs spawn their own Python workers — they must resolve
        # this package (and bench helpers) from the repo root
        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        py_path = os.environ.get("PYTHONPATH", "")
        builder = builder.config(
            "spark.executorEnv.PYTHONPATH",
            f"{repo_root}:{py_path}" if py_path else repo_root,
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def per_gateway(builder):
    """Memoize a pure ``Column`` builder per live JVM gateway.

    Each ``F.*`` call is a py4j round trip, so a builder that returns the
    same expression for the same (hashable, positional) arguments — the
    consolidation fold's per-field structs, for example — pays thousands
    of round trips per call. Column expressions are immutable and bound to no session, so
    one build serves every plan on the same JVM. The memo is keyed on the
    gateway object itself: a relaunched JVM gets a new gateway and the
    memo rebuilds. ``builder.cache_clear()`` empties it.
    """
    state = {"gateway": None, "memo": {}}

    @functools.wraps(builder)
    def memoized(*args):
        gateway = SparkContext._gateway
        if gateway is None:
            return builder(*args)
        if state["gateway"] is not gateway:
            state.update(gateway=gateway, memo={})
        memo = state["memo"]
        if args not in memo:
            memo[args] = builder(*args)
        return memo[args]

    memoized.cache_clear = lambda: state.update(gateway=None, memo={})
    return memoized
