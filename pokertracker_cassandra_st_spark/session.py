"""SparkSession factory and runtime tuning.

Scale notes (100 TB design): every knob here is chosen so the same code
runs on local[32] for tests and on a 1000-executor cluster unchanged —
AQE picks shuffle parallelism and join strategies at runtime from real
statistics, so we do not hard-code anything that only works at test
scale. ``tune()`` only sets *runtime-settable* SQL confs so it is safe
to call on a session we did not create (the driver passes us one).
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import SparkSession

# pandas 2.2 deprecates concat() with empty / all-NA entries influencing
# the result dtype; pyspark's applyInPandasWithState serializer, behind
# streaming.runner.fold_by_user, hits the pattern on every emitted batch
# (serializers.construct_record_batch concats the result frames with an
# all-NA filler), spamming a FutureWarning per batch into the
# bench/driver tail. The behavior the
# stream path relies on is PINNED by tests/test_pandas_pin.py — so a
# pandas major bump fails loudly in CI instead of silently changing
# stream output — and the known-benign warning is silenced here. The
# message prefix keeps every other FutureWarning visible.
_PANDAS_CONCAT_MSG = "The behavior of DataFrame concatenation with empty or all-NA entries"
warnings.filterwarnings("ignore", message=_PANDAS_CONCAT_MSG, category=FutureWarning)

# Runtime-settable confs applied to ANY session (ours or the driver's).
_RUNTIME_CONF = {
    # Deterministic oracle comparison: DuckDB timestamps are UTC-naive.
    "spark.sql.session.timeZone": "UTC",
    # AQE: coalesce shuffle partitions, skew-join splitting, runtime
    # join-strategy switch. This is the main lever that makes one plan
    # valid at sf0.001 and at 100 TB.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas interchange (toPandas, pandas UDFs).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # ANSI off: we want NULL-on-bad-cast + wrapping semantics that match
    # the permissive behavior the oracles are written against.
    "spark.sql.ansi.enabled": "false",
}


_PYFILE_SHIPPED: set[str] = set()

# Driver heap in local mode: the driver JVM is the whole executor pool,
# so it gets a fixed share of physical memory, leaving the rest to the
# Python workers and the page cache.
_HEAP_FRACTION = 0.4


def _host_cpus() -> int:
    """CPUs this process may use (its affinity mask, not the machine's
    core count); ``SPARK_GRAFT_CPUS`` overrides it for a deployment."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def _parallelism(spark: SparkSession) -> int:
    """Task slots of the session: ``defaultParallelism`` (the executors'
    cores on a cluster, N on local[N]); the host's CPUs when there is no
    SparkContext (Spark Connect raises an AttributeError for it)."""
    try:
        return spark.sparkContext.defaultParallelism
    except AttributeError:
        return _host_cpus()


def _driver_memory() -> str:
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, int(phys * _HEAP_FRACTION / 2**30))}g"


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executors regardless of the
    driver process's cwd.

    Module-level UDF functions (pandas UDFs, mapInPandas, stateful
    folds) pickle BY REFERENCE — the worker must import the module. A
    driver started outside the checkout has no such path, so we zip the
    package once per session and addPyFile it (works on a session we
    didn't create, and on a real cluster ships to every executor).
    """
    try:
        app_id = spark.sparkContext.applicationId
    except Exception:
        return  # Spark Connect: no sparkContext; workers share the server env
    if app_id in _PYFILE_SHIPPED:
        return
    try:
        import zipfile

        from pokertracker_cassandra_st_spark.catalog import SCRATCH

        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        root = os.path.dirname(pkg_dir)
        zpath = os.path.join(SCRATCH, "pokertracker_pkg.zip")
        os.makedirs(os.path.dirname(zpath), exist_ok=True)
        sources = [
            os.path.join(dirpath, f)
            for dirpath, _dirs, files in os.walk(pkg_dir)
            for f in files
            if f.endswith(".py")
        ]
        newest = max(os.path.getmtime(p) for p in sources)
        if not os.path.exists(zpath) or os.path.getmtime(zpath) < newest:
            with zipfile.ZipFile(zpath, "w") as zf:
                for full in sources:
                    zf.write(full, os.path.relpath(full, root))
        spark.sparkContext.addPyFile(zpath)
        _PYFILE_SHIPPED.add(app_id)
    except Exception:  # best effort — cwd-local imports still work
        pass


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (idempotent, cheap)."""
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # conf locked down — keep going, not fatal
            pass
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(max(_parallelism(spark), 8)))
    except Exception:
        pass
    try:
        # The FutureWarning above is raised in the PYTHON WORKER
        # processes (stateful-stream serializer), which a driver-side
        # filter can't reach; sc.environment is shipped as worker env
        # at daemon launch, and PYTHONWARNINGS applies at interpreter
        # start. Message-prefix scoped — other FutureWarnings survive.
        spark.sparkContext.environment.setdefault(
            "PYTHONWARNINGS",
            f"ignore:{_PANDAS_CONCAT_MSG}:FutureWarning",
        )
    except Exception:  # Spark Connect: no sparkContext — server env rules
        pass
    _ship_package(spark)
    return spark


def get_spark(app_name: str = "pokertracker-spark") -> SparkSession:
    """Build (or reuse) a local session sized from the host.

    local[N] = one JVM, N executor threads, N = the CPUs this process
    may use; ``spark.driver.memory`` is the only memory knob in local mode
    (``SPARK_DRIVER_MEMORY`` overrides the physical-memory share). On a
    real cluster the same app would be submitted with executor settings
    instead — nothing in the query code depends on local mode. The
    builder sets only static confs; ``tune`` sets every runtime conf,
    here as on a session we did not create.
    """
    spark = (
        SparkSession.builder.master(f"local[{_host_cpus()}]")
        .appName(app_name)
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark)
