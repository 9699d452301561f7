"""SparkSession factory tuned for this engine.

Local mode is a correctness/dev harness; every knob here is chosen so the
same logical plans scale to a real cluster:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  dynamic broadcast) — the 100 TB safety net.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a cluster
  AQE coalescing makes the static number mostly irrelevant.
- Session timezone pinned to UTC so results are comparable with the
  DuckDB oracle (DuckDB timestamps are UTC-naive).
- Arrow enabled: every pandas UDF / applyInPandas / mapInPandas hop is
  Arrow-batched, never row-at-a-time pickling.
"""

from __future__ import annotations

import os
import tempfile
from concurrent.futures import ThreadPoolExecutor
from typing import Any, Callable

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus and cpus.isdigit():
        return int(cpus)
    return os.cpu_count() or 8


def fanout(*thunks: Callable[[], Any]) -> list:
    """Run independent zero-argument builds concurrently, one driver
    thread each, and return their results in argument order.

    py4j releases the GIL on its socket waits, so independent plan
    builds and the eager jobs they submit (checkpoints, stats probes,
    model fits) overlap instead of queueing behind one another's driver
    round trips. Driver concurrency changes only job interleaving:
    every thunk builds the same plan and returns the same result as it
    would serially.

    Each thunk is wrapped with ``inheritable_thread_target`` here, in
    the calling thread, so it runs on its own copy of the caller's
    local properties: every job it submits carries the caller's job
    group and description, and nested fan-outs pass them on. An
    exception raised in a thunk reaches the caller."""
    session = SparkSession.active()
    wrapped = [inheritable_thread_target(session)(t) for t in thunks]
    with ThreadPoolExecutor(max_workers=len(wrapped)) as pool:
        return list(pool.map(lambda f: f(), wrapped))


def get_spark(app_name: str = "impala-hashset-count-spark") -> SparkSession:
    """Build (or reuse) the tuned local SparkSession."""
    cores = default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Driver-side planning latency (optimization guide §7.3): with
        # DataFrame debugging on (the default), EVERY DataFrame/Column
        # API call captures a Python call site and pays extra py4j
        # round-trips (conf lookup + PySparkCurrentOrigin.set/clear).
        # Measured on this engine's widest plans at r9: plan build
        # 1.33 -> 0.89 s (corpus_stats) and 0.71 -> 0.38 s
        # (text_analysis) per invocation. Scale-independent: planning
        # happens on the driver regardless of data volume; the cost is
        # only Python-call-site context in error messages.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on Python workers regardless of the
    driver's CWD/PYTHONPATH by shipping it as a zip via ``addPyFile`` —
    the same mechanism that deploys the package to a real cluster's
    executors. Needed by every operator whose closure references
    module-level functions (mapInPandas decode, RDD seq/comb functions):
    cloudpickle serializes those BY REFERENCE, so workers must be able
    to import the module."""
    import hashlib
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    # Key the zip on a digest of every .py file's CONTENT — the package
    # dir's mtime misses edits inside subpackages, which shipped stale
    # code to workers (observed: AttributeError on a newly added
    # function resolved from the old zip).
    digest = hashlib.sha256()
    for root, _dirs, files in sorted(os.walk(pkg_dir)):
        for fname in sorted(files):
            if fname.endswith(".py"):
                with open(os.path.join(root, fname), "rb") as fh:
                    digest.update(fname.encode())
                    digest.update(fh.read())
    tag = digest.hexdigest()[:16]
    marker = f"ihc_spark_pkg_shipped_{tag}"
    if spark.conf.get(f"spark.{marker}", None) == "true":
        return
    zip_path = os.path.join(tempfile.gettempdir(), f"ihc_spark_pkg_{tag}.zip")
    if not os.path.exists(zip_path):
        tmp = zip_path + ".tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fname in files:
                    if not fname.endswith(".py"):
                        continue
                    full = os.path.join(root, fname)
                    rel = os.path.join(
                        "impala_hashset_count_spark",
                        os.path.relpath(full, pkg_dir),
                    )
                    zf.write(full, rel)
        os.replace(tmp, zip_path)
    spark.sparkContext.addPyFile(zip_path)
    spark.conf.set(f"spark.{marker}", "true")


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable tuning to an externally-created session.

    The driver hands ``entry(spark)`` a session we did not build; only
    runtime-mutable SQL confs can be set on it (not JVM-startup ones).
    """
    for key, value in (
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        ("spark.sql.adaptive.skewJoin.enabled", "true"),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        # Static 200 is wrong for local mode; AQE coalesces upward-sized
        # partitions at runtime, so matching core count is the right floor.
        ("spark.sql.shuffle.partitions", str(default_parallelism())),
        # See get_spark: driver-side plan-build latency. Runtime-settable,
        # but PySpark memoizes the flag on first DataFrame call — reset
        # the module cache below so an externally-created session (the
        # driver's) picks the change up too.
        ("spark.python.sql.dataFrameDebugging.enabled", "false"),
    ):
        try:
            spark.conf.set(key, value)
        except Exception:  # pragma: no cover - conf may be static
            pass
    try:
        from pyspark.errors import utils as _pyspark_errors_utils

        _pyspark_errors_utils._enable_debugging_cache = False
    except Exception:  # pragma: no cover - private attr may move
        pass
    try:
        ship_package(spark)
    except Exception:  # pragma: no cover - e.g. connect-only sessions
        pass
    return spark
