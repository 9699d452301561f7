"""Start and stop the program's Spark session the way its own entry
points do (``session.get_spark`` then ``tune_session``), timing each.

Run as a script it is one extra set-up sample: it starts a session,
prints its timings as one JSON line, stops the session and waits for the
JVM to exit.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def start_session(app_name: str):
    """(spark, timings): ``setup_s`` runs from before the program's
    package and pyspark are imported until the session is tuned."""
    t0 = time.perf_counter()
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from impala_hashset_count_spark.session import get_spark, tune_session

    t1 = time.perf_counter()
    spark = get_spark(app_name)
    t2 = time.perf_counter()
    tune_session(spark)
    t3 = time.perf_counter()
    return spark, {
        "setup_s": t3 - t0,
        "get_spark_s": t2 - t1,
        "tune_session_s": t3 - t2,
    }


def jvm_pid(spark) -> int:
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()


def memory_mb(pid: int) -> dict[str, float]:
    """Resident memory (VmRSS) and its peak so far (VmHWM) of a process,
    in MiB."""
    out = {}
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            key, _, rest = line.partition(":")
            if key in ("VmRSS", "VmHWM"):
                out[key] = int(rest.split()[0]) / 1024.0
    return out


def stop_session(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM
    (and the Python workers it started) to exit."""
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
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


if __name__ == "__main__":
    session, timings = start_session("perfbench-setup")
    print(json.dumps(timings), flush=True)
    stop_session(session)
