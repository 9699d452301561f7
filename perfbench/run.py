#!/usr/bin/env python3
"""Benchmark of the engine's registry entries on a local Spark session.

    python3 perfbench/run.py --workload distinct --seed 1 --seconds 6 --trace 0

One run is one process and one closed-loop client on ``local[nproc]``:

1. start the program's session (``get_spark`` + ``tune_session``),
   timed before pyspark, the engine or the input generator is imported;
2. write the workload's inputs from ``--seed`` (``inputs.py``);
3. run passes over the workload's ops (a registry entry or one of its
   arms). Each op is built (the ``Query.fn`` or arm call) and then
   executed into the ``noop`` sink, and the session's cache is cleared
   after it. Pass 0 is the cold pass; warm passes follow until they stop
   getting faster (at most ``WARMUP_MAX_PASSES``), then passes are
   measured for ``--seconds``;
4. check every op's result against its registry oracle on DuckDB
   (outside the timed passes), then stop the session;
5. take the other ``SETUP_SAMPLES - 1`` set-up samples, each a fresh
   ``sessions.py`` process timed the same way as step 1;
6. check that no file of the checkout changed.

With ``--trace 0`` the last stdout line holds the end-to-end metrics;
with ``--trace 1`` the session writes Spark's JSON event log and the
line holds the per-layer metrics read from it. Both lines carry the ops
attempted and failed. The full run record, with the per-pass series and
the per-op table, goes to ``perfbench/.work/runs/``.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shlex
import shutil
import subprocess
import sys
import tempfile
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass

import eventlog
from sessions import ROOT, jvm_pid, memory_mb, start_session, stop_session
from stats import levelled_off, median, quartile_spread

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(HERE, ".work")
JAR = os.path.join(ROOT, "jvm", "ihc-udaf.jar")


@dataclass(frozen=True)
class Workload:
    sf: float
    ops: tuple[str, ...]


WORKLOADS = {
    "distinct": Workload(
        sf=0.02,
        ops=(
            "multi_distinct_lineitem",
            "multi_distinct_lineitem/expand",
            "hashset_count_faithful",
        ),
    ),
    "pipeline": Workload(
        sf=0.01,
        ops=(
            "dedup_minhash_lsh",
            "text_udtf_sentences",
        ),
    ),
}

SETUP_SAMPLES = 2
#: Warm-up passes run until they level off (``stats.levelled_off``) or
#: this many have run; a run that hits the cap is flagged.
WARMUP_MAX_PASSES = 4
MIN_MEASURED_PASSES = 3
#: Paths (relative to the checkout) the run may write; the JVM jar is
#: reported on its own because ``ensure_jvm_jar`` may rebuild it.
WRITABLE = (
    "perfbench/.work", "spark-warehouse", "metastore_db", ".bench_build",
    ".git", "jvm/classes", "jvm/ihc-udaf.jar",
)


@dataclass
class Op:
    label: str
    fn: Callable
    oracle: str


def snapshot(root: str) -> dict[str, str]:
    """sha1 of every file under ``root`` outside ``WRITABLE``."""
    digests = {}
    for dirpath, dirnames, filenames in os.walk(root):
        rel_dir = os.path.relpath(dirpath, root)
        dirnames[:] = [
            d for d in dirnames
            if d != "__pycache__"
            and os.path.normpath(os.path.join(rel_dir, d)) not in WRITABLE
        ]
        for name in filenames:
            rel = os.path.normpath(os.path.join(rel_dir, name))
            if rel in WRITABLE or name.endswith(".pyc"):
                continue
            with open(os.path.join(dirpath, name), "rb") as fh:
                digests[rel] = hashlib.sha1(fh.read()).hexdigest()
    return digests


def jar_state() -> tuple[float, int] | None:
    if not os.path.exists(JAR):
        return None
    st = os.stat(JAR)
    return st.st_mtime, st.st_size


def spark_env(trace: bool) -> dict[str, str]:
    """Environment that keeps Spark's files inside the work directory;
    with ``trace`` the session also writes an uncompressed, non-rolling
    JSON event log."""
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    args = ["--driver-java-options", jvm_opts]
    if trace:
        logdir = os.path.join(WORK, "eventlog")
        shutil.rmtree(logdir, ignore_errors=True)
        os.makedirs(logdir)
        for key, value in (
            ("spark.eventLog.enabled", "true"),
            ("spark.eventLog.dir", f"file://{logdir}"),
            ("spark.eventLog.compress", "false"),
            ("spark.eventLog.rolling.enabled", "false"),
        ):
            args += ["--conf", f"{key}={value}"]
    env = dict(os.environ)
    env.update(
        TMPDIR=tmp,
        SPARK_LAUNCHER_OPTS=jvm_opts,  # spark-submit's own launcher JVM
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        PYSPARK_SUBMIT_ARGS=shlex.join(args + ["pyspark-shell"]),
    )
    return env


def child_setup(env: dict[str, str]) -> dict[str, float]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "sessions.py")],
        env=env, capture_output=True, text=True, timeout=120, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def resolve_ops(labels: tuple[str, ...]) -> list[Op]:
    from impala_hashset_count_spark.plans import all_queries

    queries = all_queries()
    ops = []
    for label in labels:
        entry, _, arm = label.partition("/")
        q = queries[entry]
        if q.oracle is None:
            raise ValueError(f"{entry} has no oracle to check against")
        ops.append(Op(label, q.arms[arm] if arm else q.fn, q.oracle))
    return ops


class Runner:
    """Runs passes over the ops and records one row per op and pass."""

    def __init__(self, spark, ops: list[Op], data_dir: str, trace: bool):
        self.spark = spark
        self.ops = ops
        self.data_dir = data_dir
        self.trace = trace
        self.attempted = 0
        self.failed = 0
        self.rows: list[dict] = []
        self.phases: list[eventlog.Phase] = []
        self.jvm_pid = jvm_pid(spark)
        #: the session JVM's memory after each pass
        self.memory: list[dict[str, float]] = []

    def _phase(self, group: str):
        if self.trace:
            self.spark.sparkContext.setJobGroup(group, group)
        return int(time.time() * 1000)

    def run_pass(self, pass_no: int) -> float:
        t_pass = time.perf_counter()
        for op in self.ops:
            self.attempted += 1
            row = {"pass": pass_no, "op": op.label}
            try:
                build = f"{pass_no}|build|{op.label}"
                w0 = self._phase(build)
                t0 = time.perf_counter()
                df = op.fn(self.spark, self.data_dir)
                t1 = time.perf_counter()
                run = f"{pass_no}|exec|{op.label}"
                w1 = self._phase(run)
                t2 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                t3 = time.perf_counter()
                w2 = int(time.time() * 1000)
                row.update(build_s=t1 - t0, run_s=t3 - t2)
                if self.trace:
                    self.phases += [
                        eventlog.Phase(build, w0, w1), eventlog.Phase(run, w1, w2)
                    ]
                    row["leaked_rdds"] = (
                        self.spark.sparkContext._jsc.getPersistentRDDs().size()
                    )
            except Exception:  # one failing op must not end the run
                self.failed += 1
                row["error"] = traceback.format_exc(limit=3)
                print(f"op {op.label} failed in pass {pass_no}:\n{row['error']}",
                      file=sys.stderr)
            self.spark.catalog.clearCache()
            self.rows.append(row)
        elapsed = time.perf_counter() - t_pass
        if self.trace:
            self.spark.sparkContext.setJobGroup("idle", "idle")
        self.memory.append(memory_mb(self.jvm_pid))
        # Every pass starts from a collected heap, so the JVM's peak
        # memory is that of one pass, not of garbage G1 happened to
        # keep across passes (without it the peak is bimodal run to run).
        self.spark.sparkContext._jvm.System.gc()
        return elapsed

    def check(self) -> list[str]:
        """Compare every op's result with its oracle on DuckDB."""
        from tests.oracle_harness import compare_query

        mismatches = []
        for op in self.ops:
            self.attempted += 1
            try:
                compare_query(self.spark, self.data_dir, op.label, op.fn, op.oracle)
            except Exception as exc:  # mismatch or error: the op failed
                self.failed += 1
                mismatches.append(f"{op.label}: {exc}")
            self.spark.catalog.clearCache()
        return mismatches


def layer_metrics(record: dict, runner: Runner, logfile: str) -> tuple[dict, dict]:
    """Per-layer metrics, each the median over the measured passes, from
    the timings and the event log; and the per-op table."""
    counters = eventlog.phase_counters(eventlog.read_events(logfile), runner.phases)
    cores = record["cores"]
    passes = record["measured_pass_nos"]
    pass_time = dict(zip(passes, record["measured_passes_s"]))

    def total(pass_no: int, kind: str | None, key: str) -> float:
        kinds = ("build", "exec") if kind is None else (kind,)
        return sum(
            counters.get(f"{pass_no}|{k}|{op.label}", {}).get(key, 0)
            for op in runner.ops for k in kinds
        )

    def per_pass(p: int) -> dict[str, float]:
        rows = [r for r in runner.rows if r["pass"] == p and "error" not in r]
        t = {k: total(p, None, k) for k in (
            "run_ms", "cpu_ns", "gc_ms", "failed_tasks",
            "shuffle_write_bytes", "shuffle_read_bytes", "shuffle_records_written",
            "spill_mem_bytes", "spill_disk_bytes", "files_read_bytes", "input_rows",
            "scan_ms", "agg_build_ms", "probe_sum", "probe_tasks", "py_run_ms",
            "py_start_ms", "py_init_ms", "py_bytes_sent", "py_bytes_returned",
        )}
        peak = max(
            (c.get("peak_exec_mem_bytes", 0) for g, c in counters.items()
             if g.startswith(f"{p}|")),
            default=0,
        )
        run_s = sum(r["run_s"] for r in rows)
        exec_jobs = total(p, "exec", "jobs")
        task_run_s = t["run_ms"] / 1e3
        return {
            "plans.build_s": sum(r["build_s"] for r in rows),
            "plans.eager_jobs": total(p, "build", "jobs"),
            "plans.eager_stages": total(p, "build", "stages"),
            "plans.leaked_persisted_rdds": sum(r["leaked_rdds"] for r in rows),
            "exec.run_s": run_s,
            "exec.jobs": exec_jobs,
            "exec.stages": total(p, "exec", "stages"),
            "exec.tasks": total(p, "exec", "tasks"),
            "exec.s_per_job": run_s / exec_jobs if exec_jobs else 0.0,
            "exec.task_run_s": task_run_s,
            "exec.task_cpu_s": t["cpu_ns"] / 1e9,
            "exec.gc_s": t["gc_ms"] / 1e3,
            "exec.failed_tasks": t["failed_tasks"],
            "exec.busy_ratio": task_run_s / (pass_time[p] * cores),
            "exec.shuffle_write_bytes": t["shuffle_write_bytes"],
            "exec.shuffle_read_bytes": t["shuffle_read_bytes"],
            "exec.spill_mem_bytes": t["spill_mem_bytes"],
            "exec.spill_disk_bytes": t["spill_disk_bytes"],
            "exec.peak_exec_mem_bytes": peak,
            "sources.input_bytes": t["files_read_bytes"],
            "sources.input_rows": t["input_rows"],
            "sources.scan_s": t["scan_ms"] / 1e3,
            "agg.build_s": t["agg_build_ms"] / 1e3,
            "agg.hash_probes_per_key": (
                t["probe_sum"] / t["probe_tasks"] / 10 if t["probe_tasks"] else 0.0
            ),
            "agg.partial_reduction": (
                t["shuffle_records_written"] / t["input_rows"] if t["input_rows"] else 0.0
            ),
            "python.run_s": t["py_run_ms"] / 1e3,
            "python.start_s": (t["py_start_ms"] + t["py_init_ms"]) / 1e3,
            "python.bytes_sent": t["py_bytes_sent"],
            "python.bytes_returned": t["py_bytes_returned"],
        }

    by_pass = [per_pass(p) for p in passes]
    metrics = {k: median([bp[k] for bp in by_pass]) for k in by_pass[0]}
    metrics["plans.cold_build_s"] = sum(
        r.get("build_s", 0.0) for r in runner.rows if r["pass"] == 0
    )
    metrics["session.get_spark_s"] = median([s["get_spark_s"] for s in record["setup"]])
    metrics["session.tune_session_s"] = median(
        [s["tune_session_s"] for s in record["setup"]]
    )
    metrics["trace.pass_s"] = record["pass_s"]
    metrics["inputs.gen_s"] = record["gen_s"]

    table = {}
    for op in runner.ops:
        def op_total(p, kind, key, label=op.label):
            return counters.get(f"{p}|{kind}|{label}", {}).get(key, 0)

        rows = {r["pass"]: r for r in runner.rows if r["op"] == op.label}
        table[op.label] = {
            "build_s": median([rows[p].get("build_s", 0.0) for p in passes]),
            "eager_jobs": median([op_total(p, "build", "jobs") for p in passes]),
            "run_s": median([rows[p].get("run_s", 0.0) for p in passes]),
            "shuffle_write_bytes": median([
                op_total(p, "build", "shuffle_write_bytes")
                + op_total(p, "exec", "shuffle_write_bytes") for p in passes
            ]),
            "python_s": median([
                (op_total(p, "build", "py_run_ms") + op_total(p, "exec", "py_run_ms"))
                / 1e3 for p in passes
            ]),
        }
    return metrics, table


def declared_units(trace: bool) -> dict[str, str]:
    """Name -> unit of the metrics ``BENCHMARK.json`` declares for the mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        declared = json.load(fh)["per_layer" if trace else "end_to_end"]
    return {m["name"]: m["unit"] for m in declared}


def run(args) -> int:
    workload = WORKLOADS[args.workload]
    trace = bool(args.trace)
    t_start = time.perf_counter()
    os.makedirs(WORK, exist_ok=True)
    before = snapshot(ROOT)
    jar_before = jar_state()

    os.environ.update(spark_env(trace))
    tempfile.tempdir = None  # re-read TMPDIR
    # The first session starts with nothing heavy imported yet, like the
    # sessions.py samples below, so every set-up sample times the same thing.
    spark, first_setup = start_session("perfbench")
    try:
        import inputs  # numpy and pyarrow, after the set-up sample

        data_dir = os.path.join(WORK, "inputs")
        t0 = time.perf_counter()
        rows = inputs.write_inputs(data_dir, workload.sf, args.seed)
        gen_s = time.perf_counter() - t0

        cores = spark.sparkContext.defaultParallelism
        runner = Runner(spark, resolve_ops(workload.ops), data_dir, trace)
        cold = runner.run_pass(0)
        warm: list[float] = []
        while len(warm) < WARMUP_MAX_PASSES and not levelled_off(warm):
            warm.append(runner.run_pass(len(warm) + 1))
        measured: list[float] = []
        first_measured = len(warm) + 1
        t_measure = time.perf_counter()
        while (
            time.perf_counter() - t_measure < args.seconds
            or len(measured) < MIN_MEASURED_PASSES
        ):
            measured.append(runner.run_pass(first_measured + len(measured)))
        # the peak of the passes, before the check collects results
        peak_rss_mb = memory_mb(runner.jvm_pid)["VmHWM"]
        t_check = time.perf_counter()
        mismatches = runner.check()
        check_s = time.perf_counter() - t_check
    finally:
        stop_session(spark)
    setup = [first_setup] + [
        child_setup(spark_env(False)) for _ in range(SETUP_SAMPLES - 1)
    ]

    after = snapshot(ROOT)
    # files the run created are not the checkout's; changed or lost ones are
    changed = sorted(p for p in before if after.get(p) != before[p])
    levelled = levelled_off(warm)
    record = {
        "workload": args.workload, "seed": args.seed, "trace": trace,
        "sf": workload.sf, "rows": rows, "cores": cores, "gen_s": gen_s,
        "setup": setup, "cold_pass_s": cold, "warmup_passes_s": warm,
        "levelled_off": levelled, "measured_passes_s": measured,
        "measured_pass_nos": list(range(first_measured, first_measured + len(measured))),
        "pass_s": median(measured), "pass_spread": quartile_spread(measured),
        "peak_rss_mb": peak_rss_mb,
        "check_s": check_s, "mismatches": mismatches, "changed_files": changed,
        "jvm_jar_rebuilt": jar_state() != jar_before,
        "memory_mb": runner.memory, "ops": runner.rows,
    }
    if trace:
        logs = glob.glob(os.path.join(WORK, "eventlog", "*"))
        if len(logs) != 1:
            raise RuntimeError(f"expected one event log, found {logs}")
        metrics, record["per_op"] = layer_metrics(record, runner, logs[0])
    else:
        metrics = {
            "setup_s": median([s["setup_s"] for s in setup]),
            "cold_pass_s": cold,
            "pass_s": record["pass_s"],
            "peak_rss_mb": peak_rss_mb,
        }
    units = declared_units(trace)
    if set(metrics) != set(units):
        raise RuntimeError(f"metrics {sorted(metrics)} differ from BENCHMARK.json {sorted(units)}")
    record["metrics"] = metrics
    record["wall_s"] = time.perf_counter() - t_start
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    with open(
        os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-trace{args.trace}.json"),
        "w", encoding="utf-8",
    ) as fh:
        json.dump(record, fh, indent=1)

    correct = not mismatches and not changed and runner.failed == 0
    for problem in mismatches:
        print(f"MISMATCH {problem}", file=sys.stderr)
    for path in changed:
        print(f"CHANGED {path}: the run modified a file of the checkout", file=sys.stderr)
    print(f"workload {args.workload} sf={workload.sf} seed={args.seed} cores={cores}")
    print(f"passes: cold {cold:.3f} s, warm-up {[round(x, 3) for x in warm]} "
          f"(levelled off: {levelled}), measured {[round(x, 3) for x in measured]} "
          f"(quartile spread {record['pass_spread']:.3f})")
    if not levelled:
        print(f"warning: warm passes still getting faster after {WARMUP_MAX_PASSES}; "
              "pass_s may sit on the warm-up slope", file=sys.stderr)
    if record["jvm_jar_rebuilt"]:
        print("note: the run rebuilt jvm/ihc-udaf.jar (cold_pass_s includes javac)")
    for op, row in record.get("per_op", {}).items():
        print("op " + op + " " + " ".join(f"{k}={v:.4g}" for k, v in row.items()))
    for name, value in metrics.items():
        print(f"{name} = {value:.6g} {units[name]}")
    print(f"ops attempted {runner.attempted}, failed {runner.failed}")
    print(json.dumps({
        "correct": correct,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "impala_hashset_count_spark", "session.py")):
        print(f"no program to benchmark under {ROOT}", file=sys.stderr)
        return 2
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
