"""The event-log reader on a small log recorded from Spark 4.1.2 and
trimmed to the events and fields the reader uses: a count-distinct job
under job group ``build:q`` (jobs 1-3) and a grouped aggregate with a
pandas UDF under ``exec:q`` (jobs 4-6). Job 0, the schema read, ran
before any group was set."""

import os
import shutil

from eventlog import Phase, phase_counters, read_events

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "small_eventlog.json")
GROUPS = [Phase("build:q", 0, 0), Phase("exec:q", 0, 0)]


def test_jobs_stages_and_tasks_follow_the_job_group():
    c = phase_counters(read_events(LOG), GROUPS)
    assert set(c) == {"build:q", "exec:q"}
    assert (c["build:q"]["jobs"], c["build:q"]["stages"], c["build:q"]["tasks"]) == (3, 3, 3)
    assert (c["exec:q"]["jobs"], c["exec:q"]["stages"], c["exec:q"]["tasks"]) == (3, 3, 3)
    assert c["exec:q"]["failed_tasks"] == 0


def test_task_metrics_are_summed_per_phase():
    c = phase_counters(read_events(LOG), GROUPS)["build:q"]
    assert c["input_rows"] == 60000
    assert c["shuffle_write_bytes"] == c["shuffle_read_bytes"] == 11669
    assert c["shuffle_records_written"] == 2001
    assert c["run_ms"] == 1238
    assert c["gc_ms"] == 21


def test_scanned_file_bytes_go_to_the_first_job_of_the_execution():
    c = phase_counters(read_events(LOG), GROUPS)
    # each execution scans the 1038963-byte lineitem file once
    assert c["build:q"]["files_read_bytes"] == 1038963
    assert c["exec:q"]["files_read_bytes"] == 1038963


def test_sql_metrics_by_name():
    c = phase_counters(read_events(LOG), GROUPS)
    assert c["build:q"]["scan_ms"] == 444
    assert c["build:q"]["agg_build_ms"] == 550
    # only the pandas UDF phase talks to Python workers
    assert "py_run_ms" not in c["build:q"]
    e = c["exec:q"]
    assert (e["py_bytes_sent"], e["py_bytes_returned"]) == (488400, 480864)
    assert (e["py_start_ms"], e["py_init_ms"], e["py_run_ms"]) == (1620, 1215, 2852)
    # Spark stores "avg hash probes per key" as value * 10 per task
    assert (e["probe_sum"], e["probe_tasks"]) == (10, 1)
    assert e["peak_exec_mem_bytes"] == 67370992


def test_ungrouped_job_falls_into_the_window_holding_its_submission():
    events = read_events(LOG)
    t0 = next(e["Submission Time"] for e in events if e.get("Job ID") == 0)
    c = phase_counters(events, [Phase("schema", t0 - 5, t0 + 5), *GROUPS])
    assert c["schema"]["jobs"] == 1
    assert c["schema"]["tasks"] == 1


def test_jobs_outside_every_phase_are_dropped():
    c = phase_counters(read_events(LOG), [Phase("exec:q", 0, 0)])
    assert set(c) == {"exec:q"}


def test_torn_last_line_is_skipped(tmp_path):
    torn = tmp_path / "log"
    shutil.copy(LOG, torn)
    with open(torn, "a", encoding="utf-8") as fh:
        fh.write('{"Event":"SparkListenerTaskEnd","Stage ID":')
    assert len(read_events(str(torn))) == len(read_events(LOG))
