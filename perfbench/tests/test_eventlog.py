import os

from perfbench import eventlog

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_small.jsonl")


def test_parses_jobs_spans_and_python_metrics():
    log = eventlog.parse([FIXTURE])
    assert sorted(log.jobs) == [0, 1, 2, 3]
    assert [log.jobs[j].span for j in range(4)] == ["7", "7", None, None]
    assert all(j.stages == 1 for j in log.jobs.values())
    fold = log.jobs[1]
    assert fold.tasks == 1
    assert fold.totals["py_run_ms"] == 2333
    assert fold.totals["py_init_ms"] == 2317
    assert fold.totals["py_bytes_sent"] == 33128
    assert fold.totals["py_bytes_returned"] == 720
    assert fold.totals["shuffle_read_bytes"] == 17488
    assert log.jobs[0].totals["shuffle_write_bytes"] == 17488
    assert round(log.jobs[0].totals["cpu_ms"], 3) == 263.086
    assert log.jobs[2].totals["py_run_ms"] == 0


def test_busy_time_is_the_union_of_job_intervals():
    J = eventlog.Job
    jobs = [J(0, 0, 10), J(1, 5, 20), J(2, 30, 40), J(3, 35, 0)]
    assert eventlog.busy_ms(jobs) == 30
    assert eventlog.busy_ms([]) == 0
