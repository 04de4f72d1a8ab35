import os

import pytest

import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_tiny.jsonl")


@pytest.fixture(scope="module")
def log():
    # recorded from a local[4] session: job group g1 ran a pandas UDF
    # (two jobs), g2 a repartition + groupBy count (three jobs)
    return eventlog.parse(LOG)


def test_jobs_carry_groups_and_stages(log):
    assert [j.group for j in log.jobs.values()] == ["g1", "g1", "g2", "g2", "g2"]
    assert all(j.succeeded for j in log.jobs.values())
    assert log.jobs[4].stages == [6, 7, 8]


def test_summaries_per_group(log):
    g1 = eventlog.summarize(log, {"g1"})
    g2 = eventlog.summarize(log, {"g2"})
    assert (g1["jobs"], g1["stages"], g1["tasks"]) == (2, 2, 5)
    assert (g2["jobs"], g2["stages"], g2["tasks"]) == (3, 3, 8)
    # the pandas UDF's boundary metrics land only in g1
    assert g1["data_sent_bytes"] == 4 * 20464
    assert g1["worker_ms"] > 0 and g1["boot_ms"] > 0 and g1["init_ms"] > 0
    assert g2["data_sent_bytes"] == 0
    total = eventlog.summarize(log)
    for k in eventlog.TASK_FIELDS:
        assert total[k] == pytest.approx(g1[k] + g2[k])
    assert total["tasks_failed"] == 0


def test_busy_time_is_union_of_job_intervals(log):
    jobs = list(log.jobs.values())
    t0, t1 = jobs[0].submit_ms, jobs[-1].end_ms
    busy = eventlog.busy_ms(log, t0, t1)
    assert busy == pytest.approx(sum(j.end_ms - j.submit_ms for j in jobs))
    assert busy < t1 - t0  # no job ran in the gaps between jobs
    # clipping to a window inside the first job
    assert eventlog.busy_ms(log, t0 + 10, t0 + 20) == pytest.approx(10)
