"""The event-log reader and the span arithmetic, on a small recorded log.

``data/eventlog_small.jsonl`` is the start of a traced web_pipeline run's
event log (jobs 0-8, trimmed to the fields the reader uses, plus a few
events the reader must skip); ``data/spans_small.json`` holds that run's
first 14 spans. Run with ``python3 -m pytest perfbench/tests``.
"""

from __future__ import annotations

import json
import os

import pytest

from ledger import Job, Ledger, charge_jobs, read_event_log, self_time, union_length

DATA = os.path.join(os.path.dirname(__file__), "data")


@pytest.fixture(scope="module")
def jobs():
    with open(os.path.join(DATA, "eventlog_small.jsonl")) as fh:
        return read_event_log(fh)


@pytest.fixture(scope="module")
def spans():
    with open(os.path.join(DATA, "spans_small.json")) as fh:
        return json.load(fh)


def test_union_length_merges_and_clips():
    assert union_length([], 0, 10) == 0
    assert union_length([(1, 3), (2, 5), (8, 12)], 0, 10) == 6
    assert union_length([(-5, 20)], 0, 10) == 10
    assert union_length([(11, 12), (-3, -1)], 0, 10) == 0
    assert union_length([(1, 2), (2, 3)], 0, 10) == 2


def test_self_time_subtracts_union_of_children():
    parent = {"start": 0.0, "end": 10.0}
    kids = [{"start": 1.0, "end": 3.0}, {"start": 2.0, "end": 5.0},
            {"start": 8.0, "end": 12.0}]
    assert self_time(parent, kids) == pytest.approx(4.0)
    assert self_time(parent, []) == pytest.approx(10.0)
    # concurrent children (a write pool) never push self time below zero
    pool = [{"start": 0.0, "end": 10.0}] * 5
    assert self_time(parent, pool) == pytest.approx(0.0)


def test_reader_keeps_jobs_groups_and_task_metrics(jobs):
    assert [j.job_id for j in jobs] == list(range(9))
    assert jobs[0].group is None and jobs[2].group == "pb-1"
    assert [j.tasks for j in jobs] == [4, 1, 1, 4, 4, 4, 4, 4, 4]
    # job 2 is the engine's one-task parquet write warm-up
    assert jobs[2].cpu_s == pytest.approx(0.3471, abs=1e-4)
    assert jobs[2].end - jobs[2].submit == pytest.approx(1.372, abs=1e-3)
    # job 1 reads the shuffle job 0 wrote
    assert jobs[0].shuffle_write == 236 and jobs[1].shuffle_read == 236


def test_reader_skips_other_events_splits_python_time_and_closes_open_jobs():
    lines = [
        '{"Event":"SparkListenerTaskStart","Stage ID":0}',
        '{"Event":"SparkListenerJobStart","Job ID":7,"Submission Time":5000,'
        '"Stage IDs":[3,4],"Properties":{"spark.jobGroup.id":"pb-9"}}',
        '{"Event":"SparkListenerTaskEnd","Stage ID":4,"Task Info":{"Accumulables":['
        '{"Name":"time to run Python workers","Update":"1500"},'
        '{"Name":"time to start Python workers","Update":"250"},'
        '{"Name":"data sent to Python workers","Update":"100"},'
        '{"Name":"scan time","Update":"9000"}]},"Task Metrics":'
        '{"Executor CPU Time":2000000000,"JVM GC Time":500,"Memory Bytes Spilled":7}}',
        '{"Event":"SparkListenerTaskEnd","Stage ID":99,"Task Metrics":{}}',
    ]
    (job,) = read_event_log(lines)
    assert (job.tasks, job.cpu_s, job.gc_s, job.spill) == (1, 2.0, 0.5, 7)
    # Python stage time and Arrow bytes come from the task's SQL metrics
    assert (job.python_s, job.python_bytes) == (1.5, 100)
    assert job.end == job.submit == 5.0


def test_jobs_charged_by_group_then_by_interval(jobs, spans):
    direct = charge_jobs(jobs, spans)
    charged = {sid: [j.job_id for j in js] for sid, js in direct.items() if js}
    # jobs 0 and 1 (session warm-up) ran before any span: charged nowhere
    assert charged == {1: [2], 3: [3], 11: [5], 12: [6, 7, 8], 14: [4]}
    # an ungrouped job goes to the innermost span containing its submission
    wave = next(s for s in spans if s["name"] == "engine.run_wave")
    stray = Job(job_id=99, group=None, submit=wave["start"] + 0.01, end=wave["start"] + 0.02)
    direct = charge_jobs([stray], spans)
    assert [s for s, js in direct.items() if js] == [6]  # storage.read inside the wave


def test_ledger_rolls_up_children(jobs, spans):
    led = Ledger(spans, jobs)
    (init,) = led.named("engine.init")
    assert led.driver_gap(init) == pytest.approx(1.712 - 1.372, abs=2e-3)
    (run,) = led.named("engine.run")
    t = led.totals([run])
    assert (t["jobs"], t["tasks"]) == (6, 24)
    (wave,) = led.named("engine.run_wave")
    assert sorted(j.job_id for j in led.inclusive_jobs(wave)) == [4, 5, 6, 7, 8]
    # the wave's self time excludes its reads and its concurrent writes
    assert 0 < led.self_time(wave) < wave["end"] - wave["start"]
    rows = {r["layer"]: r for r in led.table()}
    assert rows["storage.stage_write"]["calls"] == 6
