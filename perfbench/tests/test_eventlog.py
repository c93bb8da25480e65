"""The event-log reader against a small recorded log (record_eventlog.py):
span "tiles" (id 0) counts by tile, span "python" (id 1) runs a
mapInPandas, and one job runs outside any span."""

import os

import pytest

from perfbench.eventlog import log_files, read_events, summarize
from perfbench.tests.record_eventlog import FIXTURE


@pytest.fixture(scope="module")
def events():
    return list(read_events([FIXTURE]))


def test_every_task_is_attributed_once(events):
    groups = summarize(events)
    n_tasks = sum(e["Event"] == "SparkListenerTaskEnd" for e in events)
    n_jobs = sum(e["Event"] == "SparkListenerJobStart" for e in events)
    assert sum(g.tasks for g in groups.values()) == n_tasks
    assert sum(g.jobs for g in groups.values()) == n_jobs
    assert set(groups) == {"perfbench-0", "perfbench-1", None}
    for g in groups.values():
        assert len(g.job_intervals) == g.jobs
        assert all(end >= start for start, end in g.job_intervals)


def test_tile_exchange_bytes_go_to_the_tiling_span(events):
    groups = summarize(events)
    tiles, py = groups["perfbench-0"], groups["perfbench-1"]
    assert tiles.shuffle_write_bytes > 0
    assert tiles.tile_shuffle_write_bytes == tiles.shuffle_write_bytes
    assert tiles.shuffle_read_bytes > 0
    assert py.tile_shuffle_write_bytes == 0
    assert all(v == 0 for v in tiles.python.values())


def test_python_metrics_come_from_the_python_nodes(events):
    py = summarize(events)["perfbench-1"]
    naive = {}
    for e in events:
        if e["Event"] == "SparkListenerTaskEnd":
            for a in e["Task Info"]["Accumulables"]:
                naive[a["Name"]] = naive.get(a["Name"], 0) + int(a["Update"])
    assert py.python["python_sent_bytes"] == naive["data sent to Python workers"] > 0
    assert py.python["python_received_bytes"] == naive["data returned from Python workers"] > 0
    assert py.python["python_total_ms"] == naive["time to run Python workers"] > 0
    assert py.exec_run_ms > 0 and py.exec_cpu_ns > 0


def test_log_files_orders_rolling_parts_numerically(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    for n in (2, 10, 1):
        (d / f"events_{n}_local-1").write_text("")
    (d / "appstatus_local-1").write_text("")
    got = [os.path.basename(p) for p in log_files(str(tmp_path), "local-1")]
    assert got == ["events_1_local-1", "events_2_local-1", "events_10_local-1"]
    with pytest.raises(FileNotFoundError):
        log_files(str(tmp_path), "local-2")
