"""Every workload at a tiny size through the traced path: set-up, one
pass, output checks, event log, per-layer metrics. Also the command-line
contract that needs no Spark."""

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import layers, run
from perfbench.eventlog import log_files, read_events, summarize
from perfbench.trace import Tracer
from perfbench.workloads import WORKLOADS, FlagshipTag, HydroPolygonExport

HOST = {"control_s": 1.0, "control_1part_s": 3.0, "loadavg_start": 0.5, "steal_frac": 0.0}


def tiny_workloads():
    return [
        FlagshipTag(n_docs=20_000),
        # 4 x 71 ring vertices: above EXPR_MAX_VERTICES, so the Arrow path
        HydroPolygonExport(hydro_docs=500, grid=125, n_polys=4, n_vertices=70,
                           pip_docs=2000, export_docs=5000),
    ]


@pytest.fixture(scope="module")
def work(tmp_path_factory):
    w = str(tmp_path_factory.mktemp("perfbench"))
    run.configure_env(w)
    yield w


@pytest.mark.parametrize("wl", tiny_workloads(), ids=lambda w: w.name)
def test_tiny_workload_passes_checks_and_reports_layers(wl, work):
    b = run.Bench(wl, seed=7, work=work)
    try:
        b.setup(1, 1, tracer_factory=Tracer, eventlog=True)
        traced, plain = b.paired_window(b.ctx_cur, b.ctx(), 0.0)
        assert b.check(b.ctx_cur)
        assert b.failed == 0 and b.attempted == 3 * len(wl.ops)
        app = b.spark.sparkContext.applicationId
        b.spark.stop()
        b.spark = None
    finally:
        if b.spark is not None:
            b.spark.stop()
    groups = summarize(read_events(log_files(b.eventlog_dir, app)))
    metrics, records = layers.per_layer(b.ctx_cur.tracer.spans, groups, traced, plain, HOST, b.cores)
    v = {k: val for k, (val, _) in metrics.items()}
    assert set(v) == set(layers.PER_LAYER)
    assert v["spark.jobs"] > 0 and v["session.start_s"] > 0
    assert v["trace.overhead_s"] == traced[0]["wall"] - plain[0]["wall"]
    # the span-free pass left no spans: one traced pass, one warm-up pass
    assert [r["name"] for r in records].count("pass") == 2
    assert v["host.control_scaling_eff"] == pytest.approx(3.0 / b.cores)
    assert {r["name"] for r in records} >= {"session.start", "setup.prepare", "pass"}
    python = [k for k in v if "python" in k]
    if wl.name == "flagship_tag":
        assert v["operators.tiling.extent_s"] > 0
        assert v["operators.tiling.shuffle_write_bytes"] > 0
        assert v["action.exec_cpu_s"] > 0
        assert all(v[k] == 0 for k in python)
    else:
        assert v["catalog_cache.jobs"] > 0
        assert v["operators.iter.jobs"] > 0 and v["operators.iter.query_max_s"] > 0
        assert v["operators.raster.python_total_s"] > 0
        assert v["operators.pip.python_sent_bytes"] > 0
        assert v["checkpoint.jobs"] > 0 and v["checkpoint.output_bytes"] > 0
        assert v["io.las.bytes_written"] > 0 and v["io.las.python_total_s"] > 0
        assert v["operators.tiling.extent_s"] == 0  # the export passes its extent


def test_benchmark_json_matches_the_code():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.PER_LAYER


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copytree(os.path.join(run.ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), tmp_path)
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "flagship_tag", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert r.returncode != 0
    assert r.stdout.strip() == ""
