"""Per-layer metrics of a traced window, from its spans and the event log.

Each layer is the set of spans whose name is the layer name or starts
with it (``operators.raster`` covers ``operators.raster.polygons_to_raster``
and ``operators.raster.clip_raster_to_polygon``). A span's executor totals
are those of its own job group plus its descendants'. Per-pass values are
reported as the median over the traced passes; set-up values come from
the traced set-up.
"""

from __future__ import annotations

import statistics

from perfbench.eventlog import GroupStats
from perfbench.trace import Span, idle_s, self_times

# name -> unit, in report order; every workload reports every name (0 where
# the layer does not take part)
PER_LAYER = {
    "session.start_s": "s",
    "catalog_cache.build_s": "s",
    "catalog_cache.jobs": "count",
    "operators.tiling.extent_s": "s",
    "operators.tiling.shuffle_write_bytes": "bytes",
    "action.exec_cpu_s": "s",
    "action.gc_s": "s",
    "action.spill_bytes": "bytes",
    "action.task_skew": "ratio",
    "operators.iter.jobs": "count",
    "operators.iter.tasks": "count",
    "operators.iter.driver_idle_s": "s",
    "operators.iter.exec_run_s": "s",
    "operators.iter.query_max_s": "s",
    "operators.raster.python_total_s": "s",
    "operators.raster.python_sent_bytes": "bytes",
    "operators.raster.exec_run_s": "s",
    "operators.pip.python_total_s": "s",
    "operators.pip.python_boot_s": "s",
    "operators.pip.python_sent_bytes": "bytes",
    "operators.pip.python_received_bytes": "bytes",
    "checkpoint.stage_s": "s",
    "checkpoint.output_bytes": "bytes",
    "checkpoint.jobs": "count",
    "checkpoint.resume_s": "s",
    "io.las.write_s": "s",
    "io.las.bytes_written": "bytes",
    "io.las.python_total_s": "s",
    "io.las.read_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.exec_run_s": "s",
    "spark.exec_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.task_skew": "ratio",
    "driver.idle_s": "s",
    "trace.overhead_s": "s",
    "host.control_s": "s",
    "host.control_scaling_eff": "ratio",
    "host.loadavg": "load",
    "host.steal_frac": "ratio",
}


class SpanTree:
    def __init__(self, spans: list[Span], groups: dict[str | None, GroupStats]):
        self.spans = spans
        self.kids: dict[int, list[Span]] = {}
        for s in spans:
            if s.parent is not None:
                self.kids.setdefault(s.parent, []).append(s)
        self.own = {s.id: groups.get(s.group, GroupStats()) for s in spans}
        self.incl: dict[int, GroupStats] = {}
        for s in reversed(spans):  # children are opened after their parent
            g = GroupStats()
            g.add(self.own[s.id])
            for c in self.kids.get(s.id, []):
                g.add(self.incl[c.id])
            self.incl[s.id] = g

    def layer(self, root: Span, prefix: str) -> list[Span]:
        """Topmost descendants of ``root`` in layer ``prefix``."""
        out, todo = [], list(self.kids.get(root.id, []))
        while todo:
            s = todo.pop()
            if s.name == prefix or s.name.startswith(prefix + "."):
                out.append(s)
            else:
                todo.extend(self.kids.get(s.id, []))
        return sorted(out, key=lambda s: s.id)

    def stats(self, spans: list[Span]) -> GroupStats:
        g = GroupStats()
        for s in spans:
            g.add(self.incl[s.id])
        return g

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


def _pass_metrics(t: SpanTree, p: Span, counts: dict) -> dict[str, float]:
    wall = lambda spans: sum(s.wall for s in spans)  # noqa: E731
    act = t.layer(p, "action")
    a = t.stats(act)
    it = t.layer(p, "operators.iter")
    i = t.stats(it)
    ras = t.stats(t.layer(p, "operators.raster"))
    pip = t.stats(t.layer(p, "operators.pip"))
    allp = t.incl[p.id]
    return {
        "operators.tiling.extent_s": wall(t.layer(p, "operators.tiling.extent")),
        "operators.tiling.shuffle_write_bytes": allp.tile_shuffle_write_bytes,
        "action.exec_cpu_s": a.exec_cpu_ns / 1e9,
        "action.gc_s": a.gc_ms / 1e3,
        "action.spill_bytes": a.spill_bytes,
        "action.task_skew": a.task_skew() if act else 0.0,
        "operators.iter.jobs": i.jobs,
        "operators.iter.tasks": i.tasks,
        "operators.iter.driver_idle_s": sum(
            idle_s(s.start, s.end, t.incl[s.id].job_intervals) for s in it
        ),
        "operators.iter.exec_run_s": i.exec_run_ms / 1e3,
        "operators.iter.query_max_s": max((s.wall for s in it), default=0.0),
        "operators.raster.python_total_s": ras.python["python_total_ms"] / 1e3,
        "operators.raster.python_sent_bytes": ras.python["python_sent_bytes"],
        "operators.raster.exec_run_s": ras.exec_run_ms / 1e3,
        "operators.pip.python_total_s": pip.python["python_total_ms"] / 1e3,
        "operators.pip.python_boot_s": pip.python["python_boot_ms"] / 1e3,
        "operators.pip.python_sent_bytes": pip.python["python_sent_bytes"],
        "operators.pip.python_received_bytes": pip.python["python_received_bytes"],
        "checkpoint.stage_s": wall(t.layer(p, "checkpoint.stage")),
        "checkpoint.output_bytes": counts.get("checkpoint.output_bytes", 0),
        "checkpoint.jobs": t.stats(t.layer(p, "checkpoint")).jobs,
        "checkpoint.resume_s": wall(t.layer(p, "checkpoint.resume")),
        "io.las.write_s": wall(t.layer(p, "io.las.write")),
        "io.las.bytes_written": counts.get("io.las.bytes_written", 0),
        "io.las.python_total_s": t.stats(t.layer(p, "io.las")).python["python_total_ms"] / 1e3,
        "io.las.read_s": wall(t.layer(p, "io.las.read")),
        "spark.jobs": allp.jobs,
        "spark.tasks": allp.tasks,
        "spark.exec_run_s": allp.exec_run_ms / 1e3,
        "spark.exec_cpu_s": allp.exec_cpu_ns / 1e9,
        "spark.gc_s": allp.gc_ms / 1e3,
        "spark.shuffle_read_bytes": allp.shuffle_read_bytes,
        "spark.shuffle_write_bytes": allp.shuffle_write_bytes,
        "spark.spill_bytes": allp.spill_bytes,
        "spark.task_skew": allp.task_skew(),
        "driver.idle_s": idle_s(p.start, p.end, allp.job_intervals),
    }


def per_layer(spans, groups, traced, untraced, hostinfo, cores):
    """(metrics name -> (value, unit), per-span records)."""
    t = SpanTree(spans, groups)
    passes = [s for s in spans if s.name == "pass" and s.parent is None]
    per_pass = [_pass_metrics(t, p, rec["counts"]) for p, rec in zip(passes, traced)]
    values = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
    cache = t.named("catalog_cache.build")
    values.update({
        "session.start_s": sum(s.wall for s in t.named("session.start")),
        "catalog_cache.build_s": sum(s.wall for s in cache),
        "catalog_cache.jobs": t.stats(cache).jobs,
        "trace.overhead_s": statistics.median(p["wall"] for p in traced)
        - statistics.median(p["wall"] for p in untraced),
        "host.control_s": hostinfo["control_s"],
        "host.control_scaling_eff": hostinfo["control_1part_s"] / hostinfo["control_s"] / cores,
        "host.loadavg": hostinfo["loadavg_start"],
        "host.steal_frac": hostinfo["steal_frac"],
    })
    metrics = {k: (float(values[k]), unit) for k, unit in PER_LAYER.items()}
    self_s = self_times(spans)
    records = []
    for s in spans:
        g = t.own[s.id]
        records.append({
            "id": s.id, "name": s.name, "parent": s.parent, "attrs": s.attrs,
            "start": s.start, "end": s.end, "wall_s": s.wall, "self_s": self_s[s.id],
            "idle_s": idle_s(s.start, s.end, t.incl[s.id].job_intervals),
            "jobs": g.jobs, "tasks": g.tasks, "exec_run_s": g.exec_run_ms / 1e3,
            "exec_cpu_s": g.exec_cpu_ns / 1e9, "gc_s": g.gc_ms / 1e3,
            "shuffle_read_bytes": g.shuffle_read_bytes,
            "shuffle_write_bytes": g.shuffle_write_bytes, "spill_bytes": g.spill_bytes,
            "task_skew": g.task_skew(), **g.python,
        })
    return metrics, records
