"""Re-record the event-log fixture that test_eventlog.py reads.

    python3 -m perfbench.tests.record_eventlog

Runs three small jobs under tracer spans in a local[2] session with the
event log on: a count by ``tile`` (the tiling exchange), a mapInPandas and
a job outside any span. Only the event kinds the reader uses are kept, and
of those only the fields it reads, so the fixture stays small and carries
nothing of the machine it was recorded on.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURE = os.path.join(HERE, "data", "events_small.jsonl")

KEEP = (
    "SparkListenerJobStart", "SparkListenerJobEnd", "SparkListenerTaskEnd",
    "SQLExecutionStart", "SQLAdaptiveExecutionUpdate",
)


def _plan(node: dict) -> dict:
    return {
        "nodeName": node["nodeName"],
        "simpleString": node["simpleString"] if node["nodeName"] == "Exchange" else node["nodeName"],
        "metrics": [{"name": m["name"], "accumulatorId": m["accumulatorId"]} for m in node["metrics"]],
        "children": [_plan(c) for c in node["children"]],
    }


def _slim(e: dict) -> dict:
    kind = e["Event"]
    if kind == "SparkListenerJobStart":
        props = e.get("Properties") or {}
        return {"Event": kind, "Job ID": e["Job ID"], "Submission Time": e["Submission Time"],
                "Stage IDs": e["Stage IDs"],
                "Properties": {k: v for k, v in props.items() if k == "spark.jobGroup.id"}}
    if kind == "SparkListenerJobEnd":
        return {"Event": kind, "Job ID": e["Job ID"], "Completion Time": e["Completion Time"]}
    if kind == "SparkListenerTaskEnd":
        info = e["Task Info"]
        return {
            "Event": kind, "Stage ID": e["Stage ID"],
            "Task Info": {
                "Launch Time": info["Launch Time"], "Finish Time": info["Finish Time"],
                "Accumulables": [{"ID": a["ID"], "Name": a["Name"], "Update": a["Update"]}
                                 for a in info["Accumulables"] if a.get("Metadata") == "sql"],
            },
            "Task Metrics": e["Task Metrics"],
        }
    return {"Event": kind, "sparkPlanInfo": _plan(e["sparkPlanInfo"])}


def record() -> None:
    from pyspark.sql import SparkSession

    from perfbench.trace import Tracer

    logdir = tempfile.mkdtemp()
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.dir", "file://" + logdir)
        .getOrCreate()
    )
    tr = Tracer(spark)
    with tr.span("tiles"):
        spark.range(10_000, numPartitions=2).selectExpr("id % 5 AS tile").groupBy("tile").count().collect()
    with tr.span("python"):
        spark.range(1000, numPartitions=2).mapInPandas(lambda it: it, "id long").collect()
    spark.range(100).count()
    spark.stop()
    events = []
    for path in sorted(glob.glob(os.path.join(logdir, "eventlog_v2_*", "events_*"))):
        with open(path) as f:
            events += [json.loads(line) for line in f if line.strip()]
    shutil.rmtree(logdir)
    os.makedirs(os.path.dirname(FIXTURE), exist_ok=True)
    with open(FIXTURE, "w") as f:
        for e in events:
            if e["Event"].endswith(KEEP):
                f.write(json.dumps(_slim(e)) + "\n")


if __name__ == "__main__":
    record()
