"""Re-capture ``data/eventlog_small.jsonl``, the event log the fold tests read.

    python3 perfbench/tests/capture_eventlog.py     (from the repository root)

Runs the headline dataflow on 20k points under the job groups the ``tiles``
workload uses, plus one partitioned PIP join under the group ``part``, with
Spark's event log on. Keeps only the events and fields ``ledger.fold`` reads;
the first line holds the expected counts.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import harness as H  # noqa: E402

N = 20_000
KEEP = ("SparkListenerJobStart", "SparkListenerJobEnd", "SparkListenerStageSubmitted",
        "SparkListenerTaskEnd", "SQLExecutionStart", "SQLAdaptiveExecutionUpdate",
        "SparkListenerDriverAccumUpdates")
TASK_METRICS = ("Executor Run Time", "Executor CPU Time", "JVM GC Time", "Memory Bytes Spilled",
                "Disk Bytes Spilled", "Shuffle Read Metrics", "Shuffle Write Metrics",
                "Input Metrics")


def _slim_plan(p: dict) -> dict:
    return {"nodeName": p["nodeName"], "simpleString": p["simpleString"][:300],
            "metrics": p.get("metrics", []), "children": [_slim_plan(c) for c in p.get("children", [])]}


def _slim(e: dict) -> dict:
    props = e.get("Properties")
    if props is not None:
        e["Properties"] = {k: v for k, v in props.items() if k == "spark.jobGroup.id"}
    if "sparkPlanInfo" in e:
        e = {k: e[k] for k in ("Event", "executionId", "jobGroupId", "sparkPlanInfo") if k in e}
        e["sparkPlanInfo"] = _slim_plan(e["sparkPlanInfo"])
    e.pop("Task Executor Metrics", None)
    if "Task Info" in e:
        e["Task Info"] = {"Accumulables": [
            {k: a[k] for k in ("ID", "Name", "Update")}
            for a in e["Task Info"].get("Accumulables", [])
            if not str(a.get("Name", "")).startswith("internal.")]}
    if "Task Metrics" in e:
        m = e["Task Metrics"]
        e["Task Metrics"] = {k: m[k] for k in TASK_METRICS if k in m}
    e.pop("Stage Infos", None)
    if "Stage Info" in e:
        e["Stage Info"] = {k: e["Stage Info"][k] for k in ("Stage ID", "Stage Attempt ID")}
    return e


def main() -> None:
    H.prepare_dirs()
    sys.path.insert(0, H.ROOT)
    from pyspark.sql import functions as F

    import datagen
    from ledger import Tracer, read_events
    from pgsql2osm_spark.functions import geometry as G
    from pgsql2osm_spark.operators import spatial_join as SJ
    from tiles import Tiles

    log_dir = os.path.join(H.WORK, "eventlog", "capture")
    shutil.rmtree(log_dir, ignore_errors=True)
    spark = H.start_spark("capture", 2, event_log_dir=log_dir)
    try:
        wl = Tiles(seed=7, cores=2, n_points=N)
        tracer = Tracer(spark.sparkContext, enabled=True, layered=True)
        unit = wl.unit(spark, tracer, H.Tally())
        regions_df = spark.createDataFrame(
            [(1, G.pack_rings([datagen.boundary_ring(7)]))], SJ.REGIONS_DF_SCHEMA)
        with tracer.span("part", "part"):
            n_part = SJ.pip_join_partitioned(spark, datagen.jvm_points(spark, N, 7, 2), regions_df).count()
        n_res = int(SJ.build_cover(wl.regions)[0]["res"].nunique())
        spark.range(1).agg(F.count(F.lit(1))).collect()
    finally:
        spark.stop()
        H.stop_jvm()
    meta = {"points": N, "cover_resolutions_broadcast": n_res,
            "joined_rows_broadcast": unit["layer"]["spatial_join.count"],
            "joined_rows_partitioned": n_part}
    out = os.path.join(HERE, "data", "eventlog_small.jsonl")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        f.write(json.dumps(meta) + "\n")
        events = [e for e in read_events(log_dir) if e["Event"].endswith(KEEP)]
        # fold reads only the last plan of each execution
        last = {e["executionId"]: i for i, e in enumerate(events)
                if e["Event"].endswith("SQLAdaptiveExecutionUpdate")}
        for i, e in enumerate(events):
            if e["Event"].endswith("SQLAdaptiveExecutionUpdate") and last[e["executionId"]] != i:
                continue
            f.write(json.dumps(_slim(e), separators=(",", ":")) + "\n")
    shutil.rmtree(log_dir, ignore_errors=True)
    print(f"wrote {out}: {meta}")


if __name__ == "__main__":
    main()
