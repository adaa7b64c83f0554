"""Benchmark entry point.

    python3 perfbench/run.py --workload tiles|suite|export --seed N \
        --seconds S --trace 0|1

Run from the repository root. The last line of stdout is the result:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ledger
(see perfbench/README.md).
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness as H  # noqa: E402

SETUPS = 5  # set-ups per run; setup_s is their median (the first also launches the JVM)

END_TO_END = [
    ("setup_s", "s"),
    ("wall_s", "s"),
    ("rows_per_s", "rows/s"),
    ("query_p50_s", "s"),
    ("query_p80_s", "s"),
    ("resume_s", "s"),
]

_GROUP_METRICS = [
    (f"{g}.{m}", u)
    for g in ("closure", "curation", "dedup", "multimodal", "streaming", "relational", "spatial")
    for m, u in (("build_s", "s"), ("exec_s", "s"), ("jobs", "count"), ("python_s", "s"))
]
PER_LAYER = [
    ("session.start_s", "s"), ("session.warmup_s", "s"),
    ("sources.scan_tasks", "count"), ("sources.bytes_read", "bytes"),
    ("sources.single_task_stage_s", "s"),
    ("cells.exec_s", "s"), ("cells.rows_out", "rows"),
    ("spatial_join.build_s", "s"), ("spatial_join.exec_s", "s"),
    ("spatial_join.probe_rows", "rows"), ("spatial_join.refine_rows", "rows"),
    ("spatial_join.accepted_rows", "rows"), ("spatial_join.accept_ratio", "ratio"),
    ("spatial_join.python_s", "s"), ("spatial_join.shuffle_bytes", "bytes"),
    ("tile_agg.exec_s", "s"), ("tile_agg.shuffle_write_bytes", "bytes"),
    ("tile_agg.groups", "count"),
    *_GROUP_METRICS,
    ("manifest.write_s", "s"), ("manifest.input_passes", "count"),
    ("manifest.files_written", "count"), ("manifest.bytes_per_row", "bytes/row"),
    ("manifest.resume_jobs", "count"),
    ("cli.driver_s", "s"),
    ("exec.tasks", "count"), ("exec.run_s", "s"), ("exec.cpu_s", "s"), ("exec.gc_s", "s"),
    ("exec.spill_bytes", "bytes"), ("exec.task_skew", "ratio"), ("exec.peak_rss_mb", "MB"),
    ("driver.build_s", "s"),
    ("trace.overhead_s", "s"),
]


def workload(name: str, seed: int, cores: int):
    if name == "tiles":
        from tiles import Tiles
        return Tiles(seed, cores)
    if name == "suite":
        from suite import Suite
        return Suite(seed, cores)
    from export import Export
    return Export(seed, cores)


def timed_units(wl, spark, tracer, tally, seconds: float) -> list[dict]:
    """Whole units until ``seconds`` have passed (at least one)."""
    units = []
    t0 = time.perf_counter()
    while not units or time.perf_counter() - t0 < seconds:
        try:
            units.append(wl.unit(spark, tracer, tally))
        except Exception as ex:
            tally.fail(f"{wl.name} unit: {type(ex).__name__}: {str(ex)[:300]}")
            if time.perf_counter() - t0 >= seconds:
                break
    return units


def end_to_end(wl, units, setups) -> dict:
    e = wl.e2e(units)
    values = {
        "setup_s": H.median(setups),
        "wall_s": H.median(e["wall"]),
        "rows_per_s": H.median(e["rows_per_s"]),
        "query_p50_s": H.percentile(e["ops"], 50),
        "query_p80_s": H.percentile(e["ops"], 80),
        "resume_s": H.median(e["resume"]),
    }
    return {name: (values[name], unit) for name, unit in END_TO_END}


def common_layers(led, tracer, units) -> dict:
    k = len(units)
    tot = led.select("")
    top = [s for s in tracer.spans if s["parent"] is None]
    return {
        "sources.scan_tasks": tot["scan_tasks"] / k,
        "sources.bytes_read": tot["input_bytes"] / k,
        "sources.single_task_stage_s": tot["single_task_stage_s"] / k,
        "exec.tasks": tot["tasks"] / k,
        "exec.run_s": tot["run_s"] / k,
        "exec.cpu_s": tot["cpu_s"] / k,
        "exec.gc_s": tot["gc_s"] / k,
        "exec.spill_bytes": tot["spill_bytes"] / k,
        "exec.task_skew": H.median(tot["skews"]) if tot["skews"] else 1.0,
        "driver.build_s": sum((s["end"] - s["start"]) - led.jobs_within(s["start"], s["end"])
                              for s in top) / k,
    }


def run(args) -> int:
    wl = workload(args.workload, args.seed, H.nproc())
    try:
        return measure(wl, args)
    finally:
        wl.cleanup()


def measure(wl, args) -> int:
    from ledger import Tracer, fold, read_events

    cores = H.nproc()
    load_before = os.getloadavg()
    tally = H.Tally()

    # Each set-up: session (the first launches the JVM; later ones start a
    # fresh SparkContext in it), one trivial job, the workload's inputs.
    spark, session_start, setups = None, 0.0, []
    for _ in range(SETUPS):
        t = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = H.start_spark("perfbench", cores)
        session_start = session_start or time.perf_counter() - t
        spark.range(1000).count()
        wl.prepare(spark)
        setups.append(time.perf_counter() - t)
    env = H.environment(spark, args.seed, cores)

    t = time.perf_counter()
    wl.warmup(spark, tally)
    warmup_s = time.perf_counter() - t

    units = timed_units(wl, spark, Tracer(), tally, args.seconds)
    peak_mb = H.peak_rss_mb()
    if not units:
        print("perfbench: no unit completed", file=sys.stderr)
        return 1
    wl.verify(spark, tally)
    metrics = end_to_end(wl, units, setups)
    ops = wl.e2e(units)["ops"]
    record = {"workload": wl.name, "trace": args.trace, "env": env,
              "units": len(units), "op_samples": len(ops),
              "tail_percentile_with_10_beyond": H.tail_percentile(len(ops)),
              "unit_walls": [u["wall"] for u in units], "op_walls": ops,
              "warmup_s": warmup_s, "setups_s": setups, "peak_rss_mb": peak_mb}

    if args.trace:
        # Untraced and traced units, each right after a SparkContext restart
        # in the now-warm JVM and both with the per-layer jobs, so the
        # overhead compares like with like.
        run_id = f"{wl.name}-{args.seed}-{os.getpid()}"
        log_dir = os.path.join(H.WORK, "eventlog", run_id)
        spark.stop()
        spark = H.start_spark("perfbench", cores)
        plain = timed_units(wl, spark, Tracer(layered=True), tally, args.seconds)
        spark.stop()
        spark = H.start_spark("perfbench-traced", cores, event_log_dir=log_dir)
        tracer = Tracer(spark.sparkContext, enabled=True, layered=True)
        traced = timed_units(wl, spark, tracer, tally, args.seconds)
        spark.stop()  # flushes the event log
        if not (plain and traced):
            print("perfbench: no traced unit completed", file=sys.stderr)
            return 1
        led = fold(read_events(log_dir))
        layer = {name: 0.0 for name, _ in PER_LAYER}
        layer.update(common_layers(led, tracer, traced))
        layer.update(wl.layers(led, tracer, traced))
        layer["session.start_s"] = session_start
        layer["session.warmup_s"] = warmup_s
        layer["exec.peak_rss_mb"] = peak_mb
        layer["trace.overhead_s"] = (H.median([u["wall"] for u in traced])
                                     - H.median([u["wall"] for u in plain]))
        tracer.dump(os.path.join(H.WORK, "runs", f"spans-{run_id}.json"))
        shutil.rmtree(log_dir, ignore_errors=True)
        record["end_to_end"] = {k: v for k, (v, _) in metrics.items()}
        record["traced_units"] = len(traced)
        units_of = dict(PER_LAYER)
        metrics = {name: (float(layer[name]), units_of[name]) for name, _ in PER_LAYER}
        print_table(wl.name, metrics)

    record["env"]["load_before"] = load_before
    record["env"]["load_after"] = os.getloadavg()
    H.emit(record, tally, metrics)
    return 0


def print_table(name: str, metrics: dict) -> None:
    print(f"per-layer ledger, workload {name} (per unit)")
    for key, (value, unit) in metrics.items():
        layer, metric = key.split(".", 1)
        print(f"  {layer:<13} {metric:<22} {value:>16.4f} {unit}")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=["tiles", "suite", "export"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    H.prepare_dirs()
    sys.path.insert(0, H.ROOT)
    try:
        import pgsql2osm_spark  # noqa: F401
    except ImportError as ex:
        print(f"perfbench: the engine is not importable from {H.ROOT}: {ex}", file=sys.stderr)
        return 2
    try:
        return run(args)
    finally:
        H.stop_jvm()


if __name__ == "__main__":
    sys.exit(main())
