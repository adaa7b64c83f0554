"""``export``: ``cli.main`` as a user runs it, then the same job resumed.

Set-up writes a seeded multi-file points parquet and a boundaries table
(region_id, wkb). The CLI selects one large polygon with ``--osm-rel-id``,
which takes the partitioned PIP path (``spatial_join.pip_join_partitioned``,
distributed cover) and writes through the bucketed manifest writer
(``manifest.write_stage_with_manifest``). A second ``cli.main`` with the same
``--job-id`` is the resume: every bucket is already done. A unit runs the
resume three times.

The traced run wraps ``pip_join_partitioned`` and
``write_stage_with_manifest`` at module level, so the spans and job groups
inside the CLI are the benchmark's; no program file changes.
"""

from __future__ import annotations

import contextlib
import io
import os
import shutil
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

import datagen
from harness import WORK
from tiles import crossing_parity

REL_ID = 900001
N_POINTS = 500_000
# The bucketed writer emits (buckets hit) x (writing tasks) files. At the
# CLI's default zoom 12 every one of its 256 buckets is hit and a unit writes
# ~3,400 files for ~80k rows (16 s warm on 4 cores), more than the run budget
# holds; at zoom 8 it writes ~250, which still take most of the write time.
ZOOM = 8
INPUT_FILES = 2
RESUMES = 3  # resume_s is their median: one resume is short and noisy


class Export:
    name = "export"

    def __init__(self, seed: int, cores: int):
        self.seed, self.n = seed, N_POINTS
        self.base = os.path.join(WORK, "data", f"export-{seed}")
        self.points = os.path.join(self.base, "points")
        self.boundaries = os.path.join(self.base, "boundaries")
        self.ring = datagen.boundary_ring(seed)
        self.runs = 0
        self.last_out: str | None = None

    def prepare(self, spark) -> None:
        import pyarrow as pa

        from pgsql2osm_spark.functions import geometry as G

        shutil.rmtree(self.base, ignore_errors=True)
        datagen.jvm_points(spark, self.n, self.seed, INPUT_FILES).write.parquet(self.points)
        decoys = [np.array([[x, -40.0], [x + 5, -40.0], [x + 5, -35.0], [x, -35.0]])
                  for x in (-120.0, 60.0)]
        rings = [self.ring, *decoys]
        os.makedirs(self.boundaries)
        pq.write_table(pa.table({  # spatial_join.REGIONS_DF_SCHEMA
            "region_id": pa.array([REL_ID + i for i in range(len(rings))], pa.int64()),
            "wkb": pa.array([G.pack_rings([r]) for r in rings], pa.binary()),
        }), os.path.join(self.boundaries, "part-0.parquet"))

    def _cli(self, spark, out: str, job: str) -> float:
        from pgsql2osm_spark import cli

        argv = ["--input", self.points, "--boundaries", self.boundaries,
                "--osm-rel-id", str(REL_ID), "--out", out, "--job-id", job, "--zoom", str(ZOOM)]
        t0 = time.perf_counter()
        with contextlib.redirect_stdout(io.StringIO()):  # per-stage progress lines
            rc = cli.main(argv, spark=spark)
        wall = time.perf_counter() - t0
        if rc != 0:
            raise RuntimeError(f"cli.main exited {rc}")
        return wall

    def warmup(self, spark, tally) -> None:
        """None: a user runs the CLI in a fresh process, so the measured run
        pays the first-call costs a user pays (code generation, Python-worker
        start). A warmed unit measured noisier from run to run."""

    def unit(self, spark, tracer, tally) -> dict:
        if self.last_out:
            shutil.rmtree(self.last_out, ignore_errors=True)
        self.runs += 1
        out = os.path.join(self.base, f"out-{self.runs}")
        job = f"bench{self.runs}"
        spans, resumes = [], []
        with _traced_calls(tracer, "first"):
            with tracer.span("cli", "first.cli") as s:
                first = self._cli(spark, out, job)
        spans.append(s)
        self.manifest_rows = pq.read_table(os.path.join(out, "_manifest")).num_rows
        for _ in range(RESUMES):
            with _traced_calls(tracer, "resume"):
                with tracer.span("cli.resume", "resume.cli") as s:
                    resumes.append(self._cli(spark, out, job))
            spans.append(s)
        tally.ok(1 + RESUMES)
        self.last_out = out
        layer = {"cli_spans": [(s["start"], s["end"]) for s in spans]} if tracer.enabled else {}
        return {"wall": first, "resume": statistics.median(resumes), "ops": [first],
                "rows": self.n, "layer": layer}

    def verify(self, spark, tally) -> None:
        """Rows read back == manifest row_count sum == an independent
        inside-boundary count; the resume appended no manifest rows."""
        from pyspark.sql import functions as F

        from pgsql2osm_spark.plans import manifest as M

        out = self.last_out
        manifest = pq.read_table(os.path.join(out, "_manifest")).to_pandas()
        tally.check(len(manifest) == self.manifest_rows,
                    f"export: resumes appended {len(manifest) - self.manifest_rows} manifest rows")
        m_rows = int(M.read_manifest(spark, out).agg(F.sum("row_count")).collect()[0][0])
        read_back = spark.read.parquet(os.path.join(out, "tiles")).count()
        x0, y0 = self.ring.min(axis=0)
        x1, y1 = self.ring.max(axis=0)
        pts = spark.read.parquet(self.points).where(
            F.col("lon").between(float(x0), float(x1)) & F.col("lat").between(float(y0), float(y1))
        ).select("lon", "lat").toPandas()
        inside = int(crossing_parity(pts["lon"].to_numpy(), pts["lat"].to_numpy(), self.ring).sum())
        tally.check(read_back == m_rows == inside,
                    f"export: read back {read_back}, manifest {m_rows}, reference {inside}")

    def e2e(self, units: list[dict]) -> dict:
        walls = [u["wall"] for u in units]
        return {"wall": walls, "ops": walls, "resume": [u["resume"] for u in units],
                "rows_per_s": [u["rows"] / u["wall"] for u in units]}

    def layers(self, led, tracer, units: list[dict]) -> dict:
        k = len(units)
        def span_wall(group):
            return sum(s["end"] - s["start"] for s in tracer.spans if s["group"] == group) / k

        sj = led.spatial("first.")
        written = led.node_metric("first.manifest", "Execute InsertIntoHadoopFsRelationCommand",
                                  "number of written files")
        out_bytes = led.node_metric("first.manifest", "Execute InsertIntoHadoopFsRelationCommand",
                                    "written output")
        out_rows = led.node_metric("first.manifest", "Execute InsertIntoHadoopFsRelationCommand",
                                   "number of output rows")
        cli_spans = [iv for u in units for iv in u["layer"]["cli_spans"]]
        return {
            "spatial_join.build_s": span_wall("first.spatial_join"),
            "spatial_join.exec_s": sj["exec_s"] / k,
            "spatial_join.probe_rows": sj["probe_rows"] / k,
            "spatial_join.refine_rows": sj["refine_rows"] / k,
            "spatial_join.accepted_rows": sj["accepted_rows"] / k,
            "spatial_join.accept_ratio": sj["accept_ratio"],
            "spatial_join.python_s": sj["python_s"] / k,
            "spatial_join.shuffle_bytes": sj["shuffle_bytes"] / k,
            "manifest.write_s": span_wall("first.manifest"),
            "manifest.input_passes": led.plan_count("first.manifest", "join") / k,
            "manifest.files_written": written / k,
            "manifest.bytes_per_row": out_bytes / out_rows if out_rows else 0.0,
            "manifest.resume_jobs": led.select("resume.manifest")["jobs"] / (k * RESUMES),
            "cli.driver_s": sum((b - a) - led.jobs_within(a, b) for a, b in cli_spans) / k,
        }

    def cleanup(self) -> None:
        shutil.rmtree(self.base, ignore_errors=True)


@contextlib.contextmanager
def _traced_calls(tracer, phase: str):
    """Route the CLI's calls into the join and the manifest writer through
    spans with their own job groups (traced runs only)."""
    if not tracer.enabled:
        yield
        return
    from pgsql2osm_spark.operators import spatial_join as SJ
    from pgsql2osm_spark.plans import manifest as M

    originals = (SJ.pip_join_partitioned, M.write_stage_with_manifest)

    def wrap(fn, name, group):
        def call(*a, **kw):
            with tracer.span(name, group):
                return fn(*a, **kw)
        return call

    SJ.pip_join_partitioned = wrap(originals[0], "spatial_join.build", f"{phase}.spatial_join")
    M.write_stage_with_manifest = wrap(originals[1], "manifest.write", f"{phase}.manifest")
    try:
        yield
    finally:
        SJ.pip_join_partitioned, M.write_stage_with_manifest = originals

