"""``suite``: many short queries from the registry (``__spark_entry__.queries()``)
over benchmark-generated tables.

A full pass over all 50 entries takes 40-65 s on 4 cores, which the
benchmark's time budget cannot hold, so the workload runs a fixed subset that
keeps every operator group: relational scans and joins (one-file, one-row-
group tables, so single-task stages show), spatial (including a pip_* probe
path), curation/text, dedup/similarity, multimodal, closure and streaming.

Every query is the registry entry itself. ``streaming_tiles`` puts its
scratch dir on /dev/shm when the host has one, and the benchmark writes only
inside its checkout, so during a pass ``tempfile.mkdtemp`` makes its dirs in
the benchmark's temp dir: the path the entry itself takes on a host without
/dev/shm. The pass removes them when it ends.

One unit is one pass in a session that has run no query yet: each query is
built and its output collected to the driver; the collected outputs are checked after the timed region, against
the registry's DuckDB oracle SQL with the comparison ``tools/oracle_check.py``
makes or, for a query whose oracle is a golden file pinned to the
repository's own test data (``SF_PINNED_ORACLES``), against the independent
recomputation in ``tools/make_golden.py`` run on the benchmark's tables. A
noop-sink pass would need a second, checking pass the run budget cannot hold.
"""

from __future__ import annotations

import contextlib
import glob
import os
import shutil
import sys
import tempfile
import time

import datagen
from harness import ROOT, TMP_DIR, WORK

SF = 0.01

# (registry name, operator group), in registry order.
QUERIES = [
    ("h3_encode", "spatial"),
    ("semi_join_parents", "relational"),
    ("grouped_counts", "relational"),
    ("events_sessions", "relational"),
    ("doc_features", "curation"),
    ("audio_features", "multimodal"),
    ("pii_scrub", "curation"),
    ("exact_dedup", "dedup"),
    ("streaming_tiles", "streaming"),
    ("pip_fixture_regions", "spatial"),
    ("video_frames", "multimodal"),
    ("closure_bucketed", "closure"),
    ("s2_encode", "spatial"),
]
GROUPS = ["closure", "curation", "dedup", "multimodal", "streaming", "relational", "spatial"]


class Suite:
    name = "suite"

    def __init__(self, seed: int, cores: int):
        sys.path.insert(0, os.path.join(ROOT, "tools"))
        import __spark_entry__ as E

        self.E = E
        self.seed = seed
        self.sf_dir = os.path.join(WORK, "data", f"suite-{seed}")
        self.registry = E.queries()
        self.input_rows = 0
        self.last: dict = {}

    # -- workload protocol --------------------------------------------------
    def prepare(self, spark) -> None:
        shutil.rmtree(self.sf_dir, ignore_errors=True)
        rows = datagen.write_tables(self.sf_dir, SF, self.seed)
        self.input_rows = sum(rows.values())

    def warmup(self, spark, tally) -> None:
        """None: the pass is timed cold, as a fresh session runs the registry.
        Each query's first run pays its own plan's code generation and
        Python-worker start, which is the driver-side cost this workload is
        for; a warmed pass measured ~4x noisier run to run."""

    def unit(self, spark, tracer, tally) -> dict:
        ops, layer, outputs = [], {}, {}
        t_pass = time.perf_counter()
        with _scratch_in_checkout():
            self._pass(spark, tracer, tally, ops, layer, outputs)
        wall = time.perf_counter() - t_pass
        for d in glob.glob(os.path.join(TMP_DIR, "stream_q_*")):
            shutil.rmtree(d, ignore_errors=True)
        self.last = outputs
        return {"wall": wall, "ops": ops, "rows": self.input_rows, "layer": layer}

    def _pass(self, spark, tracer, tally, ops, layer, outputs) -> None:
        for name, group in QUERIES:
            t0 = time.perf_counter()
            try:
                with tracer.span(f"{group}:{name}", f"{group}:{name}"):
                    with tracer.span(f"{name}.build") as b:
                        df = self.registry[name](spark, self.sf_dir)
                    with tracer.span(f"{name}.exec") as x:
                        outputs[name] = df.toPandas()
            except Exception as ex:  # one failing query must not hide the others
                tally.fail(f"suite {name}: {type(ex).__name__}: {str(ex)[:200]}")
                continue
            ops.append(time.perf_counter() - t0)
            tally.ok()
            if tracer.enabled:
                for k, s in (("build_s", b), ("exec_s", x)):
                    key = f"{group}.{k}"
                    layer[key] = layer.get(key, 0.0) + s["end"] - s["start"]

    def verify(self, spark, tally) -> None:
        """Check the last pass's outputs (each query counts as one operation)."""
        import duckdb
        import make_golden
        import oracle_check

        con = duckdb.connect()
        for t in datagen.TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        oracles = self.E.oracle_sql()
        for name, pdf in self.last.items():
            if name in self.E.SF_PINNED_ORACLES:
                try:
                    make_golden.ORACLE_QUERIES[name](pdf, self.sf_dir)
                    problems = []
                except AssertionError as ex:
                    problems = [str(ex)[:200]]
            else:
                problems = oracle_check.compare(name, pdf, con.sql(oracles[name]).df())
            tally.check(not problems, f"suite {name}: {problems}")
        con.close()

    def e2e(self, units: list[dict]) -> dict:
        walls = [u["wall"] for u in units]
        return {"wall": walls, "ops": [t for u in units for t in u["ops"]],
                "resume": walls[1:] or walls,
                "rows_per_s": [u["rows"] / u["wall"] for u in units]}

    def layers(self, led, tracer, units: list[dict]) -> dict:
        k = len(units)
        out = {}
        for g in GROUPS:
            row = led.select(g + ":")
            out[f"{g}.build_s"] = sum(u["layer"].get(f"{g}.build_s", 0.0) for u in units) / k
            out[f"{g}.exec_s"] = sum(u["layer"].get(f"{g}.exec_s", 0.0) for u in units) / k
            out[f"{g}.jobs"] = row["jobs"] / k
            out[f"{g}.python_s"] = row["python_s"] / k
        sj = led.spatial("spatial:")
        out.update({
            "spatial_join.exec_s": sj["exec_s"] / k,
            "spatial_join.probe_rows": sj["probe_rows"] / k,
            "spatial_join.refine_rows": sj["refine_rows"] / k,
            "spatial_join.accepted_rows": sj["accepted_rows"] / k,
            "spatial_join.accept_ratio": sj["accept_ratio"],
            "spatial_join.python_s": sj["python_s"] / k,
            "spatial_join.shuffle_bytes": sj["shuffle_bytes"] / k,
        })
        return out

    def cleanup(self) -> None:
        self.last = {}
        shutil.rmtree(self.sf_dir, ignore_errors=True)


@contextlib.contextmanager
def _scratch_in_checkout():
    """Make every ``tempfile.mkdtemp`` dir in the benchmark's temp dir."""
    mkdtemp = tempfile.mkdtemp
    tempfile.mkdtemp = lambda suffix=None, prefix=None, dir=None: mkdtemp(suffix, prefix, TMP_DIR)
    try:
        yield
    finally:
        tempfile.mkdtemp = mkdtemp
