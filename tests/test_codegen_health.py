"""Whole-stage-codegen health of the headline pipeline.

The bench stage (generator + morton encode + explode + broadcast join +
agg) sits AT janino's 64KB processNext() limit: r4 measured that adding a
single predicate pushes it into `ERROR CodeGenerator: Failed to compile`
-> SILENT interpreted fallback, 1.5-10x slower with no exception
(BENCH/PLANS.md r4). This guard runs the pipeline in a subprocess and
fails if that ERROR ever appears, so an innocent-looking expression added
to the hot path cannot silently de-optimize the benchmark again."""

import os
import subprocess
import sys

_SCRIPT = r"""
import sys
sys.path.insert(0, {repo!r})
from pgsql2osm_spark.session import get_spark
from bench import headline_pipeline

spark = get_spark(
    app="codegen_health", master="local[4]", shuffle_partitions=8,
    extra_conf={{"spark.ui.showConsoleProgress": "false"}},
)
spark.sparkContext.setLogLevel("ERROR")
n = headline_pipeline(spark, 1_000_000, 4).count()
assert n > 0
spark.stop()
print("ROWS_OK", n)
"""


def test_headline_pipeline_compiles_whole_stage():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT.format(repo=repo)],
        capture_output=True, text=True, timeout=300, cwd=repo,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "ROWS_OK" in proc.stdout
    assert "Failed to compile" not in proc.stderr, (
        "headline stage fell back to interpreted execution:\n"
        + proc.stderr[-2000:]
    )


_CANARY = r"""
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from pgsql2osm_spark.session import get_spark
from pgsql2osm_spark.functions import cells as C
from pgsql2osm_spark.functions import geometry as G
from pgsql2osm_spark.operators import spatial_join as SJ
from pgsql2osm_spark.sources import fixtures as FX

spark = get_spark(
    app="codegen_canary", master="local[4]", shuffle_partitions=8,
    extra_conf={{"spark.ui.showConsoleProgress": "false"}},
)
spark.sparkContext.setLogLevel("ERROR")
pts = FX.points_jvm_df(spark, 1_000_000, parts=4)
pts, names = C.with_cell_columns(pts, "lon", "lat", (7, 8, 9, 10, 11))
out = SJ.pip_join(
    spark, pts, FX.gen_admin_polygons(12),
    keep_cols=["image_id", "lon", "lat", "h3_7"],
    cell_cols=dict(zip((7, 8, 9, 10, 11), names)),
    coarse_prefilter=True,
)
x, y = G.tile_expr(F.col("lon"), F.col("lat"), 12)
n = out.withColumn("tx", x).withColumn("ty", y).groupBy(
    "region_id", "tx", "ty"
).agg(F.count(F.lit(1)).alias("n")).count()
assert n > 0
spark.stop()
print("ROWS_OK", n)
"""


def test_prefilter_on_generator_source_compiles_with_gated_shape():
    """r5 update of the r4 canary: the r4 `.where(isin)` prefilter pushed
    the generator stage past janino's 64KB limit; the r5 when-gated
    explode_outer shape COMPILES on the same source (verified here — this
    test now asserts NO compile failure). The headline still ships with
    coarse_prefilter OFF: 1e9-row measurements (BENCH/PLANS.md r5) show
    8-core parity (16.4-19.5s vs 18.6s) but an UNSTABLE 32-core leg
    (11.7/21.9/29.2s vs 8.4s plain) — suspected boxed-InSet alloc/GC
    pressure amplified at 32 threads. Revisit if InSet codegen learns
    primitive long sets."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _CANARY.format(repo=repo)],
        capture_output=True, text=True, timeout=300, cwd=repo,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "ROWS_OK" in proc.stdout
    assert "Failed to compile" not in proc.stderr, (
        "the gated prefilter shape stopped compiling on the generator "
        "source:\n" + proc.stderr[-2000:]
    )


_SCAN_PREFILTER = r"""
import sys
sys.path.insert(0, {repo!r})
import numpy as np
import __spark_entry__ as E
from pgsql2osm_spark.operators import spatial_join as SJ
from pgsql2osm_spark.session import get_spark

spark = get_spark(
    app="codegen_scan_prefilter", master="local[4]", shuffle_partitions=8,
    extra_conf={{"spark.ui.showConsoleProgress": "false"}},
)
spark.sparkContext.setLogLevel("ERROR")
# pip_convex: the registry query whose source is a REAL parquet scan, with
# coarse_prefilter=True live in the plan (not folded)
rows = sorted(r["id"] for r in
              E.queries()["pip_convex"](spark, "/root/testdata/sf0.001").collect())
# same join, prefilter OFF, directly on the same scan
p = E._points(spark, "/root/testdata/sf0.001")
region = [{{"region_id": 1, "rings": [np.asarray(E._HEX, dtype=np.float64)]}}]
base = SJ.pip_join(spark, p, region, keep_cols=["id"], coarse_prefilter=False)
rows_base = sorted(r["id"] for r in base.collect())
assert rows == rows_base and len(rows) > 0, (rows[:3], rows_base[:3])
plan = E.queries()["pip_convex"](spark, "/root/testdata/sf0.001")._jdf.queryExecution().executedPlan().toString()
scan_line = next(l for l in plan.splitlines() if "Scan parquet" in l)
if "shiftrightunsigned" not in scan_line and "FLOOR" not in scan_line:
    print("SCAN_CLEAN")
spark.stop()
print("ROWS_OK", len(rows))
"""


def test_scan_shaped_prefilter_output_and_scan_stay_clean():
    """VERDICT r4 #4 positive half, r5-refined after measurement: on a
    SCAN-shaped source the WHEN-GATED coarse prefilter must (a) produce
    identical output to the prefilter-off join, and (b) keep the
    morton-spread OUT of the scan's pushed DataFilters — the r5 finding is
    that the naive `.where(isin)` form predicate-pushes the whole spread
    subtree INTO the scan, re-evaluated per row outside codegen (measured
    17x slower at 20M scan rows), while the when-gated explode leaves
    nothing to push. The gated stage may drop from FUSED whole-stage
    codegen to volcano-with-compiled-expressions (janino 64KB, a ~1.2x
    effect measured in tools/scale_probe.py scancoarse) — that tradeoff is
    accepted and documented in BENCH/PLANS.md r5, so 'Failed to compile'
    is NOT asserted against here."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _SCAN_PREFILTER.format(repo=repo)],
        capture_output=True, text=True, timeout=300, cwd=repo,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "ROWS_OK" in proc.stdout
    assert "SCAN_CLEAN" in proc.stdout, proc.stdout[-1000:]


_SLOTS_AT_CAP = r"""
import sys
sys.path.insert(0, {repo!r})
import numpy as np
from pyspark.sql import functions as F
from pgsql2osm_spark.session import get_spark
from pgsql2osm_spark.functions import cells as C
from pgsql2osm_spark.functions import geometry as G
from pgsql2osm_spark.operators import spatial_join as SJ
from pgsql2osm_spark.sources import fixtures as FX

K = SJ.MAX_EDGE_SLOTS
# a flat K-gon inside one res-11 cell row, on the first metro: the row's
# leftmost cell keeps every edge, so the densest cell needs exactly K slots
cx, cy, _ = FX.METROS[0]
h = 180.0 / 2048
band = np.floor((cy + 90.0) / h) * h - 90.0
t = np.linspace(0, 2 * np.pi, K, endpoint=False)
ring = np.stack([cx + 0.3 * np.cos(t), band + h / 2 + 0.3 * h * np.sin(t)], axis=1)
regions = FX.gen_admin_polygons(12) + [{{"region_id": 99, "rings": [ring]}}]
cover, _ = SJ.build_cover(regions)
assert max(len(e) // 5 for e in cover["_edges"] if e is not None) == K

spark = get_spark(
    app="codegen_slots", master="local[4]", shuffle_partitions=8,
    extra_conf={{"spark.ui.showConsoleProgress": "false"}},
)
spark.sparkContext.setLogLevel("ERROR")
res = (7, 8, 9, 10, 11)


def tiles(prefilter):
    pts = FX.points_jvm_df(spark, 1_000_000, parts=4)
    pts, names = C.with_cell_columns(pts, "lon", "lat", res)
    out = SJ.pip_join(
        spark, pts, regions, keep_cols=["image_id", "lon", "lat", "h3_7"],
        cell_cols=dict(zip(res, names)), coarse_prefilter=prefilter,
    )
    x, y = G.tile_expr(F.col("lon"), F.col("lat"), 12)
    return out.withColumn("tx", x).withColumn("ty", y).groupBy(
        "region_id", "tx", "ty"
    ).agg(F.count(F.lit(1)).alias("n"))


debug = spark._jvm.org.apache.spark.sql.execution.debug.package
for prefilter in (False, True):
    q = tiles(prefilter)
    assert "ArrowEvalPython" not in q._jdf.queryExecution().executedPlan().toString()
    assert q.where(F.col("region_id") == 99).count() > 0
    # bytecode size of the largest generated method (the debug helper reads
    # whole-stage subtrees from a non-adaptive plan)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    seq = debug.codegenStringSeq(tiles(prefilter)._jdf.queryExecution().executedPlan())
    spark.conf.unset("spark.sql.adaptive.enabled")
    biggest = max(seq.apply(i)._3().maxMethodCodeSize() for i in range(seq.size()))
    print("MAX_METHOD", prefilter, biggest)
spark.stop()
print("ROWS_OK")
"""

# The JVM leaves methods above this many bytes of bytecode to the
# interpreter (-XX:HugeMethodLimit, on while DontCompileHugeMethods is).
JIT_HUGE_METHOD_BYTES = 8000


def test_slot_refine_at_cap_compiles_and_stays_jit_sized():
    """The JVM slot refine (spatial_join.MAX_EDGE_SLOTS) on the generator
    source, with and without coarse_prefilter, for a polygon whose densest
    boundary cell needs exactly MAX_EDGE_SLOTS edges. The predicate sits in
    the broadcast join's condition inside the fused stage and adds ~830 bytes
    of bytecode per slot. The cap is the largest slot count for which the
    stage both compiles (janino's 64 KB limit, first failing near 64 slots)
    and keeps its largest method within the JIT's huge-method limit (9 slots
    pass it, and the stage then ran ~1.4x slower on 1M points)."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _SLOTS_AT_CAP.format(repo=repo)],
        capture_output=True, text=True, timeout=300, cwd=repo,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "ROWS_OK" in proc.stdout
    assert "Failed to compile" not in proc.stderr, proc.stderr[-2000:]
    sizes = [int(line.split()[-1]) for line in proc.stdout.splitlines()
             if line.startswith("MAX_METHOD")]
    assert len(sizes) == 2 and max(sizes) <= JIT_HUGE_METHOD_BYTES, proc.stdout
