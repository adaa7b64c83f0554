"""``tiles``: the headline dataflow, executor-bound.

Seeded JVM-side points -> ``cells.with_cell_columns`` (res 7-11) -> broadcast
``spatial_join.pip_join`` against ``fixtures.gen_admin_polygons(12)`` ->
``geometry.tile_expr`` z12 -> per-(region, tile) count. No parquet scan, no
write. One unit is one call of the whole dataflow, collected to the driver.

The polygon set is the library's fixed headline set; the seed moves the
points. Which metro a polygon covers sets most of the join's work, so seeding
the polygons would make the cost differ from seed to seed.
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd

import datagen
from ledger import Tracer

RES = (7, 8, 9, 10, 11)
ZOOM = 12
N_POINTS = 6_000_000
WARMUP_UNITS = 4


class Tiles:
    name = "tiles"

    def __init__(self, seed: int, cores: int, n_points: int = N_POINTS):
        from pgsql2osm_spark.sources import fixtures as FX

        self.seed, self.n = seed, n_points
        self.parts = 2 * cores
        self.regions = FX.gen_admin_polygons(12)
        self.last: pd.DataFrame | None = None

    # -- the dataflow -------------------------------------------------------
    def _pipeline(self, spark, tracer):
        from pyspark.sql import functions as F

        from pgsql2osm_spark.functions import cells as C
        from pgsql2osm_spark.functions import geometry as G
        from pgsql2osm_spark.operators import spatial_join as SJ

        layered = tracer.layered
        layer = {}
        pts = datagen.jvm_points(spark, self.n, self.seed, self.parts)
        with tracer.span("cells", "cells"):
            pts, names = C.with_cell_columns(pts, "lon", "lat", RES)
            if layered:  # encode-only job: Spark fuses the encode into the probe's stage
                row = pts.agg(F.count(F.lit(1)), F.sum(F.hash(*names))).collect()[0]
                layer["cells.rows_out"] = row[0]
        with tracer.span("spatial_join", "spatial_join"):
            with tracer.span("spatial_join.build") as build:
                joined = SJ.pip_join(
                    spark, pts, self.regions,
                    keep_cols=["image_id", "lon", "lat", "h3_7"],
                    cell_cols=dict(zip(RES, names)),
                )
            if layered:  # the join on its own, for its time and row funnel
                layer["spatial_join.count"] = joined.count()
            if tracer.enabled:
                layer["spatial_join.build_s"] = build["end"] - build["start"]
        with tracer.span("tile_agg", "tile_agg"):
            x, y = G.tile_expr(F.col("lon"), F.col("lat"), ZOOM)
            out = (
                joined.withColumn("tx", x).withColumn("ty", y)
                .groupBy("region_id", "tx", "ty").agg(F.count(F.lit(1)).alias("n"))
                .toPandas()
            )
        layer["tile_agg.groups"] = len(out)
        return out, layer

    # -- workload protocol --------------------------------------------------
    def prepare(self, spark) -> None:
        pass  # the points are generated lazily inside the JVM by each unit

    def warmup(self, spark, tally) -> None:
        """Untimed calls at full scale. Unit times keep falling for about
        ten units while the JIT catches up (2.9 s, then 2.3-2.7, then 1.7-2.0
        on 4 vCPUs), more slowly when the host is busy; after two warm-up
        units the timed ones still sat on that slope, so a slow host moved
        them further (1.33x where the suite moved 1.18x)."""
        for _ in range(WARMUP_UNITS):
            self._pipeline(spark, Tracer())

    def unit(self, spark, tracer, tally) -> dict:
        t0 = time.perf_counter()
        out, layer = self._pipeline(spark, tracer)
        wall = time.perf_counter() - t0
        tally.ok()
        self.last = out
        return {"wall": wall, "ops": [wall], "rows": self.n, "layer": layer}

    def verify(self, spark, tally) -> None:
        """Compare the last unit's counts with a cover-free reference: the
        same points filtered to the polygons' bounding boxes in the JVM,
        then a plain numpy crossing-number test against every ring and an
        asinh-form mercator tile, counted with pandas."""
        from pyspark.sql import functions as F

        from pgsql2osm_spark.sources import fixtures as FX

        rings = {int(r["region_id"]): [np.asarray(x, dtype=np.float64) for x in FX.region_rings(r)]
                 for r in self.regions}
        cond = None
        for rs in rings.values():
            xs = np.concatenate([r[:, 0] for r in rs])
            ys = np.concatenate([r[:, 1] for r in rs])
            c = F.col("lon").between(float(xs.min()), float(xs.max())) & \
                F.col("lat").between(float(ys.min()), float(ys.max()))
            cond = c if cond is None else cond | c
        # the bbox filter over the generator's expressions exceeds the 64 KB
        # whole-stage method limit; plain expression codegen handles it
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        try:
            pts = datagen.jvm_points(spark, self.n, self.seed, self.parts).where(cond) \
                .select("lon", "lat").toPandas()
        finally:
            spark.conf.unset("spark.sql.codegen.wholeStage")
        lon, lat = pts["lon"].to_numpy(), pts["lat"].to_numpy()
        frames = []
        for rid, rs in rings.items():
            inside = np.zeros(len(lon), dtype=bool)
            for ring in rs:
                inside ^= crossing_parity(lon, lat, ring)
            tx, ty = _tile(lon[inside], lat[inside], ZOOM)
            frames.append(pd.DataFrame({"region_id": rid, "tx": tx, "ty": ty}))
        ref = (pd.concat(frames).groupby(["region_id", "tx", "ty"]).size()
               .rename("n").reset_index())
        got = self.last
        ok = _same_counts(got, ref)
        tally.check(ok, f"tiles: {len(got)} groups / {int(got['n'].sum())} rows vs "
                        f"reference {len(ref)} / {int(ref['n'].sum())}")

    def e2e(self, units: list[dict]) -> dict:
        walls = [u["wall"] for u in units]
        return {"wall": walls, "ops": walls, "resume": walls[1:] or walls,
                "rows_per_s": [u["rows"] / u["wall"] for u in units]}

    def layers(self, led, tracer, units: list[dict]) -> dict:
        k = len(units)
        sj = led.spatial("spatial_join")
        per = lambda key: sum(u["layer"].get(key, 0) for u in units) / k  # noqa: E731
        return {
            "cells.exec_s": led.job_wall("cells") / k,
            "cells.rows_out": per("cells.rows_out"),
            "spatial_join.build_s": per("spatial_join.build_s"),
            "spatial_join.exec_s": led.job_wall("spatial_join") / k,
            "spatial_join.probe_rows": sj["probe_rows"] / k,
            "spatial_join.refine_rows": sj["refine_rows"] / k,
            "spatial_join.accepted_rows": sj["accepted_rows"] / k,
            "spatial_join.accept_ratio": sj["accept_ratio"],
            "spatial_join.python_s": sj["python_s"] / k,
            "spatial_join.shuffle_bytes": sj["shuffle_bytes"] / k,
            "tile_agg.exec_s": led.job_wall("tile_agg") / k,
            "tile_agg.shuffle_write_bytes": led.select("tile_agg")["shuffle_write_bytes"] / k,
            "tile_agg.groups": per("tile_agg.groups"),
        }

    def cleanup(self) -> None:
        self.last = None


def crossing_parity(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd crossing test, written in slope form over closed edges."""
    x0, y0 = ring[:, 0], ring[:, 1]
    x1, y1 = np.roll(x0, -1), np.roll(y0, -1)
    out = np.zeros(len(px), dtype=bool)
    for a, b, c, d in zip(x0, y0, x1, y1):
        if b == d:
            continue
        straddle = (b > py) != (d > py)
        xcross = a + (py - b) * ((c - a) / (d - b))
        out ^= straddle & (px < xcross)
    return out


def _tile(lon: np.ndarray, lat: np.ndarray, z: int):
    n = float(1 << z)
    latr = np.radians(np.clip(lat, -85.05112877980659, 85.05112877980659))
    tx = np.floor((lon + 180.0) / 360.0 * n)
    ty = np.floor((1.0 - np.arcsinh(np.tan(latr)) / np.pi) / 2.0 * n)
    return (np.clip(tx, 0, n - 1).astype(np.int64), np.clip(ty, 0, n - 1).astype(np.int64))


def _same_counts(got: pd.DataFrame, ref: pd.DataFrame) -> bool:
    key = ["region_id", "tx", "ty"]
    a = got[key + ["n"]].astype("int64").sort_values(key).reset_index(drop=True)
    b = ref[key + ["n"]].astype("int64").sort_values(key).reset_index(drop=True)
    return a.equals(b)
