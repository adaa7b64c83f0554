"""Vectorized pandas/Arrow UDFs wrapping the numpy kernels.

Per BASELINE.json input_hint: "vectorized pandas/Arrow UDFs (no per-row
Python) throughout". Each UDF here receives whole Arrow batches as pandas
Series and dispatches into the numpy kernels in cells.py / geometry.py /
imaging.py. Where possible the engine prefers the pure-JVM Column emitters
(cells.cell_expr, geometry.tile_expr) — whole-stage codegen beats Arrow
round-trips — and these UDFs cover what built-ins cannot express (exact PIP
against broadcast rings, image decode).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import cells as C
from . import geometry as G


def make_cell_udf(res: int):
    """h3-style encode as a scalar pandas UDF (Arrow-vectorized)."""

    @F.pandas_udf(T.LongType())
    def cell_udf(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(C.cell_encode(lon.to_numpy(), lat.to_numpy(), res))

    return cell_udf


def make_s2_udf(res: int = 16):
    @F.pandas_udf(T.LongType())
    def s2_udf(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(C.s2_encode(lon.to_numpy(), lat.to_numpy(), res))

    return s2_udf


def make_pip_udf(rings_bc):
    """Exact point-in-polygon refine against broadcast region rings.

    rings_bc: SparkContext.broadcast of {region_id: [np.ndarray rings]}.
    spatial_join.pip_join's refine for covers whose densest boundary cell
    needs more than MAX_EDGE_SLOTS edges; smaller covers refine in the JVM.
    Its result is consulted only for boundary-cell candidates (the
    expensive stage of the two-stage predicate, SURVEY.md X2).
    Vectorized per region group within each Arrow batch.
    """

    @F.pandas_udf(T.BooleanType())
    def pip_udf(region_id: pd.Series, lon: pd.Series, lat: pd.Series) -> pd.Series:
        out = np.zeros(len(region_id), dtype=bool)
        rid = region_id.to_numpy()
        lo = lon.to_numpy(dtype=np.float64)
        la = lat.to_numpy(dtype=np.float64)
        rings_by_region = rings_bc.value
        for r in np.unique(rid):
            sel = rid == r
            rings = rings_by_region.get(int(r))
            if rings:
                out[sel] = G.points_in_rings(lo[sel], la[sel], rings)
        return pd.Series(out)

    return pip_udf


def make_haversine_udf():
    @F.pandas_udf(T.DoubleType())
    def hav_udf(lon1: pd.Series, lat1: pd.Series, lon2: pd.Series, lat2: pd.Series) -> pd.Series:
        return pd.Series(
            G.haversine_m(lon1.to_numpy(), lat1.to_numpy(), lon2.to_numpy(), lat2.to_numpy())
        )

    return hav_udf


def make_tile_udf(z: int):
    """(x, y) slippy tile as a struct — prefer geometry.tile_expr (JVM) in
    plans; this UDF exists for API parity and decode-stage fusion."""

    @F.pandas_udf("x long, y long")
    def tile_udf(lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
        x, y = G.lonlat_to_tile(lon.to_numpy(), lat.to_numpy(), z)
        return pd.DataFrame({"x": x, "y": y})

    return tile_udf
