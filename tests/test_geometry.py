"""Geometry kernel tests: PIP property vs independent oracle, tiles, cover."""

import duckdb
import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from pgsql2osm_spark.functions import cells as C
from pgsql2osm_spark.functions import geometry as G

rng = np.random.default_rng(11)


def _random_ring(seed: int, nv: int = 12) -> np.ndarray:
    r = np.random.default_rng(seed)
    ang = np.sort(r.uniform(0, 2 * np.pi, nv))
    rad = r.uniform(2.0, 8.0, nv)
    return np.stack([10 + rad * np.cos(ang), 20 + rad * np.sin(ang)], axis=1)


@settings(max_examples=60, deadline=None)
@given(seed=st.integers(0, 10_000))
def test_pip_crossing_agrees_with_winding(seed):
    ring = _random_ring(seed)
    r = np.random.default_rng(seed + 1)
    px = r.uniform(0, 20, 200)
    py = r.uniform(10, 30, 200)
    got = G.points_in_rings(px, py, [ring])
    exp = np.array([G.winding_number_inside(a, b, ring) for a, b in zip(px, py)])
    assert (got == exp).all()


def test_pip_holes():
    outer = np.array([[0, 0], [10, 0], [10, 10], [0, 10]], float)
    hole = np.array([[4, 4], [6, 4], [6, 6], [4, 6]], float)
    inside = G.points_in_rings(np.array([5.0, 2.0, 4.5]), np.array([5.0, 2.0, 4.5]), [outer, hole])
    assert inside.tolist() == [False, True, False]


def test_tile_math_parity_numpy_sql(spark):
    n = 2000
    lon = rng.uniform(-180, 180, n)
    lat = rng.uniform(-85, 85, n)
    pdf = pd.DataFrame({"lon": lon, "lat": lat})
    for z in (7, 12):
        xt, yt = G.lonlat_to_tile(lon, lat, z)
        xs, ys = G.tile_sql("lon", "lat", z)
        got = duckdb.sql(f"SELECT {xs} AS x, {ys} AS y FROM pdf").df()
        assert (got["x"].to_numpy() == xt).all() and (got["y"].to_numpy() == yt).all()
        from pyspark.sql import functions as F

        xe, ye = G.tile_expr(F.col("lon"), F.col("lat"), z)
        rows = spark.createDataFrame(pdf).select(xe.alias("x"), ye.alias("y")).collect()
        assert (np.array([r["x"] for r in rows]) == xt).all()
        assert (np.array([r["y"] for r in rows]) == yt).all()


def test_tile_roundtrip():
    for z in (5, 10, 14):
        xt = rng.integers(0, 1 << z, 500)
        yt = rng.integers(0, 1 << z, 500)
        lon, lat = G.tile_to_lonlat(xt + 0.5, yt + 0.5, z)
        xr, yr = G.lonlat_to_tile(lon, lat, z)
        assert (xr == xt).all() and (yr == yt).all()


def test_polygon_cover_exactness():
    """Every point inside the polygon lands in a cover cell; interior cells
    contain only inside points."""
    ring = _random_ring(99)
    res = 9
    cells_arr, is_bnd = G.polygon_cover([ring], res)
    cellset = set(cells_arr.tolist())
    interior = set(cells_arr[~is_bnd].tolist())
    px = rng.uniform(0, 20, 5000)
    py = rng.uniform(10, 30, 5000)
    inside = G.points_in_rings(px, py, [ring])
    pc = C.cell_encode(px, py, res)
    for i in range(len(px)):
        if inside[i]:
            assert int(pc[i]) in cellset, "inside point missed by cover"
        if int(pc[i]) in interior:
            assert inside[i], "interior cell contained an outside point"


def _slot_parity(px, py, slots):
    """Even-odd parity over one cell's edge slots, in the operation order of
    spatial_join.slot_refine_sql."""
    x0, y0, y1, d, dx = slots.reshape(-1, 5).T[:, None, :]
    px, py = px[:, None], py[:, None]
    hit = ((y0 > py) != (y1 > py)) & (px < x0 + (py - y0) / d * dx)
    return hit.sum(axis=1) % 2 == 1


@settings(max_examples=25, deadline=None)
@given(seed=st.integers(0, 10_000))
def test_cell_edge_slots_match_all_edges(seed):
    """For points assigned to a boundary cell (random ones and the cell's
    corners and edge midpoints), the even-odd test over the cell's edge slots
    equals points_in_rings over every edge, bit for bit."""
    ring = _random_ring(seed)
    rings = [ring, 10 + 0.3 * (ring - 10)]  # outer + hole
    res = 9
    cells_arr, is_bnd = G.polygon_cover(rings, res)
    bnd = cells_arr[is_bnd]
    slots = G.cell_edge_slots(rings, bnd)
    r = np.random.default_rng(seed)
    lon0, lat0, lon1, lat1 = C.cell_bounds(bnd)
    for i, cell in enumerate(bnd):
        fx = np.concatenate([r.uniform(0, 1, 40), [0, 0.5, 0, 0.5, 0.999999]])
        fy = np.concatenate([r.uniform(0, 1, 40), [0, 0, 0.5, 0.5, 0.999999]])
        px = lon0[i] + fx * (lon1[i] - lon0[i])
        py = lat0[i] + fy * (lat1[i] - lat0[i])
        mine = C.cell_encode(px, py, res) == cell
        px, py = px[mine], py[mine]
        assert (_slot_parity(px, py, slots[i]) == G.points_in_rings(px, py, rings)).all()
        assert len(slots[i]) % 5 == 0 and 0 < len(slots[i]) // 5 <= 2 * len(ring)


def test_cell_edge_slots_keep_every_edge_on_the_world_border():
    """Cells in the first/last grid row or column keep all edges (cell
    assignment clamps out-of-range and non-finite points into them); other
    cells keep only the edges in their y-band that reach their left x."""
    ring = np.array([[-180.0, 10.0], [-150.0, 10.0], [-150.0, 40.0], [-180.0, 40.0]])
    res = 4
    cells_arr, is_bnd = G.polygon_cover([ring], res)
    x, _ = C.cell_to_xy(cells_arr)
    slots = G.cell_edge_slots([ring], cells_arr[is_bnd])
    counts = np.array([len(s) // 5 for s in slots])
    assert (counts[x[is_bnd] == 0] == 4).all()
    assert (counts[x[is_bnd] > 0] < 4).all()


def test_haversine_known_values():
    assert abs(G.haversine_m(0, 0, 0, 1) - 111_195) < 300  # 1 deg lat
    assert G.haversine_m(0, 0, 0, 0) == 0
    d = G.haversine_m(8.54, 47.37, -74.0, 40.7)
    assert 6.2e6 < d < 6.45e6


@settings(max_examples=40, deadline=None)
@given(
    west=st.floats(100, 179, allow_nan=False),
    width=st.floats(5, 80, allow_nan=False),
    lat0=st.floats(-60, 50, allow_nan=False),
    h=st.floats(2, 25, allow_nan=False),
)
def test_normalize_rings_antimeridian_property(west, width, lat0, h):
    """Random rectangles crossing the antimeridian: PIP over the split parts
    equals the shifted-space oracle everywhere."""
    east = west + width  # may exceed 180 -> crossing
    ring = np.array(
        [
            [west, lat0],
            [((east + 180) % 360) - 180, lat0],
            [((east + 180) % 360) - 180, lat0 + h],
            [west, lat0 + h],
        ]
    )
    crosses = east > 180
    parts = G.normalize_rings([ring])
    r2 = np.random.default_rng(int(west * 100) % 2**31)
    lon = r2.uniform(-180, 180, 400)
    lat = r2.uniform(lat0 - 5, lat0 + h + 5, 400)
    got = G.points_in_rings(lon, lat, parts)
    slon = np.where(lon < west - 1e-12, lon + 360.0, lon)
    exp = (slon >= west) & (slon <= east) & (lat >= lat0) & (lat <= lat0 + h)
    if not crosses:
        exp = (lon >= west) & (lon <= east) & (lat >= lat0) & (lat <= lat0 + h)
    assert (got == exp).all(), f"west={west} width={width} diffs={np.sum(got != exp)}"


def test_tile_assign_oracle_points_clear_boundaries():
    """Guard for the tile_assign SQL oracle (entry query at z=7): the oracle
    compares floor() of JVM tan/ln/cos against DuckDB's libm bit-for-bit,
    which is only robust if no derived point's mercator fraction sits within
    libm rounding distance of a tile boundary. Asserts a >=1e-9 margin for
    every sf0.01 customer-derived point, so a 1-ulp libm/JDK difference can
    never flip a floor()."""
    M1, M2, MOD = 2654435761, 1566083941, 4294967296
    keys = np.arange(1, 1501, dtype=np.float64)  # sf0.01 customer keys
    lon = (keys * M1 % MOD) / MOD * 360.0 - 180.0
    lat = (keys * M2 + 12345) % MOD / MOD * 170.0 - 85.0
    n = 1 << 7
    fx = (lon + 180.0) / 360.0 * n
    lat_r = np.radians(np.clip(lat, -85.0511287798066, 85.0511287798066))
    fy = (1.0 - np.log(np.tan(lat_r) + 1.0 / np.cos(lat_r)) / np.pi) / 2.0 * n
    for f in (fx, fy):
        frac = np.abs(f - np.round(f))
        assert frac.min() > 1e-9, f"point within {frac.min()} of a tile boundary"
