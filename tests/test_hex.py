"""Hex (H3-analog) cell index: numpy kernel properties, JVM-expression
parity, cover soundness, and plan shape (pure codegen, no Python)."""
import numpy as np
import pytest
from pyspark.sql import functions as F

from osml10n_spark.spatial.boundaries import load_boundaries
from osml10n_spark.spatial.hexindex import (
    _center_xy, hex_center, hex_distance, hex_k_ring, hex_neighbors,
    hex_polygon_cover, hex_qr, hex_res, hex_to_parent, hex_wu,
    hexcell_from_lonlat)

RNG = np.random.default_rng(42)
LON = np.concatenate([RNG.uniform(-180, 180, 4000),
                      np.round(RNG.uniform(-180, 180, 2000), 6),
                      np.arange(-179.5, 180.0, 7.0)])
LAT = np.concatenate([RNG.uniform(-90, 90, 4000),
                      np.round(RNG.uniform(-90, 90, 2000), 6),
                      np.arange(-77.5, 78.0, 3.0)])[:len(LON)]
LON = LON[:len(LAT)]


@pytest.mark.parametrize("res", [2, 7, 8, 9, 12])
def test_point_in_assigned_hex(res):
    """Every point lies inside its cell's hexagon:
    |dx| <= w and u|dx| + w|dy| <= 2uw (integer µdeg space)."""
    c = hexcell_from_lonlat(LON, LAT, res)
    assert np.all(hex_res(c) == res)
    xc, yc, _ = _center_xy(c)
    w, u = hex_wu(res)
    px = np.floor(LON * 1e6).astype(np.int64) + 540_000_000
    py = np.floor(LAT * 1e6).astype(np.int64) + 450_000_000
    dx = np.abs(px - xc)
    dy = np.abs(py - yc)
    assert np.all(dx <= w)
    assert np.all(u * dx + w * dy <= 2 * u * w)


@pytest.mark.parametrize("res", [2, 8, 12])
def test_center_round_trip(res):
    c = np.unique(hexcell_from_lonlat(LON, LAT, res))
    clon, clat = hex_center(c)
    assert np.array_equal(hexcell_from_lonlat(clon, clat, res), c)


def test_k_ring_size_and_distance():
    cell = int(hexcell_from_lonlat(13.4, 52.5, 8)[()])
    for k in (1, 2, 3, 5):
        ring = hex_k_ring(cell, k)
        assert len(ring) == 3 * k * (k + 1) + 1
        assert np.all(hex_distance(ring, np.full(len(ring), cell)) <= k)
        # symmetry: distance-k shell is exactly the ring(k) \ ring(k-1) set
        shell = np.setdiff1d(ring, hex_k_ring(cell, k - 1)) if k > 1 else None
        if shell is not None:
            assert np.all(hex_distance(
                shell, np.full(len(shell), cell)) == k)


def test_neighbors_are_lattice_offsets():
    """The 6 neighbors sit at the exact integer lattice offsets
    (±2w, 0), (±w, ±3u) — uniform edge adjacency, no corner cases."""
    cell = int(hexcell_from_lonlat(-58.4, -34.6, 9)[()])
    w, u = hex_wu(9)
    nb = hex_neighbors(cell)[0]
    assert len(set(nb.tolist())) == 6 and -1 not in nb
    cx, cy, _ = _center_xy(np.full(6, cell))
    nx, ny, _ = _center_xy(nb)
    offs = sorted(zip((nx - cx).tolist(), (ny - cy).tolist()))
    assert offs == sorted([(2 * w, 0), (-2 * w, 0), (w, 3 * u),
                           (-w, 3 * u), (w, -3 * u), (-w, -3 * u)])
    assert np.all(hex_distance(nb, np.full(6, cell)) == 1)


@pytest.mark.parametrize("res,pres", [(9, 7), (9, 8), (12, 9), (7, 5)])
def test_parent_contains_child_center(res, pres):
    c = np.unique(hexcell_from_lonlat(LON, LAT, res))
    p = hex_to_parent(c, pres)
    assert np.all(hex_res(p) == pres)
    xc, yc, _ = _center_xy(c)
    px, py, _ = _center_xy(p)
    w, u = hex_wu(pres)
    dx = np.abs(xc - px)
    dy = np.abs(yc - py)
    assert np.all(dx <= w) and np.all(u * dx + w * dy <= 2 * u * w)
    # determinism across paths: parent computed from raw points at pres
    # differs only where the point and the child center straddle a
    # parent boundary — but parent-of-cell must be a function of the
    # cell alone
    p2 = hex_to_parent(c, pres)
    assert np.array_equal(p, p2)


def test_hex_cover_soundness():
    idx = load_boundaries()
    rng = np.random.default_rng(5)
    for poly in idx.polys:
        interior, boundary = hex_polygon_cover(poly, res=7)
        cover = set(interior.tolist()) | set(boundary.tolist())
        assert cover, poly.cc
        xmin, ymin, xmax, ymax = poly.bbox
        lon = rng.uniform(xmin, xmax, 3000)
        lat = rng.uniform(ymin, ymax, 3000)
        inside = poly.contains(lon, lat)
        cells = hexcell_from_lonlat(lon[inside], lat[inside], 7)
        missing = [c for c in cells.tolist() if c not in cover]
        assert not missing, (poly.cc, missing[:3])
        # interior cells really are interior: their centers are inside
        if len(interior):
            ilon, ilat = hex_center(interior)
            assert poly.contains(ilon, ilat).all()


def test_jvm_expr_parity(spark):
    """hexcell_expr / hex_parent_expr == numpy kernels, bit for bit."""
    import pandas as pd
    from osml10n_spark.spatial.cellexpr import hex_parent_expr, hexcell_expr
    pdf = pd.DataFrame({"i": np.arange(len(LON)), "lon": LON, "lat": LAT})
    df = spark.createDataFrame(pdf)
    for res in (2, 8, 9):
        want = hexcell_from_lonlat(LON, LAT, res)
        cdf = df.select("i", hexcell_expr(F.col("lon"), F.col("lat"),
                                          res).alias("hc"))
        got = np.array([r[1] for r in cdf.orderBy("i").collect()])
        assert np.array_equal(want, got), res
        want_p = hex_to_parent(want, res - 2)
        got_p = np.array([r[1] for r in cdf.select(
            "i", hex_parent_expr(F.col("hc"), res, res - 2)).orderBy("i")
            .collect()])
        assert np.array_equal(want_p, got_p), res


def test_hex_plan_is_jvm_native(spark):
    """Assignment + rollup stay in whole-stage codegen: no Python
    evaluation nodes, and the plan compiles with codegen fallback
    disabled (the janino guard the quality gate needed)."""
    from osml10n_spark.operators.spatial import assign_hexcells
    from osml10n_spark.spatial.cellexpr import hex_parent_expr
    df = spark.range(2000).selectExpr(
        "id", "((id * 37) % 360) - 180 + 0.5 AS lon",
        "((id * 7) % 160) - 80 + 0.5 AS lat")
    out = (assign_hexcells(df, res=9)
           .withColumn("parent", hex_parent_expr(F.col("hexcell"), 9, 7))
           .groupBy("parent").count())
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    with _codegen_strict(spark):
        assert out.count() > 0


def test_hex_ring_join_is_broadcast(spark):
    """The ring probe is a broadcast equi-join — no shuffle of the
    points side, no cartesian."""
    from osml10n_spark.operators.spatial import assign_hexcells, hex_ring_join
    df = spark.range(5000).selectExpr(
        "id", "((id * 37) % 360) - 180 + 0.5 AS lon",
        "((id * 7) % 160) - 80 + 0.5 AS lat")
    pts = assign_hexcells(df, res=8)
    seeds = [int(r[0]) for r in pts.limit(3).select("hexcell").collect()]
    out = hex_ring_join(pts, seeds, k=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan
    rows = {r[0]: r[1] for r in out.collect()}
    assert set(rows) <= set(seeds) and all(v >= 1 for v in rows.values())


class _codegen_strict:
    def __init__(self, spark):
        self.spark = spark

    def __enter__(self):
        self.prev = self.spark.conf.get("spark.sql.codegen.fallback", "true")
        self.spark.conf.set("spark.sql.codegen.fallback", "false")

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.codegen.fallback", self.prev)


def test_pip_hexcover_plan_and_parity(spark):
    """The hex-cover PiP join keeps the quad path's physical shape
    (broadcast dimension join, no SMJ/cartesian) and agrees with the
    quad-cover result row-for-row."""
    from osml10n_spark.operators.spatial import pip_join_via_cover
    from osml10n_spark.spatial.geometry import pack_rect
    rects = [pack_rect("aa", -20.0, -20.0, 15.0, 10.0),
             pack_rect("bb", 0.0, 0.0, 30.0, 25.0),
             pack_rect("cc", -170.0, -80.0, -140.0, -55.0)]
    pts = spark.range(4000).selectExpr(
        "id", "((id * 37) % 360) - 180 + 0.5 AS lon",
        "((id * 7) % 160) - 80 + 0.5 AS lat")
    hexed = pip_join_via_cover(pts, rects, res=6, cell_family="hex")
    plan = hexed._jdf.queryExecution().executedPlan().toString()
    # the cover dimension join is broadcast; no cartesian anywhere (the
    # final pid left-join back to all points may SMJ — same as quad)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    quad = pip_join_via_cover(pts, rects, res=8)
    a = sorted((r[0], r[1]) for r in hexed.collect())
    b = sorted((r[0], r[1]) for r in quad.collect())
    assert a == b
