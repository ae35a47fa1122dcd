"""Property-based tests (hypothesis) for the from-scratch kernels whose
correctness SURVEY.md §7 flags as a hard part: the cell index bit-math
and the text kernels.  These complement the golden suite with
randomized invariants in pure numpy/python; only the JVM ≡ numpy edge
check at the end uses the shared Spark session."""
import warnings

import numpy as np
from hypothesis import given, settings, strategies as st

from osml10n_spark.kernels.levenshtein import levenshtein_bytes
from osml10n_spark.kernels.unaccent import unaccent
from osml10n_spark.spatial.cellindex import (
    cell_center, cell_children, cell_from_lonlat, cell_res, cell_to_parent,
    k_ring, tile_from_lonlat, zorder_key,
)

lons = st.floats(min_value=-179.999, max_value=179.999,
                 allow_nan=False, allow_infinity=False)
lats = st.floats(min_value=-89.999, max_value=89.999,
                 allow_nan=False, allow_infinity=False)
resolutions = st.integers(min_value=1, max_value=12)


@settings(max_examples=200, deadline=None)
@given(lons, lats, resolutions)
def test_cell_roundtrip_contains_point(lon, lat, res):
    """The cell containing a point must have its center within half a
    cell of the point, and re-indexing the center gives the same cell."""
    cell = int(cell_from_lonlat(np.array([lon]), np.array([lat]), res)[0])
    assert cell_res(np.array([cell]))[0] == res
    clon, clat = cell_center(np.array([cell]))
    cell_w = 360.0 / (2 ** (res + 1))
    cell_h = 180.0 / (2 ** res)
    assert abs(clon[0] - lon) <= cell_w / 2 + 1e-9
    assert abs(clat[0] - lat) <= cell_h / 2 + 1e-9
    again = int(cell_from_lonlat(np.array([float(clon[0])]),
                                 np.array([float(clat[0])]), res)[0])
    assert again == cell


@settings(max_examples=200, deadline=None)
@given(lons, lats, resolutions)
def test_parent_child_containment(lon, lat, res):
    """parent(cell(p, res)) == cell(p, res-1); every cell is among its
    parent's children."""
    cell = int(cell_from_lonlat(np.array([lon]), np.array([lat]), res)[0])
    if res > 1:
        parent = int(cell_to_parent(np.array([cell]), res - 1)[0])
        direct = int(cell_from_lonlat(np.array([lon]), np.array([lat]),
                                      res - 1)[0])
        assert parent == direct
        kids = cell_children(np.array([parent]))
        assert cell in set(int(c) for c in kids.ravel())


@settings(max_examples=100, deadline=None)
@given(lons, lats, st.integers(min_value=1, max_value=3))
def test_k_ring_symmetry_and_membership(lon, lat, k):
    """The cell itself is in its k-ring; ring membership is symmetric
    (b in ring(a)  ⇒  a in ring(b)) away from the antimeridian wrap."""
    res = 6
    cell = int(cell_from_lonlat(np.array([lon]), np.array([lat]), res)[0])
    ring = [int(c) for c in k_ring(cell, k)]
    assert cell in ring
    assert len(ring) == len(set(ring))
    for other in ring[:5]:
        assert cell in {int(c) for c in k_ring(other, k)}


@settings(max_examples=200, deadline=None)
@given(lons, lats)
def test_tile_is_zorder_prefix(lon, lat):
    """tile_id at z is the morton prefix of the full-depth z-order key."""
    z, maxz = 8, 16
    tile = int(tile_from_lonlat(np.array([lon]), np.array([lat]), z, maxz)[0])
    zkey = int(zorder_key(np.array([lon]), np.array([lat]), maxz)[0])
    assert (tile & ((1 << 58) - 1)) == zkey >> (2 * (maxz - z))


@settings(max_examples=300, deadline=None)
@given(st.text(max_size=60))
def test_unaccent_idempotent_and_latin_stable(s):
    once = unaccent(s)
    assert unaccent(once) == once
    # plain ASCII is a fixed point
    if s.isascii():
        assert once == s


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=30), st.text(max_size=30))
def test_levenshtein_metric_properties(a, b):
    d = levenshtein_bytes(a, b)
    assert d == levenshtein_bytes(b, a)
    assert (d == 0) == (a == b)
    # upper bound: byte length of the longer string
    assert d <= max(len(a.encode()), len(b.encode()))


_EDGE = [float("inf"), float("-inf"), float("nan"), 0.0, -0.0,
         180.0, -180.0, 90.0, -90.0, 1e300, -1e300,
         np.nextafter(180.0, 0.0), np.nextafter(-180.0, 0.0),
         np.nextafter(90.0, 0.0), np.nextafter(-90.0, 0.0),
         179.999999, -179.999999, 89.999999, -89.999999, 12.5]


def test_cell_tile_jvm_matches_numpy_at_edges(spark):
    """cell_expr/tile_expr (JVM) ≡ cell_from_lonlat/tile_from_lonlat
    (numpy) on every (lon, lat) pair of an adversarial list: ±inf, NaN,
    ±0.0, the exact ±180/±90 edges, ±1e300 and values just inside the
    edges, at two resolutions and two zooms.  The JVM saturates
    floor() to the long range, so the numpy twin must clip before its
    int cast — and must do so without a cast warning."""
    from pyspark.sql import functions as F

    from osml10n_spark.spatial.cellexpr import cell_expr, tile_expr

    pairs = [(lon, lat) for lon in _EDGE for lat in _EDGE]
    lon = np.array([p[0] for p in pairs])
    lat = np.array([p[1] for p in pairs])
    df = spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in enumerate(pairs)],
        "i long, lon double, lat double")
    cols = []
    for res in (3, 9):
        cols.append(cell_expr(F.col("lon"), F.col("lat"), res)
                    .alias(f"cell{res}"))
    for z in (0, 8):
        cols.append(tile_expr(F.col("lon"), F.col("lat"), z)
                    .alias(f"tile{z}"))
    rows = sorted(df.select("i", *cols).collect())
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        want = {f"cell{r}": cell_from_lonlat(lon, lat, r) for r in (3, 9)}
        want.update({f"tile{z}": tile_from_lonlat(lon, lat, z)
                     for z in (0, 8)})
    for name, arr in want.items():
        got = np.array([r[name] for r in rows], dtype=np.int64)
        bad = np.flatnonzero(got != arr)
        assert bad.size == 0, (name, [(pairs[i], int(got[i]), int(arr[i]))
                                      for i in bad[:5]])
