"""Hierarchical spatial cell index (H3/S2-analog) in pure numpy bit-math.

Grid model: at resolution ``r`` the world is an equirectangular grid of
``2^(r+1)`` lon columns × ``2^r`` lat rows (square cells in degrees:
180/2^r per side).  A cell id packs ``[res:5 bits][morton:2r+1 bits]``
into a positive int64; Morton (z-order) interleaving makes parent/child
a shift, gives spatial locality for sort/write clustering, and turns
point-in-polygon at scale into an equi-join:

    interior cover cells  → dict/broadcast equi-join, no geometry math
    boundary cover cells  → ray-cast refinement only

This is the scale design the reference cannot express (its daemon scans
5 prepared polygons linearly per request, geo-transcript-srv.py:211-221).

Everything here is vectorized over numpy arrays so it can run inside
Arrow-batched pandas UDFs; resolutions up to 25 fit int64.
"""
from __future__ import annotations

import numpy as np

from .geometry import PackedPolygon

__all__ = [
    "cell_from_lonlat", "cell_res", "cell_to_parent", "cell_children",
    "cell_center", "k_ring", "polygon_cover", "zorder_key", "tile_from_lonlat",
    "DEFAULT_RES",
]

DEFAULT_RES = 9          # ~0.35° cells (≈39 km at the equator)
_RES_SHIFT = np.uint64(58)

_M1 = np.uint64(0x0000FFFF0000FFFF)
_M2 = np.uint64(0x00FF00FF00FF00FF)
_M3 = np.uint64(0x0F0F0F0F0F0F0F0F)
_M4 = np.uint64(0x3333333333333333)
_M5 = np.uint64(0x5555555555555555)


def _spread(x: np.ndarray) -> np.ndarray:
    """Interleave-ready bit spread of a ≤32-bit value (Morton encode half)."""
    x = x.astype(np.uint64) & np.uint64(0xFFFFFFFF)
    x = (x | (x << np.uint64(16))) & _M1
    x = (x | (x << np.uint64(8))) & _M2
    x = (x | (x << np.uint64(4))) & _M3
    x = (x | (x << np.uint64(2))) & _M4
    x = (x | (x << np.uint64(1))) & _M5
    return x


def _compact(x: np.ndarray) -> np.ndarray:
    """Inverse of _spread (Morton decode half)."""
    x = x.astype(np.uint64) & _M5
    x = (x | (x >> np.uint64(1))) & _M4
    x = (x | (x >> np.uint64(2))) & _M3
    x = (x | (x >> np.uint64(4))) & _M2
    x = (x | (x >> np.uint64(8))) & _M1
    x = (x | (x >> np.uint64(16))) & np.uint64(0xFFFFFFFF)
    return x


def _grid_shape(res: int) -> tuple[int, int]:
    return 2 ** (res + 1), 2 ** res          # nx (lon), ny (lat)


def _clipped_idx(v, lo_shift: float, scale: float, n: int) -> np.ndarray:
    """Grid index in [0, n-1], clipped in float space BEFORE the int64
    cast — numpy twin of cellexpr._clipped_idx (the JVM saturates
    floor() to the long range): ±inf and out-of-range doubles land on
    the edge column instead of wrapping to INT64_MIN, and NaN maps to
    0 (``minimum`` propagates it, ``fmax`` drops it)."""
    f = (np.asarray(v, dtype=np.float64) + lo_shift) / scale * n
    np.floor(f, out=f)
    np.minimum(f, n - 1, out=f)
    np.fmax(f, 0, out=f)
    return f.astype(np.int64)


def _xy_from_lonlat(lon, lat, res: int):
    nx, ny = _grid_shape(res)
    return (_clipped_idx(lon, 180.0, 360.0, nx),
            _clipped_idx(lat, 90.0, 180.0, ny))


def _pack(ix, iy, res: int) -> np.ndarray:
    morton = _spread(np.asarray(ix)) | (_spread(np.asarray(iy)) << np.uint64(1))
    return ((np.uint64(res) << _RES_SHIFT) | morton).astype(np.int64)


def _unpack(cell) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    c = np.asarray(cell).astype(np.uint64)
    res = (c >> _RES_SHIFT).astype(np.int64)
    morton = c & ((np.uint64(1) << _RES_SHIFT) - np.uint64(1))
    ix = _compact(morton).astype(np.int64)
    iy = _compact(morton >> np.uint64(1)).astype(np.int64)
    return ix, iy, res


def cell_from_lonlat(lon, lat, res: int = DEFAULT_RES) -> np.ndarray:
    """int64 cell id(s) for point(s) at the given resolution."""
    ix, iy = _xy_from_lonlat(lon, lat, res)
    return _pack(ix, iy, res)


def cell_res(cell) -> np.ndarray:
    return (np.asarray(cell).astype(np.uint64) >> _RES_SHIFT).astype(np.int64)


def cell_to_parent(cell, parent_res: int | None = None) -> np.ndarray:
    """Parent cell id (child containment is exact: morton >> 2 per level)."""
    c = np.asarray(cell).astype(np.uint64)
    res = (c >> _RES_SHIFT).astype(np.int64)
    if parent_res is None:
        parent_res = int(res.max()) - 1 if res.size else 0
    if parent_res < 0:
        raise ValueError("resolution-0 cells have no parent")
    steps = res - parent_res
    if np.any(steps < 0):
        raise ValueError("parent_res must be <= cell res")
    morton = (c & ((np.uint64(1) << _RES_SHIFT) - np.uint64(1)))
    morton = morton >> (np.uint64(2) * steps.astype(np.uint64))
    return ((np.uint64(parent_res) << _RES_SHIFT) | morton).astype(np.int64)


def cell_children(cell) -> np.ndarray:
    """The 4 children of each cell (next resolution)."""
    c = np.asarray(cell).astype(np.uint64).reshape(-1)
    res = (c >> _RES_SHIFT).astype(np.int64)
    morton = c & ((np.uint64(1) << _RES_SHIFT) - np.uint64(1))
    base = morton << np.uint64(2)
    kids = [((res.astype(np.uint64) + np.uint64(1)) << _RES_SHIFT) | (base | np.uint64(q))
            for q in range(4)]
    return np.stack(kids, axis=1).astype(np.int64)


def cell_center(cell) -> tuple[np.ndarray, np.ndarray]:
    ix, iy, res = _unpack(cell)
    out_lon = np.empty(ix.shape, dtype=np.float64)
    out_lat = np.empty(iy.shape, dtype=np.float64)
    for r in np.unique(res):
        nx, ny = _grid_shape(int(r))
        m = res == r
        out_lon[m] = (ix[m] + 0.5) / nx * 360.0 - 180.0
        out_lat[m] = (iy[m] + 0.5) / ny * 180.0 - 90.0
    return out_lon, out_lat


def k_ring(cell: int, k: int = 1) -> np.ndarray:
    """All cells within Chebyshev distance k (lon wraps, lat clamps)."""
    ix, iy, res = _unpack(np.array([cell]))
    ix, iy, r = int(ix[0]), int(iy[0]), int(res[0])
    nx, ny = _grid_shape(r)
    out = []
    for dy in range(-k, k + 1):
        ny_i = iy + dy
        if ny_i < 0 or ny_i >= ny:
            continue
        for dx in range(-k, k + 1):
            out.append(((ix + dx) % nx, ny_i))
    xs = np.array([o[0] for o in out], dtype=np.int64)
    ys = np.array([o[1] for o in out], dtype=np.int64)
    return np.unique(_pack(xs, ys, r))


def polygon_cover(poly: PackedPolygon, res: int = DEFAULT_RES):
    """Sound cover of a polygon at resolution ``res``.

    Returns (interior_cells, boundary_cells): boundary = every cell
    overlapped by any edge's bbox (a superset of edge-crossed cells, so
    the cover is sound: any point inside the polygon lies in a cell
    that is either boundary or has its center inside); interior =
    center-inside cells minus boundary.
    """
    nx, ny = _grid_shape(res)
    # boundary: conservative edge-bbox rasterization
    ex_lo = np.minimum(poly.x1, poly.x2)
    ex_hi = np.maximum(poly.x1, poly.x2)
    ey_lo = np.minimum(poly.y1, poly.y2)
    ey_hi = np.maximum(poly.y1, poly.y2)
    bx_lo = np.clip(np.floor((ex_lo + 180.0) / 360.0 * nx).astype(np.int64), 0, nx - 1)
    bx_hi = np.clip(np.floor((ex_hi + 180.0) / 360.0 * nx).astype(np.int64), 0, nx - 1)
    by_lo = np.clip(np.floor((ey_lo + 90.0) / 180.0 * ny).astype(np.int64), 0, ny - 1)
    by_hi = np.clip(np.floor((ey_hi + 90.0) / 180.0 * ny).astype(np.int64), 0, ny - 1)
    bset: set[tuple[int, int]] = set()
    for xl, xh, yl, yh in zip(bx_lo, bx_hi, by_lo, by_hi):
        for cx in range(xl, xh + 1):
            for cy in range(yl, yh + 1):
                bset.add((cx, cy))
    boundary = _pack(np.array([c[0] for c in bset], dtype=np.int64),
                     np.array([c[1] for c in bset], dtype=np.int64), res) \
        if bset else np.empty(0, dtype=np.int64)

    # interior: centers-inside over the polygon bbox cell window
    xmin, ymin, xmax, ymax = poly.bbox
    cx_lo = max(int(np.floor((xmin + 180.0) / 360.0 * nx)), 0)
    cx_hi = min(int(np.floor((xmax + 180.0) / 360.0 * nx)), nx - 1)
    cy_lo = max(int(np.floor((ymin + 90.0) / 180.0 * ny)), 0)
    cy_hi = min(int(np.floor((ymax + 90.0) / 180.0 * ny)), ny - 1)
    gx, gy = np.meshgrid(np.arange(cx_lo, cx_hi + 1), np.arange(cy_lo, cy_hi + 1))
    gx = gx.ravel()
    gy = gy.ravel()
    c_lon = (gx + 0.5) / nx * 360.0 - 180.0
    c_lat = (gy + 0.5) / ny * 180.0 - 90.0
    inside = poly.contains(c_lon, c_lat)
    centers_in = _pack(gx[inside], gy[inside], res)
    interior = np.setdiff1d(centers_in, boundary)
    return interior, np.sort(boundary)


def zorder_key(lon, lat, z: int = 16) -> np.ndarray:
    """Raster z-order (Morton) key: 2^z × 2^z grid, y counted from north
    (raster-tile convention)."""
    n = 2 ** z
    tx = _clipped_idx(lon, 180.0, 360.0, n)
    ty = _clipped_idx(-np.asarray(lat, dtype=np.float64), 90.0, 180.0, n)
    return (_spread(tx) | (_spread(ty) << np.uint64(1))).astype(np.int64)


def tile_from_lonlat(lon, lat, z: int = 8, maxz: int = 16) -> np.ndarray:
    """Tile id at zoom z derived from the maxz z-order key by shifting —
    stable across parallelism and resumes (pure arithmetic)."""
    zk = zorder_key(lon, lat, maxz).astype(np.uint64)
    tile = zk >> np.uint64(2 * (maxz - z))
    return ((np.uint64(z) << _RES_SHIFT) | tile).astype(np.int64)
