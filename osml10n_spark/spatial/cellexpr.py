"""Cell / tile / z-order ids as pure JVM column expressions.

Bit-identical to the numpy kernels in cellindex.py (same clip→floor→
morton-spread pipeline; property-tested against them), but evaluated
inside whole-stage codegen — no Python worker, no Arrow transfer.  This
is the hot-path variant used by assign_cells/assign_tiles; the numpy
versions remain for driver-side index construction (covers, k-rings).

All masks fit in the positive int64 range except the alternating-bit
masks _M4/_M5, which are still positive (0x3... / 0x5...), so plain
int64 bitwise ops reproduce the uint64 math exactly: inputs are ≤32-bit
non-negative, every intermediate stays below 2^62.
"""
from __future__ import annotations

from pyspark.sql import Column, functions as F

__all__ = ["cell_expr", "tile_expr", "zorder_expr", "parent_expr",
           "hexcell_expr", "hex_parent_expr"]

_M1 = 0x0000FFFF0000FFFF
_M2 = 0x00FF00FF00FF00FF
_M3 = 0x0F0F0F0F0F0F0F0F
_M4 = 0x3333333333333333
_M5 = 0x5555555555555555
_RES_SHIFT = 58


def _spread(x: Column) -> Column:
    x = x.bitwiseAND(F.lit(0xFFFFFFFF))
    x = (x.bitwiseOR(F.shiftleft(x, 16))).bitwiseAND(F.lit(_M1))
    x = (x.bitwiseOR(F.shiftleft(x, 8))).bitwiseAND(F.lit(_M2))
    x = (x.bitwiseOR(F.shiftleft(x, 4))).bitwiseAND(F.lit(_M3))
    x = (x.bitwiseOR(F.shiftleft(x, 2))).bitwiseAND(F.lit(_M4))
    x = (x.bitwiseOR(F.shiftleft(x, 1))).bitwiseAND(F.lit(_M5))
    return x


def _clipped_idx(v: Column, lo_shift: float, scale: float, n: int) -> Column:
    ix = F.floor((v + F.lit(lo_shift)) / F.lit(scale) * F.lit(n)).cast("long")
    return F.greatest(F.least(ix, F.lit(n - 1)), F.lit(0))


def _morton(lon: Column, lat: Column, nx: int, ny: int) -> Column:
    ix = _clipped_idx(lon, 180.0, 360.0, nx)
    iy = _clipped_idx(lat, 90.0, 180.0, ny)
    return _spread(ix).bitwiseOR(F.shiftleft(_spread(iy), 1))


def cell_expr(lon: Column, lat: Column, res: int) -> Column:
    """JVM twin of cellindex.cell_from_lonlat (int64 cell id)."""
    return F.lit(res << _RES_SHIFT).bitwiseOR(
        _morton(lon, lat, 2 ** (res + 1), 2 ** res)).cast("long")


def zorder_expr(lon: Column, lat: Column, z: int = 16) -> Column:
    """JVM twin of cellindex.zorder_key: y runs north→south (tile
    convention), full-depth morton at zoom ``z``."""
    n = 2 ** z
    ix = _clipped_idx(lon, 180.0, 360.0, n)
    iy = _clipped_idx(-lat, 90.0, 180.0, n)      # (90 - lat) flip
    return _spread(ix).bitwiseOR(F.shiftleft(_spread(iy), 1)).cast("long")


def tile_expr(lon: Column, lat: Column, z: int = 8, maxz: int = 16) -> Column:
    """JVM twin of cellindex.tile_from_lonlat: z-order prefix at zoom z
    of the maxz-depth key, tagged with z."""
    return F.lit(z << _RES_SHIFT).bitwiseOR(
        F.shiftrightunsigned(zorder_expr(lon, lat, maxz),
                             2 * (maxz - z))).cast("long")


def _compact(x: Column) -> Column:
    """Inverse of _spread (Morton decode half) — JVM twin of
    cellindex._compact.  NOTE: higher-order-function formulations of the
    k-ring over this (transform/filter lambdas) measured ~40 ms/row in
    Catalyst's interpreted HOF path — 30× slower than even a per-row
    pandas UDF; the fast JVM k-ring is the static-literal offset explode
    in operators.spatial._explode_neighbor_cells, which stays in
    whole-stage codegen."""
    x = x.bitwiseAND(F.lit(_M5))
    x = (x.bitwiseOR(F.shiftrightunsigned(x, 1))).bitwiseAND(F.lit(_M4))
    x = (x.bitwiseOR(F.shiftrightunsigned(x, 2))).bitwiseAND(F.lit(_M3))
    x = (x.bitwiseOR(F.shiftrightunsigned(x, 4))).bitwiseAND(F.lit(_M2))
    x = (x.bitwiseOR(F.shiftrightunsigned(x, 8))).bitwiseAND(F.lit(_M1))
    x = (x.bitwiseOR(F.shiftrightunsigned(x, 16))).bitwiseAND(F.lit(0xFFFFFFFF))
    return x


def parent_expr(cell: Column, res: int, parent_res: int) -> Column:
    """JVM twin of cellindex.cell_to_parent for known resolutions."""
    morton = cell.bitwiseAND(F.lit((1 << _RES_SHIFT) - 1))
    return F.lit(parent_res << _RES_SHIFT).bitwiseOR(
        F.shiftrightunsigned(morton, 2 * (res - parent_res))).cast("long")


# ---------------------------------------------------------------- hex twin

_HEX_OFF_X = 540_000_000
_HEX_OFF_Y = 450_000_000
_HEX_Q_SHIFT = 26
_HEX_RES_SHIFT = 52
_HEX_QR_MASK = (1 << 26) - 1


def _idiv(x: Column, d: int) -> Column:
    """Exact non-negative integer division in pure Column algebra:
    (x - x % d) is exactly divisible, and IEEE double division of an
    exactly-divisible pair < 2^53 is exact — so the cast truncation is
    a no-op and the result matches `//` in numpy/DuckDB bit-for-bit."""
    return ((x - x % F.lit(d)) / F.lit(d)).cast("long")


def _hex_assign(x: Column, y: Column, res: int):
    """(q, row) columns from offset-µdeg integer coords — JVM twin of
    hexindex._assign_xy (same band → zigzag-triangle → axial chain)."""
    from .hexindex import hex_wu
    w, u = hex_wu(res)
    yp = y + F.lit(u)
    band = _idiv(yp, 3 * u)
    yrel = yp - F.lit(3 * u) * band
    t = (x - band.bitwiseAND(F.lit(1)) * F.lit(w) + F.lit(w)) % F.lit(2 * w)
    dy = yrel - F.lit(2 * u)
    below = (F.lit(u) * t >= F.lit(w) * dy) \
        & (F.lit(u) * (F.lit(2 * w) - t) >= F.lit(w) * dy)
    row = band + F.when((yrel >= F.lit(2 * u)) & ~below, F.lit(1)) \
        .otherwise(F.lit(0))
    col = _idiv(x - row.bitwiseAND(F.lit(1)) * F.lit(w) + F.lit(w), 2 * w)
    q = col - _idiv(row - row.bitwiseAND(F.lit(1)), 2)
    return q, row


def hexcell_expr(lon: Column, lat: Column, res: int) -> Column:
    """JVM twin of hexindex.hexcell_from_lonlat (int64 hex cell id).
    One floor(x*1e6) per axis is the only FP step; the rest is int64.

    NOTE: pass plain column attributes.  Column algebra has no
    subexpression sharing, so band/row reuse makes the tree ~1k nodes
    from attributes — fine — but composing this inside another
    hex expression (e.g. hex_parent_expr(hexcell_expr(...))) multiplies
    trees to ~200k nodes and OOMs codegen.  Materialize the cell column
    first (assign_hexcells), then derive parents from the attribute."""
    x = F.floor(lon * F.lit(1e6)).cast("long") + F.lit(_HEX_OFF_X)
    y = F.floor(lat * F.lit(1e6)).cast("long") + F.lit(_HEX_OFF_Y)
    q, row = _hex_assign(x, y, res)
    return F.lit(res << _HEX_RES_SHIFT).bitwiseOR(
        F.shiftleft(q, _HEX_Q_SHIFT)).bitwiseOR(row).cast("long")


def hex_parent_expr(cell: Column, res: int, parent_res: int) -> Column:
    """JVM twin of hexindex.hex_to_parent: exact integer center of the
    fine cell re-assigned at parent_res (H3-parent semantics).
    ``cell`` must be a materialized column attribute — see
    hexcell_expr's note on expression-tree blowup."""
    from .hexindex import hex_wu
    w, u = hex_wu(res)
    q = F.shiftrightunsigned(cell, _HEX_Q_SHIFT).bitwiseAND(F.lit(_HEX_QR_MASK))
    r = cell.bitwiseAND(F.lit(_HEX_QR_MASK))
    xc = F.lit(w) * (F.lit(2) * q + r)
    yc = F.lit(3 * u) * r
    pq, prow = _hex_assign(xc, yc, parent_res)
    return F.lit(parent_res << _HEX_RES_SHIFT).bitwiseOR(
        F.shiftleft(pq, _HEX_Q_SHIFT)).bitwiseOR(prow).cast("long")
