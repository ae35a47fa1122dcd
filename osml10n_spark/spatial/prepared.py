"""Cover-accelerated country lookup — the executor-side "prepared
geometry" (scale path for the point-in-polygon join).

Precomputes, per boundary polygon, an interior/boundary cell cover at a
chosen resolution.  Lookup then is:

    cell = cell_from_lonlat(lon, lat)        # bit math
    interior hit  → cc directly (no geometry)   — the common case
    boundary hit  → ray-cast refine against that polygon only
    neither       → ''

On a cluster this is what turns the theta-join into an equi-join: the
interior map is broadcast state, and only boundary-cell rows pay for
geometry.  The structure pickles compactly for sc.broadcast().

``default_lookup`` is the process's one boundary cache: each Python
process, every Spark Python worker included, builds it once — the
executor-side analogue of the daemon's startup prepared-geometry cache
(geo-transcript-srv.py:204-208).
"""
from __future__ import annotations

import functools

import numpy as np

from .boundaries import BoundaryIndex, load_boundaries
from .cellindex import DEFAULT_RES, cell_from_lonlat, polygon_cover

__all__ = ["PreparedLookup", "default_lookup"]


class PreparedLookup:
    def __init__(self, index: BoundaryIndex, res: int = DEFAULT_RES):
        self.index = index
        self.res = res
        self._cc = [p.cc for p in index.polys]   # ordinals = sorted-cc order
        interior: dict[int, int] = {}            # cell -> smallest ordinal
        boundary: dict[int, list[int]] = {}      # cell -> polygon ordinals
        for ordinal, poly in enumerate(index.polys):
            icells, bcells = polygon_cover(poly, res)
            for c in icells.tolist():
                # first-match-wins in deterministic sorted-cc order:
                # keep the first polygon that claims an interior cell
                interior.setdefault(c, ordinal)
            for c in bcells.tolist():
                boundary.setdefault(c, []).append(ordinal)
        self.interior = interior
        self.boundary = boundary

    def lookup(self, lon, lat) -> np.ndarray:
        lon = np.asarray(lon, dtype=np.float64)
        lat = np.asarray(lat, dtype=np.float64)
        cells = cell_from_lonlat(lon, lat, self.res)
        out = np.full(len(lon), "", dtype=object)
        # group refinement rows: an interior hit short-circuits ONLY
        # when no overlapping polygon with an EARLIER sorted-cc is a
        # boundary candidate for the same cell (first-match parity for
        # overlapping boundary sets)
        cand_map: dict[tuple[tuple[int, ...], int], list[int]] = {}
        for i, c in enumerate(cells.tolist()):
            i_ord = self.interior.get(c)
            b_ords = self.boundary.get(c)
            if b_ords is None:
                if i_ord is not None:
                    out[i] = self._cc[i_ord]
                continue
            earlier = tuple(o for o in b_ords
                            if i_ord is None or o < i_ord)
            if not earlier:
                if i_ord is not None:
                    out[i] = self._cc[i_ord]
                continue
            cand_map.setdefault((earlier, -1 if i_ord is None else i_ord),
                                []).append(i)
        for (ordinals, fallback), rows in cand_map.items():
            rows_a = np.asarray(rows, dtype=np.int64)
            unresolved = np.ones(len(rows_a), dtype=bool)
            for o in ordinals:               # ordinals are sorted-cc order
                if not unresolved.any():
                    break
                poly = self.index.polys[o]
                sub = rows_a[unresolved]
                hit = poly.contains(lon[sub], lat[sub])
                out[sub[hit]] = poly.cc
                unresolved[np.nonzero(unresolved)[0][hit]] = False
            if fallback >= 0 and unresolved.any():
                out[rows_a[unresolved]] = self._cc[fallback]
        return out


@functools.cache
def default_lookup() -> PreparedLookup:
    """The prepared lookup over :func:`load_boundaries`'s default
    directory, built once per process."""
    return PreparedLookup(load_boundaries(), res=9)
