"""Vectorized point-in-polygon over packed edge arrays.

This replaces the reference's shapely prepared-geometry linear scan
(transcription-daemon/geo-transcript-srv.py:204-221) with numpy
ray-casting designed for Arrow batches:

- polygons are packed once into flat edge arrays (x1,y1,x2,y2) plus a
  per-polygon bbox — the "prepared geometry" equivalent;
- an edge y-bucket index limits the crossing test to edges whose y-span
  covers the query latitude (the th boundary has ~49k vertices; without
  bucketing every point pays O(V));
- containment matches shapely's ``prepared.contains`` on interior
  points via even-odd crossing counting across all rings (holes flip
  parity naturally).

Deterministic tie-break for overlapping polygons: sorted cc (the
reference uses directory iteration order, which is unspecified —
divergence documented in SURVEY.md §2.3 J1).
"""
from __future__ import annotations

import numpy as np

__all__ = ["PackedPolygon", "pack_polygon", "pack_rect", "points_in_polygon"]


class PackedPolygon:
    """Flat edge arrays + bbox + y-bucket index for one (multi)polygon."""

    __slots__ = ("cc", "x1", "y1", "x2", "y2", "bbox", "n_buckets",
                 "ymin", "yspan", "buckets")

    def __init__(self, cc: str, x1, y1, x2, y2, n_buckets: int = 64):
        self.cc = cc
        self.x1, self.y1, self.x2, self.y2 = x1, y1, x2, y2
        if len(x1) == 0:
            # empty polygon: inverted bbox so the prefilter rejects all
            self.bbox = (1.0, 1.0, -1.0, -1.0)
            self.n_buckets = n_buckets
            self.ymin, self.yspan = 0.0, 1e-12
            self.buckets = [np.empty(0, dtype=np.int64)
                            for _ in range(n_buckets)]
            return
        self.bbox = (float(min(x1.min(), x2.min())), float(min(y1.min(), y2.min())),
                     float(max(x1.max(), x2.max())), float(max(y1.max(), y2.max())))
        # y-bucket index: bucket b -> edge indices whose y-span overlaps it
        self.n_buckets = n_buckets
        self.ymin = self.bbox[1]
        self.yspan = max(self.bbox[3] - self.bbox[1], 1e-12)
        elo = np.minimum(y1, y2)
        ehi = np.maximum(y1, y2)
        blo = np.clip(((elo - self.ymin) / self.yspan * n_buckets).astype(np.int64),
                      0, n_buckets - 1)
        bhi = np.clip(((ehi - self.ymin) / self.yspan * n_buckets).astype(np.int64),
                      0, n_buckets - 1)
        buckets: list[list[int]] = [[] for _ in range(n_buckets)]
        for i in range(len(x1)):
            for b in range(blo[i], bhi[i] + 1):
                buckets[b].append(i)
        self.buckets = [np.asarray(b, dtype=np.int64) for b in buckets]

    def contains(self, lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
        """Even-odd ray-cast (semi-infinite +x ray) for arrays of points."""
        lon = np.asarray(lon, dtype=np.float64)
        lat = np.asarray(lat, dtype=np.float64)
        out = np.zeros(len(lon), dtype=bool)
        xmin, ymin, xmax, ymax = self.bbox
        cand = (lon >= xmin) & (lon <= xmax) & (lat >= ymin) & (lat <= ymax)
        if not cand.any():
            return out
        idx = np.nonzero(cand)[0]
        px = lon[idx]
        py = lat[idx]
        b_of = np.clip(((py - self.ymin) / self.yspan * self.n_buckets).astype(np.int64),
                       0, self.n_buckets - 1)
        inside = np.zeros(len(idx), dtype=bool)
        for b in np.unique(b_of):
            sel = b_of == b
            e = self.buckets[b]
            if len(e) == 0:
                continue
            ex1 = self.x1[e][:, None]
            ey1 = self.y1[e][:, None]
            ex2 = self.x2[e][:, None]
            ey2 = self.y2[e][:, None]
            qx = px[sel][None, :]
            qy = py[sel][None, :]
            straddle = (ey1 > qy) != (ey2 > qy)
            with np.errstate(divide="ignore", invalid="ignore"):
                xint = (ex2 - ex1) * (qy - ey1) / (ey2 - ey1) + ex1
            crossing = straddle & (qx < xint)
            inside[sel] = crossing.sum(axis=0) % 2 == 1
        out[idx] = inside
        return out


def pack_polygon(cc: str, rings: list) -> PackedPolygon:
    """Pack GeoJSON MultiPolygon/Polygon ring coordinate lists into edge
    arrays.  ``rings`` is a flat list of rings (exterior and holes alike —
    even-odd parity makes the distinction unnecessary)."""
    x1s, y1s, x2s, y2s = [], [], [], []
    for ring in rings:
        arr = np.asarray(ring, dtype=np.float64)
        if len(arr) < 3:
            continue
        # close the ring if not closed
        if arr[0][0] != arr[-1][0] or arr[0][1] != arr[-1][1]:
            arr = np.vstack([arr, arr[:1]])
        x1s.append(arr[:-1, 0])
        y1s.append(arr[:-1, 1])
        x2s.append(arr[1:, 0])
        y2s.append(arr[1:, 1])
    if not x1s:
        # all rings degenerate (<3 points): an empty polygon that
        # contains nothing, instead of np.concatenate([]) blowing up
        # the whole boundary-directory load
        empty = np.empty(0, dtype=np.float64)
        return PackedPolygon(cc, empty, empty.copy(), empty.copy(),
                             empty.copy())
    return PackedPolygon(cc, np.concatenate(x1s), np.concatenate(y1s),
                         np.concatenate(x2s), np.concatenate(y2s))


def pack_rect(cc: str, x0: float, y0: float, x1: float,
              y1: float) -> PackedPolygon:
    """The axis-aligned rectangle [x0, x1] × [y0, y1] as one ring."""
    return pack_polygon(cc, [[(x0, y0), (x1, y0), (x1, y1), (x0, y1),
                              (x0, y0)]])


def points_in_polygon(poly: PackedPolygon, lon, lat) -> np.ndarray:
    return poly.contains(np.asarray(lon, dtype=np.float64),
                         np.asarray(lat, dtype=np.float64))
