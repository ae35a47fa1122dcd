"""Country-boundary source: GeoJSON dir → packed polygon index.

Loader parity with transcription-daemon/geo-transcript-srv.py:186-199
(all ``*.geojson`` in a directory, features flattened, ``properties.cc``
kept).  The index is small and is meant to be broadcast to executors;
the per-executor "prepared geometry" cache is
``osml10n_spark.spatial.prepared.default_lookup`` (module-level
memoization inside the Python worker — built once per executor, not
per batch).

First-match-wins scan order is deterministic here (sorted cc), unlike
the reference's filesystem iteration order.
"""
from __future__ import annotations

import json
import os
import pathlib
import pickle

import numpy as np

from .geometry import PackedPolygon, pack_polygon

__all__ = ["BoundaryIndex", "load_boundaries", "boundary_dir",
           "REFERENCE_BOUNDARY_DIR"]

REFERENCE_BOUNDARY_DIR = "/root/reference/osml10n/boundaries"


def boundary_dir() -> str:
    """The boundary GeoJSON directory every loader uses:
    ``OSML10N_BOUNDARIES`` when set, else the reference checkout's."""
    return os.environ.get("OSML10N_BOUNDARIES", REFERENCE_BOUNDARY_DIR)


class BoundaryIndex:
    """Ordered list of packed polygons + linear first-match country lookup."""

    def __init__(self, polys: list[PackedPolygon]):
        self.polys = sorted(polys, key=lambda p: p.cc)
        self.ccs = [p.cc for p in self.polys]

    def lookup(self, lon, lat) -> np.ndarray:
        """Vectorized country resolution; '' where no polygon contains
        the point (parity with Coord2Country.getCountry,
        geo-transcript-srv.py:211-221)."""
        lon = np.asarray(lon, dtype=np.float64)
        lat = np.asarray(lat, dtype=np.float64)
        out = np.full(len(lon), "", dtype=object)
        unresolved = np.ones(len(lon), dtype=bool)
        for poly in self.polys:
            if not unresolved.any():
                break
            idx = np.nonzero(unresolved)[0]
            hit = poly.contains(lon[idx], lat[idx])
            hit_idx = idx[hit]
            out[hit_idx] = poly.cc
            unresolved[hit_idx] = False
        return out

    def lookup_one(self, lon: float, lat: float) -> str:
        return str(self.lookup(np.array([lon]), np.array([lat]))[0])

    def dumps(self) -> bytes:
        return pickle.dumps(self)


def _feature_rings(geometry: dict) -> list:
    gtype = geometry["type"]
    coords = geometry["coordinates"]
    rings = []
    if gtype == "Polygon":
        rings.extend(coords)
    elif gtype == "MultiPolygon":
        for poly in coords:
            rings.extend(poly)
    else:
        raise ValueError(f"unsupported geometry type {gtype}")
    return rings


def load_boundaries(dirname: str | None = None) -> BoundaryIndex:
    """Read every *.geojson feature in ``dirname`` (default
    :func:`boundary_dir`; loader semantics of
    geo-transcript-srv.py:186-199) and pack into a BoundaryIndex."""
    d = pathlib.Path(dirname or boundary_dir())
    if not d.is_dir():
        raise FileNotFoundError(
            f"boundary directory {d} not found: set OSML10N_BOUNDARIES to "
            "a directory of *.geojson files")
    polys: list[PackedPolygon] = []
    for path in sorted(d.iterdir()):
        if path.is_file() and path.suffix == ".geojson":
            with open(path) as f:
                doc = json.load(f)
            for feature in doc["features"]:
                cc = feature["properties"]["cc"]
                polys.append(pack_polygon(cc, _feature_rings(feature["geometry"])))
    return BoundaryIndex(polys)
