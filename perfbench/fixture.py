"""Seeded country-boundary fixture for the benchmark.

Writes one GeoJSON file with a feature each for ``hk``, ``jp`` (a
MultiPolygon), ``mo``, ``th`` and ``tw``.  Every ring is a wobbly
star-shaped outline around one of the placement clusters in
``inputs.py``, with thousands of vertices, so the ray-cast refinement of
boundary cells costs about what a real coastline would.  Star-shaped
rings contain their own centre, which the benchmark's tests pin.
"""
from __future__ import annotations

import json
import math
from pathlib import Path

import numpy as np

# cc -> list of (centre lon, centre lat, mean radius in degrees, vertices);
# jp has two parts, so it is written as a MultiPolygon
CLUSTERS: dict[str, list[tuple[float, float, float, int]]] = {
    "hk": [(114.17, 22.30, 0.07, 1500)],
    "jp": [(139.70, 35.70, 1.10, 4000), (130.80, 32.70, 0.90, 3000)],
    "mo": [(113.56, 22.18, 0.035, 1200)],
    "th": [(100.50, 13.80, 1.30, 4000)],
    "tw": [(121.00, 23.70, 0.85, 3000)],
}


def ring(rng: np.random.Generator, lon: float, lat: float, radius: float,
         n: int) -> list[list[float]]:
    """Closed star-shaped ring: radius modulated by a few seeded
    harmonics plus vertex jitter, always between 0.45 and 1.55 × mean."""
    theta = np.linspace(0.0, 2.0 * math.pi, n, endpoint=False)
    r = np.ones(n)
    for k in (3, 7, 17, 41):
        r += rng.uniform(0.03, 0.12) * np.sin(k * theta + rng.uniform(0, 2 * math.pi))
    r += rng.normal(0.0, 0.02, n)
    r = radius * np.clip(r, 0.45, 1.55)
    xs = lon + r * np.cos(theta)
    ys = lat + r * np.sin(theta)
    pts = [[float(x), float(y)] for x, y in zip(xs, ys)]
    pts.append(pts[0])
    return pts


def feature(rng: np.random.Generator, cc: str,
            parts: list[tuple[float, float, float, int]]) -> dict:
    polys = [[ring(rng, *p)] for p in parts]
    geom = ({"type": "Polygon", "coordinates": polys[0]} if len(polys) == 1
            else {"type": "MultiPolygon", "coordinates": polys})
    return {"type": "Feature", "properties": {"cc": cc}, "geometry": geom}


def write_fixture(dirname: str | Path, seed: int) -> Path:
    """Write ``boundaries.geojson`` under ``dirname`` (created) and
    return the directory, ready for ``OSML10N_BOUNDARIES``."""
    rng = np.random.default_rng([seed, 7])
    doc = {"type": "FeatureCollection",
           "features": [feature(rng, cc, parts)
                        for cc, parts in sorted(CLUSTERS.items())]}
    d = Path(dirname)
    d.mkdir(parents=True, exist_ok=True)
    tmp = d / "boundaries.geojson.tmp"
    tmp.write_text(json.dumps(doc))
    tmp.replace(d / "boundaries.geojson")
    return d
