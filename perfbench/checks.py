"""Output checks that need no Spark: order-independent digests, the
reference derivation of localized rows and the kNN brute force."""
from __future__ import annotations

import numpy as np
from pyspark.sql import Column, functions as F

from osml10n_spark.kernels.geo import Transcriptor
from osml10n_spark.kernels.names import get_placename_from_tags
from osml10n_spark.spatial.cellindex import cell_from_lonlat, tile_from_lonlat


def digest_col(*cols: str) -> Column:
    """Aggregate whose value does not depend on row order: the sum of
    each row's 64-bit hash, widened so it cannot overflow."""
    return F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).cast("string")


def localized_aggs(sample_ids: list[str]) -> list[Column]:
    """count, digest, swallowed-error count and the sampled rows of a
    localized frame (image_id, tags, caption_l10n, cell_id, tile_id)."""
    name = F.element_at("tags", F.lit("name"))
    return [
        F.count(F.lit(1)).alias("n"),
        digest_col("image_id", "caption_l10n", "cell_id", "tile_id").alias("digest"),
        F.sum(F.when((name != "") & (F.col("caption_l10n") == ""), 1)
              .otherwise(0)).alias("empties"),
        F.collect_list(F.when(F.col("image_id").isin(sample_ids),
                              F.struct("image_id", "caption_l10n", "cell_id",
                                       "tile_id"))).alias("samples"),
    ]


def reference_localized(rows: list[dict], transcriptor: Transcriptor) -> dict:
    """image_id -> (caption_l10n, cell_id, tile_id) derived with the pure
    kernels, a linear BoundaryIndex and the numpy cell/tile twins."""
    out = {}
    for r in rows:
        lon, lat = r["lon"], r["lat"]
        cap = get_placename_from_tags("", dict(r["tags"]), False, "\n", "de",
                                      [lon, lat, lon, lat], transcriptor)
        x, y = np.array([lon]), np.array([lat])
        out[r["image_id"]] = (cap, int(cell_from_lonlat(x, y, 9)[0]),
                              int(tile_from_lonlat(x, y, 8, 16)[0]))
    return out


def compare_localized(samples, expected: dict) -> list[str]:
    """Failures, one line each, between Spark sample rows and the
    reference derivation."""
    got = {s.image_id: (s.caption_l10n, s.cell_id, s.tile_id) for s in samples}
    bad = [f"{i}: got {got.get(i)!r}, expected {e!r}"
           for i, e in expected.items() if got.get(i) != e]
    return bad


def knn_brute(qlon: float, qlat: float, ilon: np.ndarray, ilat: np.ndarray,
              iid: list[str], k: int) -> list[tuple[str, float]]:
    """Top-k (iid, dist2) with the engine's dist2 arithmetic and the
    (dist2, iid) tie-break."""
    d = (qlon - ilon) * (qlon - ilon) + (qlat - ilat) * (qlat - ilat)
    kth = np.partition(d, k - 1)[k - 1]
    cand = np.nonzero(d <= kth)[0]
    best = sorted(((float(d[j]), iid[j]) for j in cand))[:k]
    return [(i, dist) for dist, i in best]
