"""Spatial DataFrame operators: country assignment (broadcast PiP),
cell/tile assignment, kNN join through one tile-grouped top-k kernel,
and skew-aware helpers.

All operators are DataFrame→DataFrame, shuffle-conscious:

- assign_country / assign_cells / assign_tiles are map-side only (no
  shuffle): the polygon index is per-executor broadcast state.
- knn_geo (brute-force window plan) exists as the small-side baseline
  and the reference for knn_cells; knn_cells is the scale path —
  queries fan out to the coarse tiles of their k-ring, one numpy
  distance pass per tile, one window top-k; the queries the ring
  cannot prove run the same pass again against every occupied tile.
- cell_histogram + salted_key implement heavy-cell detection/salting
  for skewed spatial data (dense urban cells), complementing AQE.
"""
from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.functions import pandas_udf

from ..udfs import udf_country_gated, udf_country_lookup

__all__ = [
    "assign_country", "assign_cells", "assign_tiles",
    "knn_geo", "knn_cells", "cell_histogram", "salted_key",
    "radius_join", "pip_join", "pip_join_via_cover",
    "polygon_cover_table", "KNN_LAST_RUN",
]

# Observability for knn_cells (driver-side, overwritten per call): the
# density-derived ring, tile passes run (2 when a residue ran) and the
# residue's query count — invisible in the physical plan.
KNN_LAST_RUN: dict = {}

# knn_cells groups by tile = cell_id >> _TILE_SHIFT (a 16×16 block of
# cells), and one numpy distance matrix holds at most _CHUNK_CELLS
# entries (32 MB of float64).
_TILE_SHIFT = 8
_CHUNK_CELLS = 4_000_000


def assign_country(df: DataFrame, lon_col: str = "lon", lat_col: str = "lat",
                   out_col: str = "cc", gate_name_col: str | None = None) -> DataFrame:
    """Broadcast point-in-polygon country join (J1).  With
    ``gate_name_col`` the daemon's CJK/Thai charset gate prunes the
    geometry work (P7 filter-before-join)."""
    if gate_name_col is not None:
        return df.withColumn(out_col, udf_country_gated(
            F.col(gate_name_col), F.col(lon_col), F.col(lat_col)))
    return df.withColumn(out_col, udf_country_lookup(F.col(lon_col), F.col(lat_col)))


def assign_cells(df: DataFrame, res: int = 9, lon_col: str = "lon",
                 lat_col: str = "lat", out_col: str = "cell_id") -> DataFrame:
    """Cell assignment as a pure JVM expression (whole-stage codegen;
    bit-identical to the numpy kernel — tests/test_spatial.py)."""
    from ..spatial.cellexpr import cell_expr
    return df.withColumn(out_col, cell_expr(F.col(lon_col), F.col(lat_col), res))


def assign_tiles(df: DataFrame, z: int = 8, maxz: int = 16, lon_col: str = "lon",
                 lat_col: str = "lat", out_col: str = "tile_id") -> DataFrame:
    from ..spatial.cellexpr import tile_expr
    return df.withColumn(out_col, tile_expr(F.col(lon_col), F.col(lat_col), z, maxz))


def assign_hexcells(df: DataFrame, res: int = 9, lon_col: str = "lon",
                    lat_col: str = "lat", out_col: str = "hexcell") -> DataFrame:
    """Hex (H3-analog) cell assignment as a pure JVM expression —
    bit-identical to the numpy kernel in spatial/hexindex.py (exact
    int64 chain after one floor(coord*1e6) per axis)."""
    from ..spatial.cellexpr import hexcell_expr
    return df.withColumn(out_col, hexcell_expr(F.col(lon_col), F.col(lat_col), res))


def hex_ring_join(points: DataFrame, seed_cells: list[int], k: int = 1,
                  cell_col: str = "hexcell") -> DataFrame:
    """Count points within axial distance ``k`` of each seed hex cell.

    Scale shape: the ring cells are enumerated driver-side (3k(k+1)+1
    per seed — numpy hex_k_ring) into a literal frame that Spark
    auto-broadcasts, so the probe is a pure broadcast equi-join on the
    already-assigned cell column: no distance math on the big side, no
    shuffle of the points.  This is the hex twin of the quad k-ring
    fan-out inside knn_cells and radius_join.

    Seeds are deduplicated (a repeated seed must not double-count) and
    every seed gets a row — a seed whose ring holds no points reports
    n_in_ring = 0 via a tiny post-aggregation left join (seeds × counts
    are both ≤|seeds| rows, so the fill-in join never touches the big
    side)."""
    from ..spatial.hexindex import hex_k_ring
    spark = points.sparkSession
    seeds = sorted({int(s) for s in seed_cells})
    rows = [(s, int(c)) for s in seeds for c in hex_k_ring(s, k)]
    ring = spark.createDataFrame(rows, "seed_cell long, ring_cell long")
    counts = (points.join(F.broadcast(ring),
                          points[cell_col] == ring["ring_cell"], "inner")
              .groupBy("seed_cell").agg(F.count("*").alias("n_in_ring")))
    seed_df = spark.createDataFrame([(s,) for s in seeds], "seed_cell long")
    return (seed_df.join(F.broadcast(counts), "seed_cell", "left")
            .select("seed_cell",
                    F.coalesce("n_in_ring", F.lit(0)).alias("n_in_ring")))


def _sq_dist(qlon, qlat, ilon, ilat):
    """Squared euclidean in degrees — deterministic FP, matches the
    DuckDB oracle expression exactly (no sqrt)."""
    return (qlon - ilon) * (qlon - ilon) + (qlat - ilat) * (qlat - ilat)


def knn_geo(queries: DataFrame, items: DataFrame, k: int,
            qid_col: str = "qid", iid_col: str = "iid") -> DataFrame:
    """Brute-force top-k nearest items per query point: a cross join
    against the broadcast items and one window by qid.

    Correct for any input; intended for small item sides and as the
    reference plan for knn_cells.  Output: (qid, iid, dist2, rank).
    """
    q = queries.select(F.col(qid_col).alias("qid"),
                       F.col("lon").alias("q_lon"), F.col("lat").alias("q_lat"))
    i = F.broadcast(items.select(F.col(iid_col).alias("iid"),
                                 F.col("lon").alias("i_lon"),
                                 F.col("lat").alias("i_lat")))
    joined = q.crossJoin(i).withColumn(
        "dist2", _sq_dist(F.col("q_lon"), F.col("q_lat"),
                          F.col("i_lon"), F.col("i_lat")))
    w = Window.partitionBy("qid").orderBy(F.col("dist2").asc(), F.col("iid").asc())
    return (joined.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("qid", "iid", "dist2", "rank"))


def _has_coords() -> Column:
    """True for rows whose lon and lat are both neither NULL nor NaN
    (``isnan(NULL)`` is false, so both tests are needed)."""
    return (F.col("lon").isNotNull() & F.col("lat").isNotNull()
            & ~F.isnan("lon") & ~F.isnan("lat"))


def _tile_pass(q_tiles: DataFrame, items: DataFrame, k: int,
               guard: float) -> DataFrame:
    """One tile-grouped top-k pass: ``q_tiles`` (qid, q_lon, q_lat,
    tile) and ``items`` (iid, i_lon, i_lat, tile) meet in one cogroup
    per tile, which computes the `_sq_dist` chain as a queries × items
    numpy matrix (chunked to ≤ _CHUNK_CELLS entries) and keeps, per
    query, the items within ``guard`` and at most its kth distance
    (every tie at the kth is kept); one window by qid then ranks the
    kept rows by (dist2, iid).  Output: (qid, iid, dist2, rank ≤ k)."""
    import numpy as np

    def tile_top(qp: pd.DataFrame, ip: pd.DataFrame) -> pd.DataFrame:
        qids, iids = qp["qid"].to_numpy(), ip["iid"].to_numpy()
        parts = [pd.DataFrame({"qid": qids[:0], "iid": iids[:0],
                               "dist2": np.empty(0)})]
        if len(qids) == 0 or len(iids) == 0:
            return parts[0]
        qlon, qlat = qp["q_lon"].to_numpy(float), qp["q_lat"].to_numpy(float)
        ilon, ilat = ip["i_lon"].to_numpy(float), ip["i_lat"].to_numpy(float)
        step = max(1, _CHUNK_CELLS // len(iids))
        for s in range(0, len(qids), step):
            dx = qlon[s:s + step, None] - ilon[None, :]
            dy = qlat[s:s + step, None] - ilat[None, :]
            d = dx * dx + dy * dy               # same IEEE chain as _sq_dist
            keep = d <= guard
            if len(iids) > k:
                keep &= d <= np.partition(d, k - 1, axis=1)[:, k - 1:k]
            r, c = np.nonzero(keep)
            parts.append(pd.DataFrame({"qid": qids[s + r], "iid": iids[c],
                                       "dist2": d[r, c]}))
        return pd.concat(parts, ignore_index=True)

    qt = q_tiles.schema["qid"].dataType.simpleString()
    it = items.schema["iid"].dataType.simpleString()
    w = Window.partitionBy("qid").orderBy(F.col("dist2").asc(),
                                          F.col("iid").asc())
    return (q_tiles.groupBy("tile").cogroup(items.groupBy("tile"))
            .applyInPandas(tile_top, f"qid {qt}, iid {it}, dist2 double")
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def knn_cells(queries: DataFrame, items: DataFrame, k: int,
              res: int = 7, qid_col: str = "qid",
              iid_col: str = "iid") -> DataFrame:
    """Scalable kNN: tile-grouped numpy top-k + exact rank (J5/W5).

    Items and queries meet in coarse tiles (``cell_id >> _TILE_SHIFT``
    at ``res``), so each Python call amortizes over a whole tile:
    - one occupancy aggregate picks the ring, the smallest whose
      (2r+1)² cell neighbourhood holds ≥4k items at the mean cell
      occupancy, +1 when occupancy is dispersed (sd > mean: hotspot
      corpora such as the Tokyo cell);
    - each query fans out to the tiles of its ring cells
      (`_explode_neighbor_cells`), deduplicated per (qid, tile);
    - `_tile_pass` keeps, per query, the items within the guard
      (ring·cell)² and ranks them.

    A query holding k ranked rows is exact: every item within the
    guard lies in its ring and so in its tiles, hence its true top-k,
    ties included, was kept.  The unproven rest (sparse regions) fans
    out to every occupied tile (a literal array of the items' distinct
    tile ids, no join) and runs through `_tile_pass` again with no
    guard, which makes its top-k exact too.

    Rows with a NULL or NaN lon/lat are dropped on both sides first:
    such a query returns no rows and such an item is nobody's
    neighbour.  Output: (qid, iid, dist2, rank), persisted and
    materialized; the caller unpersists it.
    """
    q = assign_cells(queries.filter(_has_coords()).select(
        F.col(qid_col).alias("qid"), F.col("lon").alias("q_lon"),
        F.col("lat").alias("q_lat")),
        res, lon_col="q_lon", lat_col="q_lat", out_col="q_cell").persist()
    i = assign_cells(items.filter(_has_coords()).select(
        F.col(iid_col).alias("iid"), F.col("lon").alias("i_lon"),
        F.col("lat").alias("i_lat")),
        res, lon_col="i_lon", lat_col="i_lat", out_col="i_cell") \
        .withColumn("tile", F.shiftright("i_cell", _TILE_SHIFT)).persist()

    occ = (i.groupBy("i_cell").agg(F.count("*").alias("cn"))
           .agg(F.sum("cn").alias("n"), F.count("*").alias("c"),
                F.stddev_pop("cn").alias("sd")).collect()[0])
    avg = (occ.n or 0) / max(occ.c, 1) or 1.0
    ring = 1
    while (2 * ring + 1) ** 2 * avg < 4.0 * k and ring < 8:
        ring += 1
    if (occ.sd or 0.0) > avg:
        ring += 1

    q_tiles = (_explode_neighbor_cells(q, "q_cell", res, ring)
               .select("qid", "q_lon", "q_lat",
                       F.shiftright("n_cell", _TILE_SHIFT).alias("tile"))
               .distinct())
    items_t = i.drop("i_cell")
    ranked = _tile_pass(q_tiles, items_t, k,
                        (ring * 180.0 / 2 ** res) ** 2).persist()
    unproven = q.join(ranked.filter(F.col("rank") == k), "qid", "left_anti") \
        .select("qid", "q_lon", "q_lat")
    n_left = unproven.count()                   # also materializes ranked
    tiles = ([r.tile for r in items_t.select("tile").distinct().collect()]
             if n_left else [])
    KNN_LAST_RUN.clear()
    KNN_LAST_RUN.update(initial_ring=ring, rounds=1 + bool(tiles),
                        fallback_queries=n_left)

    results = ranked
    if tiles:
        every_tile = F.array(*map(F.lit, tiles)).cast("array<bigint>")
        residue = _tile_pass(
            unproven.withColumn("tile", F.explode(every_tile)), items_t, k,
            float("inf"))
        results = (ranked.join(unproven.select("qid"), "qid", "left_anti")
                   .unionByName(residue).persist())
        results.count()
        ranked.unpersist()
    q.unpersist()
    i.unpersist()
    return results


def _explode_neighbor_cells(df: DataFrame, cell_col: str, res: int,
                            ring: int) -> DataFrame:
    """Static-offset k-ring explode: append ``n_cell`` rows for every
    cell within Chebyshev distance ``ring`` of ``cell_col`` — lon wraps
    (pmod), lat rows outside the grid drop (cellindex.k_ring parity;
    property-tested).  A ring that wraps the whole globe (2·ring+1 ≥
    2^(res+1)) yields some cells twice; callers deduplicate or reject
    such rings.

    Physical shape: a STATIC literal (2R+1)² offset array explode with
    flat post-explode bit math — pure JVM whole-stage codegen, zero
    Python/Arrow crossing (HOF-lambda formulations of the same ring
    fall into Catalyst's interpreted path at ~40 ms/row; a pandas UDF
    pays a per-row Python loop that caps throughput at scale).  The
    ONE shared implementation backs the kNN tile fan-out
    (`knn_cells`), `radius_join` and the density convolution
    (`cell_density`) — any fix to the wrap/repack bit math lands in
    all three."""
    from ..spatial.cellexpr import _RES_SHIFT, _compact, _spread

    nx, ny = 2 ** (res + 1), 2 ** res
    offs = F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                     for dy in range(-ring, ring + 1)
                     for dx in range(-ring, ring + 1)])
    morton = F.col(cell_col).bitwiseAND(F.lit((1 << _RES_SHIFT) - 1))
    e = (df
         .withColumn("_nbx", _compact(morton))
         .withColumn("_nby", _compact(F.shiftrightunsigned(morton, 1)))
         .withColumn("o", F.explode(offs))
         .withColumn("n_y", F.col("_nby") + F.col("o.dy"))
         .filter((F.col("n_y") >= 0) & (F.col("n_y") < ny))
         .withColumn("n_x", F.pmod(F.col("_nbx") + F.col("o.dx"),
                                   F.lit(nx))))
    n_cell = F.lit(res << _RES_SHIFT).bitwiseOR(
        _spread(F.col("n_x")).bitwiseOR(
            F.shiftleft(_spread(F.col("n_y")), 1))).cast("long")
    return (e.withColumn("n_cell", n_cell)
            .drop("_nbx", "_nby", "o", "n_y", "n_x"))


def pip_join(points: DataFrame, polys: list, lon_col: str = "lon",
             lat_col: str = "lat", out_col: str = "cc") -> DataFrame:
    """Generic broadcast PiP join against caller-supplied
    ``PackedPolygon``s, resolved by the same ray-casting code as the
    country join.  First containing polygon in sorted-cc order wins;
    '' on miss — the J1 semantics over arbitrary dims."""
    from ..spatial.boundaries import BoundaryIndex

    index = BoundaryIndex(polys)

    @pandas_udf("string")
    def poly_cc(lon: pd.Series, lat: pd.Series) -> pd.Series:
        import numpy as np
        return pd.Series(index.lookup(lon.to_numpy(dtype=np.float64),
                                      lat.to_numpy(dtype=np.float64)),
                         dtype=object)

    return points.withColumn(out_col, poly_cc(F.col(lon_col), F.col(lat_col)))


def radius_join(left: DataFrame, right: DataFrame, radius_deg: float,
                lid_col: str = "lid", rid_col: str = "rid") -> DataFrame:
    """Distance-range spatial join: all (left, right) pairs within
    ``radius_deg`` (euclidean degrees, matching the kNN metric).

    Scale shape: pick the coarsest cell resolution whose cell edge ≥
    radius, so ring-1 neighborhoods are guaranteed to cover the radius;
    explode left into its 3×3 neighbor cells and equi-join right on
    cell id (ONE shuffle, no cross join), then exact distance refine;
    the final distinct absorbs duplicate cells of a globe-wrapping ring.
    Output: (lid, rid, dist2).
    """
    import math

    res = 1
    while 180.0 / (2 ** (res + 1)) >= radius_deg and res < 16:
        res += 1                            # finest res with cell ≥ radius
    # normally ring 1; for radius > the coarsest cell edge (90°) the
    # ring widens so coverage stays sound instead of silently dropping
    # far pairs
    ring = max(1, math.ceil(radius_deg / (180.0 / (2 ** res))))
    l = assign_cells(left, res).select(
        F.col(lid_col).alias("qid"), F.col("lon").alias("q_lon"),
        F.col("lat").alias("q_lat"), F.col("cell_id").alias("q_cell"))
    ring_cells = _explode_neighbor_cells(l, "q_cell", res, ring)
    r = assign_cells(right, res).select(
        F.col(rid_col).alias("rid"), F.col("lon").alias("r_lon"),
        F.col("lat").alias("r_lat"), F.col("cell_id").alias("r_cell"))
    pairs = (ring_cells.join(r, ring_cells.n_cell == r.r_cell)
             .withColumn("dist2", _sq_dist(F.col("q_lon"), F.col("q_lat"),
                                           F.col("r_lon"), F.col("r_lat")))
             .filter(F.col("dist2") <= radius_deg * radius_deg)
             .select(F.col("qid").alias("lid"), "rid", "dist2")
             .distinct())
    return pairs


def polygon_cover_table(spark, polys: list, res: int = 9,
                        cell_family: str = "quad") -> DataFrame:
    """The scale path for J1 (SURVEY.md §2.3): precompute each polygon's
    sound cell cover → a small (cc, cell_id, kind) dimension joinable
    on cell_id.  Points in *interior* cells resolve by the equi-join
    alone; only *boundary*-cell points need ray-cast refinement.  Built
    driver-side like the daemon's startup geometry prep (polygon dims
    are small); broadcast by Spark at join time.  ``cell_family``
    selects the index: 'quad' (Morton, cellindex.polygon_cover) or
    'hex' (H3-analog, hexindex.hex_polygon_cover) — both covers are
    sound, so either drives the same exact join."""
    if cell_family == "quad":
        from ..spatial.cellindex import polygon_cover
    elif cell_family == "hex":
        from ..spatial.hexindex import hex_polygon_cover as polygon_cover
    else:
        raise ValueError(f"cell_family must be 'quad' or 'hex', "
                         f"got {cell_family!r}")

    rows = []
    for p in polys:
        interior, boundary = polygon_cover(p, res)
        rows += [(p.cc, int(c), "interior") for c in interior]
        rows += [(p.cc, int(c), "boundary") for c in boundary]
    return spark.createDataFrame(rows, "cc string, cell_id long, kind string")


def pip_join_via_cover(points: DataFrame, polys: list, res: int = 8,
                       id_col: str = "id", lon_col: str = "lon",
                       lat_col: str = "lat", out_col: str = "cc",
                       cell_family: str = "quad") -> DataFrame:
    """J1 as a cover EQUI-join (the SURVEY §2.3 scale plan) against
    ``PackedPolygon``s: points in a polygon's *interior* cells resolve
    from the broadcast (cell_id → cc) dimension alone — no geometry
    math; only points in
    *boundary* cells ray-cast, and only against the polygons whose
    cover produced the row.  Same first-containing/sorted-cc/''-miss
    semantics as pip_join (shared oracle), different physical
    strategy: broadcast hash join + a Python island sized by the
    boundary fraction instead of the whole input.  ``cell_family``
    picks quad or hex cells; exactness is family-independent (both
    covers are sound), only the boundary fraction changes.
    """
    spark = points.sparkSession
    by_cc = {p.cc: p for p in polys}
    cover = polygon_cover_table(spark, polys, res, cell_family=cell_family)

    pts = points.select(F.col(id_col).alias("pid"),
                        F.col(lon_col).alias("lon"),
                        F.col(lat_col).alias("lat"))
    if cell_family == "hex":
        pts_c = assign_hexcells(pts, res, out_col="cell_id")
    else:
        pts_c = assign_cells(pts, res)
    j = pts_c.join(F.broadcast(cover), "cell_id")
    interior_hits = j.filter(F.col("kind") == "interior") \
        .select("pid", "cc")

    @pandas_udf("boolean")
    def _contains(cc: pd.Series, lon: pd.Series, lat: pd.Series) -> pd.Series:
        import numpy as np
        out = np.zeros(len(cc), dtype=bool)
        for c in cc.unique():
            m = (cc == c).to_numpy()
            poly = by_cc.get(c)
            if poly is not None and m.any():
                out[m] = poly.contains(lon.to_numpy(dtype=float)[m],
                                       lat.to_numpy(dtype=float)[m])
        return pd.Series(out)

    refined = (j.filter(F.col("kind") == "boundary")
               .withColumn("inside", _contains(F.col("cc"), F.col("lon"),
                                               F.col("lat")))
               .filter(F.col("inside")).select("pid", "cc"))
    hits = interior_hits.unionByName(refined) \
        .groupBy("pid").agg(F.min("cc").alias(out_col))
    return (pts.select("pid").join(hits, "pid", "left")
            .fillna({out_col: ""}))


def cell_histogram(df: DataFrame, cell_col: str = "cell_id") -> DataFrame:
    """Heavy-cell detection feeding the salting decision (SURVEY.md §4)."""
    return df.groupBy(cell_col).agg(F.count("*").alias("n_rows")) \
        .orderBy(F.col("n_rows").desc())


def cell_density(df: DataFrame, res: int = 7, k: int = 1,
                 lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
    """k-ring smoothed per-cell density: for every cell within
    Chebyshev distance ``k`` of an occupied cell, the total row count
    of its (2k+1)² neighborhood (lon wraps, lat rows outside the grid
    drop — exact `cellindex.k_ring` semantics, so the ring relation is
    symmetric and scatter ≡ gather).

    The smoothing convolution runs on the HISTOGRAM, not the rows: one
    shuffle aggregates rows to ≤ #occupied-cells counts, each count
    scatters to its ring via the static-offset JVM explode
    (`_explode_neighbor_cells` — no Python, no join), and a second tiny
    aggregation sums contributions per receiving cell.  At 100 TB the
    expensive side is the first partial-aggregated histogram; the
    explode touches only cells² ≪ rows.  Output: (cell_id, density) —
    includes zero-occupancy cells that receive neighbor mass, which is
    exactly what a salting/skew decision wants to see (a hot cell's
    halo is hot for ring joins too).
    """
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    if 2 * k + 1 >= 2 ** (res + 1):
        raise ValueError(f"ring k={k} wraps the whole globe at res={res}")
    hist = (assign_cells(df, res, lon_col=lon_col, lat_col=lat_col)
            .groupBy("cell_id").agg(F.count("*").alias("n")))
    return (_explode_neighbor_cells(hist, "cell_id", res, k)
            .select(F.col("n_cell").alias("cell_id"), "n")
            .groupBy("cell_id").agg(F.sum("n").alias("density")))


def salted_key(df: DataFrame, key_col: str, buckets: int,
               out_col: str = "salted_key") -> DataFrame:
    """Deterministic salt derived from a stable row hash — spreads a hot
    key over ``buckets`` shuffle partitions (explode the dim side by the
    same factor to join)."""
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(buckets))
    return df.withColumn(out_col, F.concat_ws("#", F.col(key_col).cast("string"),
                                              salt.cast("string")))
