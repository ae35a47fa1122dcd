"""Operator tests: kNN (cell path vs brute force), dedup family,
multimodal plumbing."""
import numpy as np
import pytest
from pyspark.sql import functions as F

from osml10n_spark.operators.dedup import exact_dedup, hash_dup_pairs
from osml10n_spark.operators.spatial import (
    assign_cells, assign_country, cell_histogram, knn_cells, knn_geo)
from osml10n_spark.operators.multimodal import image_features, verify_payload

SF_DIR = "/root/testdata/sf0.001"


def _points_df(spark, n, seed, prefix):
    rng = np.random.default_rng(seed)
    lon = rng.uniform(-30, 30, n)
    lat = rng.uniform(-20, 20, n)
    return spark.createDataFrame(
        [(f"{prefix}{i}", float(lon[i]), float(lat[i])) for i in range(n)],
        f"{'qid' if prefix=='q' else 'iid'} string, lon double, lat double")


def test_ring_cells_static_matches_numpy_k_ring(spark):
    """The static-offset JVM k-ring explode is set-identical to the
    numpy kernel, including antimeridian wrap and pole clamp; a ring
    that wraps the whole globe repeats cells but covers the same set."""
    from osml10n_spark.operators.spatial import _explode_neighbor_cells
    from osml10n_spark.spatial.cellindex import cell_from_lonlat, k_ring
    rng = np.random.default_rng(11)
    # (res, ring): the last case has 2R+1 ≥ nx, a globe-wrapping ring
    for res, ring in ((5, 4), (7, 1), (7, 3), (9, 2), (2, 5)):
        lon = np.concatenate([rng.uniform(-180, 180, 40), [179.99, -179.99]])
        lat = np.concatenate([rng.uniform(-90, 90, 40), [89.9, -89.9]])
        cells = cell_from_lonlat(lon, lat, res)
        df = spark.createDataFrame([(i, int(c)) for i, c in enumerate(cells)],
                                   "qid long, q_cell long")
        got = _explode_neighbor_cells(df, "q_cell", res, ring).groupBy("qid") \
            .agg(F.collect_set("n_cell").alias("nbrs")).collect()
        by_qid = {r.qid: set(r.nbrs) for r in got}
        for i, c in enumerate(cells):
            expected = set(int(x) for x in k_ring(int(c), ring))
            assert by_qid[i] == expected, (res, ring, i)


def _knn_rows(df):
    return {(r.qid, r.rank): (r.iid, r.dist2) for r in df.collect()}


def test_knn_cells_matches_bruteforce(spark):
    q = _points_df(spark, 40, 1, "q")
    items = _points_df(spark, 400, 2, "i")
    assert _knn_rows(knn_cells(q, items, 5, res=6)) == \
        _knn_rows(knn_geo(q, items, 5))


def test_knn_cells_hotspot_and_antimeridian(spark, monkeypatch):
    """knn_cells ≡ knn_geo, (iid, dist2) per (qid, rank), where a dense
    0.01° Tokyo cluster fills one tile and items straddle the
    antimeridian, at a coarse (globe-wrapping ring), a middle and a
    fine resolution.  Duplicate items make ties at the kth distance,
    and a tiny matrix budget splits each tile's queries into chunks."""
    from osml10n_spark.operators import spatial
    monkeypatch.setattr(spatial, "_CHUNK_CELLS", 256)
    rng = np.random.default_rng(7)
    pts = ([(float(x), float(y)) for x, y in
            zip(rng.uniform(178, 180, 200), rng.uniform(-5, 5, 200))]
           + [(float(x), float(y)) for x, y in
              zip(rng.uniform(-180, -178, 200), rng.uniform(-5, 5, 200))]
           + [(float(x), float(y)) for x, y in
              zip(rng.uniform(139.70, 139.71, 300),
                  rng.uniform(35.68, 35.69, 300))])
    pts += pts[-5:] + pts[:3] + [pts[-1]] * 6   # "tie": 8 items at dist 0
    items = spark.createDataFrame(
        [(f"i{n}", x, y) for n, (x, y) in enumerate(pts)],
        "iid string, lon double, lat double")
    q = spark.createDataFrame(
        [("e", 179.99, 0.5), ("w", -179.99, -0.5), ("e180", 180.0, 0.0),
         ("w180", -180.0, 0.0), ("tky", 139.705, 35.685),
         ("tky2", 139.8, 35.6), ("tie", *pts[-1])],
        "qid string, lon double, lat double")
    want = _knn_rows(knn_geo(q, items, 5))
    assert len(want) == 35
    for res in (3, 6, 9):
        assert _knn_rows(knn_cells(q, items, 5, res=res)) == want, res


def test_knn_cells_drops_null_nan_coords(spark):
    """Rows with a NULL or NaN lon/lat are dropped on both sides before
    the pass: only the valid queries come back, the NaN item is nobody's
    neighbour, and nothing goes to the brute-force fallback."""
    from osml10n_spark.operators.spatial import KNN_LAST_RUN
    q = spark.createDataFrame(
        [("ok1", 1.0, 1.0), ("ok2", -3.0, 2.0), ("nan", float("nan"), 1.0),
         ("null", 2.0, None)], "qid string, lon double, lat double")
    items = _points_df(spark, 300, 6, "i").unionByName(spark.createDataFrame(
        [("i_nan", 1.0, float("nan"))], "iid string, lon double, lat double"))
    got = _knn_rows(knn_cells(q, items, 3, res=5))
    assert {qid for qid, _ in got} == {"ok1", "ok2"}
    assert KNN_LAST_RUN["fallback_queries"] == 0
    valid = items.filter(F.col("iid") != "i_nan")
    assert got == _knn_rows(knn_geo(q.filter(F.col("qid").startswith("ok")),
                                    valid, 3))


def test_knn_geo_bq_matches_window_plan(spark):
    """Broadcast-queries partial-top-k brute force (the knn_cells
    residue plan) is row-identical to the generic window-plan brute
    force, including exact-duplicate items (ties at the kth distance
    resolved by iid on both plans) and ranks/dist2 values."""
    from osml10n_spark.operators.spatial import knn_geo_bq
    q = _points_df(spark, 15, 4, "q")
    items = _points_df(spark, 200, 5, "i")
    dup = items.limit(6).select(
        F.concat(F.lit("zz_"), F.col("iid")).alias("iid"), "lon", "lat")
    items = items.unionByName(dup)
    a = {(r.qid, r.rank): (r.iid, r.dist2)
         for r in knn_geo(q, items, 3).collect()}
    b = {(r.qid, r.rank): (r.iid, r.dist2)
         for r in knn_geo_bq(q, items, 3).collect()}
    assert a == b


def test_knn_cells_sparse_fallback(spark):
    # items far away from queries → every query goes to brute force
    from osml10n_spark.operators.spatial import KNN_LAST_RUN
    q = _points_df(spark, 5, 3, "q")
    items = spark.createDataFrame(
        [("i0", 170.0, 80.0), ("i1", -170.0, -80.0), ("i2", 100.0, -70.0)],
        "iid string, lon double, lat double")
    cells = _knn_rows(knn_cells(q, items, 2, res=6))
    assert KNN_LAST_RUN["fallback_queries"] == 5
    assert cells == _knn_rows(knn_geo(q, items, 2))


def test_knn_cells_guard_proves_only_in_ring_rows(spark):
    """A query whose own tile holds k items, all beyond its guard
    radius, is not proven by them: a nearer item sits across the tile
    border (res 6: 45° tiles), so the query must go to brute force."""
    from osml10n_spark.operators.spatial import KNN_LAST_RUN
    q = spark.createDataFrame([("mid", 22.5, 22.5)],
                              "qid string, lon double, lat double")
    items = spark.createDataFrame(
        [("far_ne", 44.0, 44.0), ("far_sw", 1.0, 1.0),
         ("near", 22.5, -1.0)], "iid string, lon double, lat double")
    got = _knn_rows(knn_cells(q, items, 2, res=6))
    assert KNN_LAST_RUN["fallback_queries"] == 1
    assert got == _knn_rows(knn_geo(q, items, 2))
    assert got[("mid", 1)][0] == "near"


def test_assign_country_gated(spark):
    df = spark.createDataFrame(
        [("東京", 139.15, 36.425), ("Berlin", 13.4, 52.5),
         ("ห้องสมุด", 0.0, 0.0), ("北京", -29.5, 49.5)],
        "name string, lon double, lat double")
    rows = {r.name: r.cc for r in
            assign_country(df, gate_name_col="name").collect()}
    assert rows == {"東京": "jp", "Berlin": "", "ห้องสมุด": "th", "北京": ""}


def test_cell_histogram_skew_detection(spark):
    df = spark.createDataFrame(
        [(139.7 + i * 1e-4, 35.68) for i in range(50)]
        + [(float(i), 10.0) for i in range(20)],
        "lon double, lat double")
    hist = cell_histogram(assign_cells(df, 9)).collect()
    assert hist[0].n_rows == 50          # the dense cell dominates


def test_exact_dedup(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    dup = docs.union(docs.limit(5))
    groups = exact_dedup(dup, "doc_id", "text")
    assert groups.count() >= 5
    assert groups.agg(F.max("group_size")).collect()[0][0] >= 2


def test_hash_dup_pairs_rejects_oversized_hamming(spark):
    import pytest
    from osml10n_spark.operators.dedup import hash_dup_pairs
    df = spark.createDataFrame([(1, 5)], "doc_id long, sig long")
    with pytest.raises(ValueError, match="max_hamming"):
        hash_dup_pairs(df, "doc_id", "sig", max_hamming=64)


def test_knn_geo_bq_rejects_oversized_query_side(spark):
    """The broadcast-queries plan collects the query side — the bound
    is enforced in-function, not trusted to the caller."""
    import pytest
    from osml10n_spark.operators.spatial import knn_geo_bq
    q = spark.range(20).selectExpr("id AS qid", "CAST(id AS double) AS lon",
                                   "CAST(id AS double) AS lat")
    items = spark.range(5).selectExpr("id AS iid", "CAST(id AS double) AS lon",
                                      "CAST(id AS double) AS lat")
    with pytest.raises(ValueError, match="max_queries"):
        knn_geo_bq(q, items, 3, max_queries=10)
    # at/under the cap the plan is unchanged
    assert knn_geo_bq(q, items, 1, max_queries=20).count() == 20


def test_hash_dup_pairs_banded_equals_brute(spark):
    # pigeonhole banding is EXACT, not approximate: the banded
    # equi-join must equal the brute-force hamming filter for every
    # legal threshold/band-count combination — including sign-bit
    # signatures (bit 63 set → negative long)
    import itertools
    import random
    rnd = random.Random(7)
    sigs = []
    base = rnd.getrandbits(64) | (1 << 63)       # force the sign bit
    for k in range(6):                           # cluster at hamming k
        v = base
        for b in rnd.sample(range(64), k):
            v ^= 1 << b
        sigs.append(v)
    sigs += [rnd.getrandbits(64) for _ in range(30)]

    def s64(v):
        return v - (1 << 64) if v >= 1 << 63 else v

    rows = [(i, s64(v)) for i, v in enumerate(sigs)]
    df = spark.createDataFrame(rows, "doc_id long, sig long")
    for mh in (3, 4, 7):
        got = {(r.a_id, r.b_id, r.hamming)
               for r in hash_dup_pairs(df, "doc_id", "sig",
                                       max_hamming=mh).collect()}
        want = {(i, j, bin((a ^ b) & ((1 << 64) - 1)).count("1"))
                for (i, a), (j, b) in itertools.combinations(rows, 2)
                if bin((a ^ b) & ((1 << 64) - 1)).count("1") <= mh}
        assert got == want
    with pytest.raises(ValueError):
        hash_dup_pairs(df, "doc_id", "sig", max_hamming=4, n_bands=4)


def test_image_dup_pairs_matches_kernel_ground_truth(spark):
    # the generator plants near-dup images; the distributed banded join
    # over the phash column must find exactly the pairs the pure-python
    # kernel ground truth yields
    import itertools

    from osml10n_spark.imaging import phash64
    from osml10n_spark.operators.multimodal import image_dup_pairs
    from osml10n_spark.sources.datagen import generate_images, visual_for_id

    imgs = generate_images(spark, 120, seed=99, near_dup_frac=0.2,
                           partitions=6)
    got = {(r.a_id, r.b_id, r.hamming)
           for r in image_dup_pairs(imgs, max_hamming=4).collect()}
    ph = {i: phash64(visual_for_id(99, i, 0.2)[3]) for i in range(120)}
    want = {(f"img_{i:012d}", f"img_{j:012d}",
             bin((ph[i] ^ ph[j]) & ((1 << 64) - 1)).count("1"))
            for i, j in itertools.combinations(range(120), 2)
            if bin((ph[i] ^ ph[j]) & ((1 << 64) - 1)).count("1") <= 4}
    assert want and got == want


def test_near_dup_generator_is_conservative_and_replayable():
    # pure-python: frac>0 must keep captions/placement AND non-dup
    # pixels identical to frac=0 (the dup decision draws after the
    # row's own pixel draws); dup rows must sit within the
    # image_dup_pairs hamming threshold of their base
    import numpy as np

    from osml10n_spark.sources.datagen import _gen_rows

    a = _gen_rows(np.arange(40), 31, True, 0.0)
    b = _gen_rows(np.arange(40), 31, True, 0.5)
    assert (a.caption == b.caption).all()
    assert (a.lon == b.lon).all() and (a.lat == b.lat).all()
    changed = [i for i in range(40) if a.phash[i] != b.phash[i]]
    assert changed                       # frac=0.5 planted dups
    for i in changed:
        near = min(bin((int(b.phash[i]) ^ int(b.phash[j]))
                       & ((1 << 64) - 1)).count("1")
                   for j in range(i))
        assert near <= 4


def test_multimodal_features(spark):
    from osml10n_spark.sources.datagen import generate_images
    imgs = generate_images(spark, 60, seed=5)
    feats = image_features(imgs)
    rows = feats.collect()
    assert len(rows) == 60 and all(r.decoded for r in rows)
    ok = verify_payload(imgs)
    assert ok.filter(~F.col("ok")).count() == 0


def test_multimodal_stub_path(spark):
    df = spark.createDataFrame(
        [("x1", bytearray(b"\xff\xd8\xff"), "jpeg"),   # corrupt REAL codec
         ("x2", bytearray(b"RIFF...."), "webp")],        # declared stub
        "image_id string, bytes binary, fmt string")
    rows = {r.image_id: r for r in image_features(df).collect()}
    # both degrade to decoded=false rows — a corrupt payload or a
    # stubbed format must never kill the scan stage
    assert rows["x1"].decoded is False and rows["x2"].decoded is False


def test_radius_join_matches_bruteforce(spark):
    from osml10n_spark.operators.spatial import radius_join
    pts = spark.read.parquet("/root/testdata/sf0.001/customer.parquet") \
        .selectExpr("c_custkey AS id",
                    "((c_custkey * 37) % 360) - 180 + 0.5 AS lon",
                    "((c_custkey * 7) % 160) - 80 + 0.5 AS lat")
    got = {(r.lid, r.rid) for r in
           radius_join(pts.filter(F.col("id") % 7 == 0), pts, 3.0,
                       lid_col="id", rid_col="id").collect()}
    rows = pts.collect()
    sample = [r for r in rows if r.id % 7 == 0]
    want = {(s.id, r.id) for s in sample for r in rows
            if (s.lon - r.lon) ** 2 + (s.lat - r.lat) ** 2 <= 9.0}
    assert got == want


def test_localize_robust_to_degenerate_rows(spark):
    """Nulls, empty tags, empty captions: no exceptions, '' out, payload
    columns untouched (the daemon's per-request error→'' contract C8)."""
    from osml10n_spark.engine.localize import localize
    rows = [
        ("a", None, None, 0.0, 0.0),
        ("b", "", {}, None, None),
        ("c", "x", {"name": ""}, 1.0, 1.0),
        ("d", None, {"name:de": None, "name": "Ok"}, 2.0, 2.0),
    ]
    df = spark.createDataFrame(
        rows, "image_id string, caption string, tags map<string,string>, "
              "lon double, lat double")
    out = {r.image_id: r.caption_l10n
           for r in localize(df, "de").collect()}
    assert out["a"] == ""          # null tags → ''
    assert out["b"] == ""          # empty map → no name → ''
    assert out["c"] == ""          # empty name passes through as ''
    assert out["d"] == "Ok"        # null-valued target tag skipped


def test_cell_density_matches_bruteforce(spark):
    """Scatter-on-histogram k-ring density == per-cell brute-force
    gather, including lon wrap at the antimeridian and lat-edge drop."""
    import numpy as np
    from osml10n_spark.operators.spatial import assign_cells, cell_density
    from osml10n_spark.spatial.cellindex import k_ring
    res, k = 5, 2
    rng = np.random.default_rng(31)
    lon = np.concatenate([rng.uniform(-180, 180, 300),
                          rng.uniform(179, 180, 30),     # wrap band
                          rng.uniform(-90, -89.3, 30)])  # lat edge band
    lat = np.concatenate([rng.uniform(-90, 90, 300),
                          rng.uniform(-10, 10, 30),
                          rng.uniform(-90, -89.5, 30)])
    df = spark.createDataFrame(
        [(i, float(lon[i]), float(lat[i])) for i in range(len(lon))],
        "id long, lon double, lat double")
    got = {r.cell_id: r.density for r in
           cell_density(df, res=res, k=k).collect()}
    cells = [r.cell_id for r in assign_cells(df, res).collect()]
    from collections import Counter
    counts = Counter(cells)
    exp: Counter = Counter()
    for c, n in counts.items():            # scatter reference via k_ring
        for nb in k_ring(c, k):
            exp[int(nb)] += n
    assert got == dict(exp) and len(got) > len(counts)


def test_radius_join_wide_radius_covers(spark):
    """radius > coarsest cell edge (90°) must widen the ring, not drop
    far pairs."""
    from osml10n_spark.operators.spatial import radius_join
    pts = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 100.0, 0.0), (3, 170.0, 0.0)],
        "id long, lon double, lat double")
    got = {(r.lid, r.rid) for r in
           radius_join(pts, pts, 120.0, lid_col="id", rid_col="id").collect()}
    assert (1, 2) in got and (2, 3) in got and (2, 1) in got
    assert (1, 3) not in got          # 170° > 120°
