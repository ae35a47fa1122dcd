"""Operator tests: kNN (cell path vs brute force), dedup family,
similarity, textops, multimodal plumbing."""
import numpy as np
import pytest
from pyspark.sql import functions as F

from osml10n_spark.operators.dedup import (
    exact_dedup, hash_dup_pairs, minhash_dup_pairs, ngram_jaccard_pairs,
    simhash_dup_pairs,
    embedding_dups)
from osml10n_spark.operators.similarity import cosine_topk, lsh_topk
from osml10n_spark.operators.spatial import (
    assign_cells, assign_country, cell_histogram, knn_cells, knn_geo)
from osml10n_spark.operators.textops import add_script_flags, lang_id, \
    quality_score, token_count, fingerprint
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
    numpy kernel, including antimeridian wrap and pole clamp, for mixed
    per-row rings; globe-wrapping rings route to the numpy fallback."""
    from osml10n_spark.operators.spatial import _ring_cells_df
    from osml10n_spark.spatial.cellindex import cell_from_lonlat, k_ring
    rng = np.random.default_rng(11)
    # (res, max ring): last case has 2R+1 ≥ nx → exercises the fallback
    for res, rmax in ((5, 4), (7, 4), (9, 4), (2, 5)):
        lon = np.concatenate([rng.uniform(-180, 180, 40), [179.99, -179.99]])
        lat = np.concatenate([rng.uniform(-90, 90, 40), [89.9, -89.9]])
        cells = cell_from_lonlat(lon, lat, res)
        rings = (rng.integers(1, rmax + 1, len(cells))).astype(int)
        df = spark.createDataFrame(
            [(i, float(lon[i]), float(lat[i]), int(c), int(r))
             for i, (c, r) in enumerate(zip(cells, rings))],
            "qid long, q_lon double, q_lat double, q_cell long, ring int")
        got = _ring_cells_df(df, res).groupBy("qid") \
            .agg(F.collect_set("n_cell").alias("nbrs")).collect()
        by_qid = {r.qid: set(r.nbrs) for r in got}
        for i, (c, r) in enumerate(zip(cells, rings)):
            expected = set(int(x) for x in k_ring(int(c), int(r)))
            assert by_qid[i] == expected, (res, i, int(r))


def test_knn_cells_matches_bruteforce(spark):
    q = _points_df(spark, 40, 1, "q")
    items = _points_df(spark, 400, 2, "i")
    brute = {(r.qid, r.rank): r.iid
             for r in knn_geo(q, items, 5).collect()}
    cells = {(r.qid, r.rank): r.iid
             for r in knn_cells(q, items, 5, res=6).collect()}
    assert brute == cells


def test_knn_ring_stats_cache(spark):
    """The density-derived initial ring is memoized per (items plan,
    res, k): the second call against a semantically identical items
    frame skips the occupancy job (ring_source == 'cached'), picks the
    SAME ring, and returns identical results — the ring is perf-only."""
    from osml10n_spark.operators.spatial import KNN_LAST_RUN, _KNN_RING_CACHE
    _KNN_RING_CACHE.clear()
    q = _points_df(spark, 20, 3, "q")
    items = _points_df(spark, 300, 4, "i")
    first = {(r.qid, r.rank): r.iid
             for r in knn_cells(q, items, 4, res=6).collect()}
    assert KNN_LAST_RUN["ring_source"] == "computed"
    ring0 = KNN_LAST_RUN["initial_ring"]
    # repeat call against the same corpus hits (semanticHash also
    # canonicalizes REBUILT plans over file sources — verified for
    # parquet reads; LogicalRDD test frames only hit via same object)
    second = {(r.qid, r.rank): r.iid
              for r in knn_cells(q, items, 4, res=6).collect()}
    assert KNN_LAST_RUN["ring_source"] == "cached"
    assert KNN_LAST_RUN["initial_ring"] == ring0
    assert first == second
    # explicit ring bypasses the cache entirely
    knn_cells(q, items, 4, res=6, initial_ring=2).count()
    assert KNN_LAST_RUN["ring_source"] == "explicit"
    # different k → different stats key → recomputed
    knn_cells(q, items, 3, res=6).count()
    assert KNN_LAST_RUN["ring_source"] == "computed"


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
    # items far away from queries → forces the straggler path
    q = _points_df(spark, 5, 3, "q")
    items = spark.createDataFrame(
        [("i0", 170.0, 80.0), ("i1", -170.0, -80.0), ("i2", 100.0, -70.0)],
        "iid string, lon double, lat double")
    brute = {(r.qid, r.rank): r.iid for r in knn_geo(q, items, 2).collect()}
    cells = {(r.qid, r.rank): r.iid
             for r in knn_cells(q, items, 2, res=6, max_rounds=2).collect()}
    assert brute == cells


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


def test_minhash_and_jaccard(spark):
    rows = [(1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumped over the lazy dog"),
            (3, "completely different text about spark engines"),
            (4, "completely different text about spark engines!")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r.a_id, r.b_id)
             for r in minhash_dup_pairs(df, "doc_id", "text",
                                        jaccard_threshold=0.5).collect()}
    assert (1, 2) in pairs and (3, 4) in pairs
    assert (1, 3) not in pairs
    jac = {(r.a_id, r.b_id): r.jaccard
           for r in ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.5,
                                        allow_quadratic=True).collect()}
    assert jac[(1, 2)] > 0.7


def test_ngram_jaccard_unblocked_raises(spark):
    """The documented-quadratic path can't ship silently: no block_col
    and no explicit opt-in → ValueError before any plan is built."""
    import pytest
    df = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="block_col"):
        ngram_jaccard_pairs(df, "doc_id", "text")


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


def test_dup_components_chained_and_singletons(spark):
    """Pairs→clusters→survivor: a chain A~B~C (A≁C direct) collapses
    into ONE component keyed by the min id; nodes in no pair come back
    as surviving singletons; string ids work (lexicographic min)."""
    from osml10n_spark.operators.dedup import dup_components
    pairs = spark.createDataFrame(
        [(10, 11), (11, 12),            # chain
         (30, 31),                      # plain pair
         (12, 13)],                     # extends the chain
        "a_id long, b_id long")
    nodes = spark.createDataFrame([(i,) for i in (10, 11, 12, 13, 30, 31, 77)],
                                  "doc_id long")
    got = {r.doc_id: (r.component_id, r.is_survivor)
           for r in dup_components(pairs, nodes=nodes).collect()}
    assert got == {10: (10, True), 11: (10, False), 12: (10, False),
                   13: (10, False), 30: (30, True), 31: (30, False),
                   77: (77, True)}
    s = spark.createDataFrame([("b", "c"), ("a", "b")],
                              "a_id string, b_id string")
    comp = {r.doc_id: r.component_id for r in dup_components(s).collect()}
    assert comp == {"a": "a", "b": "a", "c": "a"}


def test_dup_components_long_path_converges_fast(spark):
    """Pointer jumping: a diameter-40 path converges (≪ 40 rounds), and
    an artificially tiny round budget raises instead of returning a
    partial merge."""
    import pytest
    from osml10n_spark.operators.dedup import dup_components
    p = spark.createDataFrame([(i, i + 1) for i in range(40)],
                              "a_id long, b_id long")
    with pytest.raises(RuntimeError, match="converge"):
        dup_components(p, max_iters=2)
    out = dup_components(p, max_iters=10)   # log-bounded: 10 ≫ log2(41)
    assert out.filter("component_id = 0").count() == 41
    assert out.filter("is_survivor").count() == 1


def test_dup_components_reliable_checkpoint_dir(spark, tmp_path):
    """checkpoint_dir= switches the fixpoint's per-round snapshot from
    executor-local localCheckpoint to a RELIABLE checkpoint against the
    given store (the cluster-survivability path): same labels as the
    default path, and the directory actually receives RDD checkpoints."""
    import os
    from osml10n_spark.operators.dedup import dup_components
    pairs = spark.createDataFrame(
        [(10, 11), (11, 12), (30, 31), (12, 13)], "a_id long, b_id long")
    nodes = spark.createDataFrame(
        [(i,) for i in (10, 11, 12, 13, 30, 31, 77)], "doc_id long")
    ckdir = str(tmp_path / "cc_ckpt")
    local = {tuple(r) for r in dup_components(pairs, nodes=nodes).collect()}
    reliable = {tuple(r) for r in dup_components(
        pairs, nodes=nodes, checkpoint_dir=ckdir).collect()}
    assert local == reliable
    assert any(os.scandir(ckdir)), "no checkpoint files written"


def test_simhash_pairs(spark):
    # one changed token in 20 → hamming 3 under the md5-nibble hash;
    # the 4-band pigeonhole guarantees recall only for hamming ≤ 3,
    # so the threshold stays within that bound
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron pi rho sigma tau upsilon")
    rows = [(1, base),
            (2, base.replace("zeta", "zets")),
            (3, "unrelated words entirely different content here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r.a_id, r.b_id): r.hamming
             for r in simhash_dup_pairs(df, "doc_id", "text",
                                        max_hamming=3).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] <= 3
    assert (1, 3) not in pairs and (2, 3) not in pairs


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


def test_embedding_similarity(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.limit(5).select(F.col("vec_id").alias("qid"), "embedding")
    items = emb.select(F.col("vec_id").alias("iid"), "embedding")
    exact = cosine_topk(q, items, 3).collect()
    assert len(exact) == 15
    for r in exact:
        if r.rank == 1:
            assert r.qid == r.iid and r.cosine > 0.999999
    dim = len(emb.first().embedding)
    ann = lsh_topk(q, items, 3, dim=dim, n_bits=6, n_tables=6)
    ann_top1 = {r.qid: r.iid for r in ann.collect() if r.rank == 1}
    # self-match always lands in the same buckets → perfect top-1 recall
    assert all(qid == iid for qid, iid in ann_top1.items())


def test_embedding_dups(spark):
    rows = [(1, [1.0, 0.0, 0.0]), (2, [0.999, 0.001, 0.0]),
            (3, [0.0, 1.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = {(r.a_id, r.b_id) for r in
             embedding_dups(df, "vec_id", "embedding", 0.99).collect()}
    assert pairs == {(1, 2)}


def test_embedding_dups_explicit_dim_and_null_probe(spark):
    """dim= skips the plan-build probe (same pairs either way); a NULL
    leading vector must not crash the probe fallback (it is
    null-filtered), and an all-null table yields empty pairs."""
    rows = [(0, None), (1, [1.0, 0.0, 0.0]), (2, [0.999, 0.001, 0.0]),
            (3, [0.0, 1.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    probed = {(r.a_id, r.b_id) for r in
              embedding_dups(df.filter("embedding IS NOT NULL"),
                             "vec_id", "embedding", 0.99).collect()}
    explicit = {(r.a_id, r.b_id) for r in
                embedding_dups(df.filter("embedding IS NOT NULL"),
                               "vec_id", "embedding", 0.99,
                               dim=3).collect()}
    assert probed == explicit == {(1, 2)}
    # probe path sees the NULL row first: must skip it, not TypeError
    with_null = {(r.a_id, r.b_id) for r in
                 embedding_dups(df, "vec_id", "embedding", 0.99)
                 .filter("a_id > 0 AND b_id > 0").collect()}
    assert with_null == {(1, 2)}
    empty = embedding_dups(df.filter("embedding IS NULL"),
                           "vec_id", "embedding", 0.99)
    assert empty.count() == 0


def test_embedding_dups_blocked_matches_brute(spark):
    """Sign-band blocking finds the same high-threshold pair set as the
    brute-force small-n oracle (planted exact dups are guaranteed
    recall — identical signs in every band)."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet") \
        .select("vec_id", "embedding")
    doubled = emb.unionAll(
        emb.select((F.col("vec_id") + 100000).alias("vec_id"), "embedding")
        .filter(F.col("vec_id") < 100020))
    blocked = {(r.a_id, r.b_id) for r in
               embedding_dups(doubled, "vec_id", "embedding",
                              threshold=0.9).collect()}
    brute = {(r.a_id, r.b_id) for r in
             embedding_dups(doubled, "vec_id", "embedding",
                            threshold=0.9, brute=True).collect()}
    assert blocked == brute and len(brute) >= 20


def test_textops(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = add_script_flags(docs).withColumn("lid", lang_id(F.col("text"))) \
        .withColumn("q", quality_score(F.col("text"))) \
        .withColumn("tok", token_count(F.col("text"))) \
        .withColumn("fp", fingerprint(F.col("text")))
    rows = out.collect()
    assert all(0.0 <= r.q <= 1.0 for r in rows)
    assert all(len(r.fp) == 16 for r in rows)
    assert all(r.tok.words >= 1 for r in rows if r.text.strip())


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


def test_ivf_self_match(spark):
    """Every query is its own nearest neighbor: the query's nearest
    centroid equals its item twin's centroid, so IVF must return the
    identical vector at rank 1 with cosine 1.0."""
    from osml10n_spark.operators.similarity import ivf_topk
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.filter(F.col("vec_id") % 40 == 0) \
        .select(F.col("vec_id").alias("qid"), "embedding")
    items = e.select(F.col("vec_id").alias("iid"), "embedding")
    top = ivf_topk(q, items, 3, n_centroids=8, nprobe=2).collect()
    rank1 = {r.qid: (r.iid, r.cosine) for r in top if r.rank == 1}
    n_q = q.count()
    assert len(rank1) == n_q
    for qid, (iid, cos) in rank1.items():
        assert iid == qid
        assert abs(cos - 1.0) < 1e-9


def test_asof_join_semantics(spark):
    """Newest right row at-or-before each left ts, per key; 'left' keeps
    unmatched rows with nulls, 'inner' drops them."""
    from osml10n_spark.operators.temporal import asof_join
    left = spark.createDataFrame(
        [("l1", 1, 10), ("l2", 1, 25), ("l3", 2, 5)],
        "lid string, k long, ts long")
    right = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 7, "c")],
        "k long, ts long, v string")
    out = {r.lid: (r.asof_ts, r.asof_v) for r in
           asof_join(left, right, "k", "ts", ["v"], how="left").collect()}
    assert out["l1"] == (10, "a")        # equal ts matches (>= semantics)
    assert out["l2"] == (20, "b")        # newest at-or-before
    assert out["l3"] == (None, None)     # right row is in the future
    inner = asof_join(left, right, "k", "ts", ["v"], how="inner")
    assert {r.lid for r in inner.collect()} == {"l1", "l2"}


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


def test_ann_recall_on_clustered_data(spark):
    """On clusterable data (10 tight clusters) the ANN paths must find
    ≥90% of the exact top-3 — quality bar for lsh_topk/ivf_topk."""
    import numpy as np
    from osml10n_spark.operators.similarity import (cosine_topk, ivf_topk,
                                                    lsh_topk)
    rng = np.random.default_rng(7)
    centers = rng.standard_normal((10, 32))
    rows = []
    for i in range(400):
        c = centers[i % 10]
        rows.append((i, (c + 0.05 * rng.standard_normal(32)).tolist()))
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = e.filter(F.col("vec_id") % 40 == 0) \
        .select(F.col("vec_id").alias("qid"), "embedding")
    items = e.select(F.col("vec_id").alias("iid"), "embedding")
    exact = {(r.qid, r.iid) for r in cosine_topk(q, items, 3).collect()}
    for ann in (lsh_topk(q, items, 3, dim=32, n_bits=6, n_tables=6),
                ivf_topk(q, items, 3, n_centroids=10, nprobe=3)):
        got = {(r.qid, r.iid) for r in ann.collect()}
        recall = len(got & exact) / len(exact)
        assert recall >= 0.9, recall


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


def test_asof_join_matches_pandas_merge_asof(spark):
    """Randomized differential test: asof_join == pandas.merge_asof
    (backward, allow_exact_matches) per key."""
    import numpy as np
    import pandas as pd
    from osml10n_spark.operators.temporal import asof_join
    rng = np.random.default_rng(11)
    left = pd.DataFrame({
        "lid": [f"l{i}" for i in range(200)],
        "k": rng.integers(0, 5, 200),
        "ts": rng.integers(0, 10_000, 200)})
    right = pd.DataFrame({
        "k": rng.integers(0, 5, 300),
        "ts": np.sort(rng.choice(20_000, 300, replace=False)),  # unique ts
        "v": [f"v{i}" for i in range(300)]})
    got = asof_join(spark.createDataFrame(left),
                    spark.createDataFrame(right), "k", "ts", ["v"],
                    how="left").toPandas()
    exp = pd.merge_asof(left.sort_values("ts"), right.sort_values("ts"),
                        on="ts", by="k", direction="backward",
                        allow_exact_matches=True)
    gmap = dict(zip(got["lid"], got["asof_v"]))
    emap = dict(zip(exp["lid"], exp["v"]))
    assert all((gmap[l] == emap[l]) or (pd.isna(gmap[l]) and pd.isna(emap[l]))
               for l in emap)


def test_interval_join_matches_bruteforce(spark):
    """Randomized differential test: bucketed interval_join == the
    quadratic per-key overlap scan, including negative coordinates,
    touching endpoints, and intervals spanning many buckets (forced by
    a small explicit bucket_width)."""
    import numpy as np
    from osml10n_spark.operators.temporal import interval_join
    rng = np.random.default_rng(23)
    n = 300
    s = rng.integers(-500, 500, n)
    e = s + rng.integers(0, 120, n)          # lengths 0..119, W=16 → multi-bucket
    k = rng.integers(0, 4, n)
    rows = [(int(i), int(k[i]), int(s[i]), int(e[i])) for i in range(n)]
    df = spark.createDataFrame(rows, "id long, k long, s long, e long")
    for width in (16, None):                 # explicit multi-bucket + auto
        # MULTISET comparison: a pair sharing several buckets must be
        # emitted exactly once — a set compare would mask a regression
        # in the ownership filter (duplicates collapse silently)
        got = sorted((r.id, r.id_r) for r in
                     interval_join(df, df, "k", "s", "e",
                                   bucket_width=width).collect())
        exp = sorted((a[0], b[0]) for a in rows for b in rows
                     if a[1] == b[1] and a[2] <= b[3] and b[2] <= a[3])
        assert got == exp and len(exp) > n   # non-trivial overlap set


def test_interval_join_edges(spark):
    from osml10n_spark.operators.temporal import interval_join
    import pytest
    a = spark.createDataFrame([(1, 0, 0, 10), (2, 0, 10, 20), (3, 0, 21, 5)],
                              "id long, k long, s long, e long")
    out = sorted((r.id, r.id_r) for r in
                 interval_join(a, a, "k", "s", "e", bucket_width=4).collect())
    # touching endpoints (e=10, s=10) overlap under CLOSED semantics;
    # the s>e row (id 3) is an empty interval and matches nothing —
    # not even itself; multiset compare pins exactly-once emission
    assert out == [(1, 1), (1, 2), (2, 1), (2, 2)]
    with pytest.raises(ValueError):
        interval_join(a, a, "k", "s", "e", bucket_width=0)
    with pytest.raises(ValueError):
        interval_join(a, a, "s", "s", "e")
    # internal bucket column name must not be silently destroyed
    with pytest.raises(ValueError, match="_b"):
        interval_join(a.withColumnRenamed("e", "_b"), a, "k", "s", "e")
    # an outlier interval against the derived width fails LOUDLY at
    # execution instead of silently exploding into len/W rows
    wide = a.unionByName(spark.createDataFrame(
        [(9, 0, 0, 10_000_000)], "id long, k long, s long, e long"))
    with pytest.raises(Exception, match="spans more than"):
        interval_join(wide, wide, "k", "s", "e", bucket_width=4,
                      max_span_buckets=1000).collect()


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


def test_merge_intervals_matches_reference(spark):
    """Randomized differential test vs a driver-side sweep merge,
    including duplicate (s, e) rows, touching endpoints, gap>0, and
    dropped empty intervals."""
    import numpy as np
    from osml10n_spark.operators.temporal import merge_intervals
    rng = np.random.default_rng(41)
    n = 400
    s = rng.integers(-200, 800, n)
    e = s + rng.integers(-5, 60, n)          # ~8% empty (s > e)
    k = rng.integers(0, 5, n)
    rows = [(int(k[i]), int(s[i]), int(e[i])) for i in range(n)]
    df = spark.createDataFrame(rows, "k long, s long, e long")
    for gap in (0, 7):
        got = sorted((r.k, r.m_start, r.m_end, r.n_merged) for r in
                     merge_intervals(df, "k", "s", "e", gap=gap).collect())
        exp = []
        for key in set(k for k, _, _ in rows):
            ivs = sorted((s, e) for kk, s, e in rows if kk == key and s <= e)
            cur = None
            for s0, e0 in ivs:
                if cur and s0 <= cur[1] + gap:
                    cur = [cur[0], max(cur[1], e0), cur[2] + 1]
                else:
                    if cur:
                        exp.append((key, *cur))
                    cur = [s0, e0, 1]
            if cur:
                exp.append((key, *cur))
        assert got == sorted(exp) and len(exp) > 5


def test_asof_join_null_payload_not_resurrected(spark):
    """The matched right row's NULL payload must come through as NULL —
    not an older row's non-null value (atomic row carry)."""
    from osml10n_spark.operators.temporal import asof_join
    left = spark.createDataFrame([("l1", 1, 25)], "lid string, k long, ts long")
    right = spark.createDataFrame([(1, 10, "a"), (1, 20, None)],
                                  "k long, ts long, v string")
    row = asof_join(left, right, "k", "ts", ["v"], how="left").collect()[0]
    assert row.asof_ts == 20 and row.asof_v is None


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


def test_gopher_flags_and_repetition(spark):
    from osml10n_spark.operators.textops import (clean_text, gopher_flags,
                                                 repetition_ratio)
    rows = [
        (1, "The quick brown fox jumps over the lazy dog near the river"),
        (2, "spam spam spam spam spam spam spam spam"),
        (3, "- one\n- two\n- three"),
        (4, "####### ## #"),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    g = gopher_flags(F.col("text"))
    out = {r.doc_id: r for r in df.select(
        "doc_id", g.alias("g"),
        repetition_ratio(F.col("text"), 2).alias("rep2")).collect()}
    assert out[1].g.gopher_pass is True and out[1].rep2 == 0.0
    assert out[2].rep2 > 0.8                       # 7 bigrams, 1 distinct
    assert out[3].g.bullet_frac == 1.0 and out[3].g.gopher_pass is False
    assert out[4].g.symbol_ratio > 0.1 and out[4].g.gopher_pass is False
    assert out[5].g.words == 0 and out[5].rep2 == 0.0

    cleaned = df.filter(F.col("doc_id") == 1).select(
        clean_text(F.concat(F.lit("go to https://a.b/c x@y.zz  "),
                            F.col("text"))).alias("c")).first().c
    assert cleaned.startswith("go to The quick")
    assert "https" not in cleaned and "@" not in cleaned


def test_add_gopher_flags_matches_column_form(spark):
    """The Generate-barrier form (add_gopher_flags) and the single-
    Column form (gopher_flags) are the same derivation — every field
    bit-identical on real corpus text plus the edge rows (empty text,
    bullets, symbol spam, NULL)."""
    from osml10n_spark.operators.textops import add_gopher_flags, \
        gopher_flags
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "text").unionByName(spark.createDataFrame(
            [(9001, ""), (9002, "- a\n- b"), (9003, "## # ##"),
             (9004, None)], "doc_id long, text string"))
    col_form = docs.select("doc_id",
                           gopher_flags(F.col("text")).alias("quality"))
    df_form = add_gopher_flags(docs).select("doc_id", "quality")
    a = {r.doc_id: r.quality for r in col_form.collect()}
    b = {r.doc_id: r.quality for r in df_form.collect()}
    assert set(a) == set(b) and len(a) > 100
    for k in a:
        assert a[k] == b[k], f"doc {k}: {a[k]} != {b[k]}"


def test_cell_embedding_profile(spark):
    """applyInPandas per-cell profile: anisotropic cell shows dominant
    eigen-share ~1, and the computation is deterministic across runs."""
    from osml10n_spark.operators.similarity import cell_embedding_profile
    rows = ([(1, i, [float(i + 1), 0.0, 0.0]) for i in range(6)]
            + [(2, 10 + i, v) for i, v in enumerate(
                [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0],
                 [-1.0, 0.0, 0.0], [0.0, -1.0, 0.0], [0.0, 0.0, -1.0]])])
    df = spark.createDataFrame(
        rows, "cell_id long, vec_id long, embedding array<double>")
    out = {r.cell: r for r in cell_embedding_profile(df).collect()}
    assert out[1].n == 6 and out[1].top_eig_share > 0.999
    assert out[2].n == 6 and out[2].top_eig_share < 0.5
    again = {r.cell: r for r in cell_embedding_profile(df).collect()}
    assert all(again[k].top_eig_share == out[k].top_eig_share
               and again[k].mean_norm == out[k].mean_norm for k in out)


def test_curate_pipeline(spark):
    """The composed curation flow: dedup drops exact copies, the
    quality gate drops repetition/symbol spam, metrics observe the
    kept set, and localization composes on top."""
    from osml10n_spark.engine.curate import curate
    rows = [
        (1, "The quick brown fox jumps over the lazy dog by the river"),
        (2, "The quick brown fox jumps over the lazy dog by the river"),
        (3, "spam spam spam spam spam spam spam spam"),
        (4, "# # alpha # # beta # #"),
        (5, "Eine ganz normale Straße und ein Platz in der Stadt"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out, obs = curate(df)
    got = {r.doc_id: r for r in out.collect()}
    assert set(got) == {1, 5}                 # 2=dup, 3=repetition, 4=symbols
    assert got[5].lang == "de"
    m = obs.get
    assert m["rows_kept"] == 2 and m["n_langs"] == 2

    # localization composes: latin captions pass through unchanged
    geo = df.withColumn("lon", F.lit(10.0)).withColumn("lat", F.lit(50.0))
    loc, _ = curate(geo, localize_to="de", lon_col="lon", lat_col="lat",
                    with_metrics=False)
    lrows = {r.doc_id: r for r in loc.collect()}
    assert lrows[1].caption_l10n == rows[0][1]
    assert "cell_id" in loc.columns

    # near-dup stage: chained variants collapse to the min-id survivor
    # (1~6 and 6~7 pair via 5-gram minhash; the closure must merge all
    # three even if 1~7 alone misses a band), unrelated rows survive
    base = rows[0][1]
    nd = df.unionByName(spark.createDataFrame(
        [(6, base + " zz"), (7, base + " zz zz")],
        "doc_id long, text string"))
    out_nd, _ = curate(nd, near_dup="minhash", with_metrics=False)
    assert {r.doc_id for r in out_nd.collect()} == {1, 5}
    with pytest.raises(ValueError):
        curate(df, near_dup="simhash")


def test_multimodal_resize(spark):
    """Bilinear resize: same-format re-encode round-trips, constant
    images stay exact, downscaled gradients stay close (PSNR)."""
    from osml10n_spark.imaging import decode_image, encode_image, psnr
    from osml10n_spark.operators.multimodal import (_bilinear_resize,
                                                    resize_images)
    # kernel invariants first (no Spark)
    const = np.full((20, 30, 3), 77, dtype=np.uint8)
    assert (_bilinear_resize(const, 7, 9) == 77).all()
    grad = np.tile(np.arange(64, dtype=np.uint8)[None, :, None], (32, 1, 3))
    up = _bilinear_resize(grad, 64, 128)
    down = _bilinear_resize(up, 32, 64)
    assert psnr(grad, down) > 35.0
    # Spark plumbing: engine fmts resize+re-encode, dims update
    rows = [("a", encode_image(grad, "bmp"), "bmp"),
            ("b", encode_image(grad, "raw"), "raw"),
            ("c", b"\xff\xd8junk", "jpeg")]          # corrupt jpeg payload
    df = spark.createDataFrame(rows, "image_id string, bytes binary, fmt string")
    out = {r.image_id: r for r in resize_images(df, 16, 12).collect()}
    assert out["a"].ok and out["a"].w == 16 and out["a"].h == 12
    assert decode_image(bytes(out["b"].bytes), "raw").shape == (12, 16, 3)
    assert out["c"].ok is False and out["c"].bytes is None


def test_multimodal_frame_sampling(spark):
    """rawv demux + every-k sampling: right frames, standalone
    re-encoded payloads, phash stability."""
    from osml10n_spark.imaging import decode_image, phash64
    from osml10n_spark.operators.multimodal import encode_rawv, sample_frames
    rng = np.random.default_rng(5)
    frames = rng.integers(0, 256, (7, 10, 12, 3), dtype=np.uint8)
    df = spark.createDataFrame(
        [("v1", encode_rawv(frames), "rawv"), ("v2", b"????", "mp4")],
        "video_id string, bytes binary, fmt string")
    got = {(r.video_id, r.frame_idx): r
           for r in sample_frames(df, every_k=3).collect()}
    assert set(got) == {("v1", 0), ("v1", 3), ("v1", 6)}   # mp4 stub dropped
    for (vid, idx), r in got.items():
        pix = decode_image(bytes(r.frame_bytes), "raw")
        assert (pix == frames[idx]).all()
        assert r.phash == phash64(frames[idx])


def test_wav_codec_roundtrip_and_chunk_walk():
    import struct

    import numpy as np

    from osml10n_spark.audioops import decode_wav, encode_wav

    rng = np.random.default_rng(3)
    mono = rng.integers(-32768, 32767, 5000).astype(np.int16)
    stereo = rng.integers(-32768, 32767, (5000, 2)).astype(np.int16)
    m, sr = decode_wav(encode_wav(mono, 8000))
    assert sr == 8000 and (m[:, 0] == mono).all()
    s, sr2 = decode_wav(encode_wav(stereo, 44100))
    assert sr2 == 44100 and (s == stereo).all()
    # chunk walker must skip an interposed LIST chunk before data
    raw = encode_wav(mono, 8000)
    extra = struct.pack("<4sI", b"LIST", 6) + b"INFOab"
    patched = raw[:36] + extra + raw[36:]
    m2, _ = decode_wav(patched)
    assert (m2[:, 0] == mono).all()
    with pytest.raises(ValueError):
        decode_wav(b"RIFFxxxxNOPE")


def test_audio_dup_pairs_matches_kernel_ground_truth(spark):
    # distributed decode+fingerprint+banded join must equal the
    # pure-python replay, with stereo-encoded clips (duplicated
    # channel → same mono mix → same fingerprint) and declared-stub
    # formats dropping out before the join
    import itertools

    import numpy as np

    from osml10n_spark.audioops import encode_wav, fingerprint64
    from osml10n_spark.operators.multimodal import (audio_dup_pairs,
                                                    audio_features)
    from osml10n_spark.sources.datagen import audio_for_id

    rows, fp = [], {}
    for i in range(30):
        s, sr = audio_for_id(55, i, 0.3)
        payload = encode_wav(np.stack([s, s], 1), sr) if i % 5 == 0 \
            else encode_wav(s, sr)
        rows.append((f"a{i:03d}", payload, "wav"))
        fp[f"a{i:03d}"] = fingerprint64(s)
    rows.append(("astub", b"\x00" * 16, "ogg"))
    df = spark.createDataFrame(rows,
                               "audio_id string, bytes binary, fmt string")
    feats = {r.audio_id: r for r in audio_features(df).collect()}
    assert not feats["astub"].decoded
    assert feats["a000"].decoded and feats["a000"].fingerprint == fp["a000"]
    assert abs(feats["a001"].duration_s - 1.0) < 1e-9
    got = {(r.a_id, r.b_id, r.hamming)
           for r in audio_dup_pairs(df, max_hamming=4).collect()}
    want = {(a, b, bin((fp[a] ^ fp[b]) & ((1 << 64) - 1)).count("1"))
            for a, b in itertools.combinations(sorted(fp), 2)
            if bin((fp[a] ^ fp[b]) & ((1 << 64) - 1)).count("1") <= 4}
    assert want and got == want


def test_sample_stratified_deterministic_and_rate(spark):
    # the md5 gate is replayable (two runs identical), respects strata
    # rates to within binomial noise, and is a pure filter (no shuffle)
    import hashlib

    from osml10n_spark.operators.sampling import sample_stratified
    rows = [(i, "en" if i % 3 else "de") for i in range(3000)]
    df = spark.createDataFrame(rows, "id long, lang string")
    out = sample_stratified(df, "id", "lang",
                            rates={"en": 0.5, "de": 0.1}, salt="s")
    got = {(r.id, r.lang) for r in out.collect()}
    assert got == {(r.id, r.lang) for r in out.collect()}  # replayable
    # python replay of the exact gate
    def keep(i, rate):
        h = hashlib.md5(f"{i}:s".encode()).hexdigest()[:8]
        return h < format(min(int(rate * 2**32), 2**32 - 1), "08x")
    want = {(i, l) for i, l in rows if keep(i, 0.5 if l == "en" else 0.1)}
    assert got == want
    n_en = sum(1 for _, l in got if l == "en")
    n_de = sum(1 for _, l in got if l == "de")
    assert abs(n_en / 2000 - 0.5) < 0.05 and abs(n_de / 1000 - 0.1) < 0.04
    assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()


def test_sample_stratified_edge_rates(spark):
    from osml10n_spark.operators.sampling import sample_stratified
    df = spark.createDataFrame([(i, "x") for i in range(200)],
                               "id long, lang string")
    assert sample_stratified(df, "id", "lang", rates={"x": 1.0}).count() == 200
    assert sample_stratified(df, "id", "lang", rates={"x": 0.0}).count() == 0
    # unknown stratum takes default_rate
    assert sample_stratified(df, "id", "lang", rates={"y": 1.0},
                             default_rate=0.0).count() == 0
    with pytest.raises(ValueError):
        sample_stratified(df, "id", "lang", rates={"x": 1.5})


def test_pack_shards_stream_offsets(spark):
    from osml10n_spark.operators.sampling import pack_shards
    rows = [(1, "a", 100), (2, "a", 50), (3, "a", 80), (4, "b", 300),
            (5, "b", 10)]
    df = spark.createDataFrame(rows, "id long, g string, w long")
    got = {r.id: (r.start_offset, r.shard_id)
           for r in pack_shards(df, "id", "w", budget=128,
                                group_col="g").collect()}
    # group a stream: offsets 0,100,150 → shards 0,0,1
    # group b stream: offsets 0,300   → shards 0,2 (big doc keeps its
    # start shard; next doc starts past it)
    assert got == {1: (0, 0), 2: (100, 0), 3: (150, 1),
                   4: (0, 0), 5: (300, 2)}
    with pytest.raises(ValueError):
        pack_shards(df, "id", "w", budget=0, group_col="g")
    with pytest.warns(UserWarning):
        pack_shards(df, "id", "w", budget=128)  # global window warns


def test_quantile_gate_per_group_median(spark):
    from osml10n_spark.operators.sampling import quantile_gate
    rows = [(1, "a", 10.0), (2, "a", 20.0), (3, "a", 30.0),
            (4, "b", 100.0), (5, "b", 200.0)]
    df = spark.createDataFrame(rows, "id long, g string, s double")
    out = {r.id: (r.threshold, r.keep)
           for r in quantile_gate(df, "s", "g", q=0.5).collect()}
    assert out[1] == (20.0, False) and out[2] == (20.0, True) \
        and out[3] == (20.0, True)
    assert out[4] == (150.0, False) and out[5] == (150.0, True)
