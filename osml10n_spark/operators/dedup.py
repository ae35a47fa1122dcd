"""Deduplication operators.

All operators take/return DataFrames and are built from JVM expressions
(md5/regexp/bit ops are whole-stage-codegen native); hashing choices
are deliberately SQL-portable so the DuckDB oracle can replicate them
bit-for-bit (md5 exists in both engines with identical output; Spark's
xxhash64/hash do NOT exist in DuckDB and are avoided everywhere an
oracle needs to re-derive values).

- exact_dedup:        md5(normalized text) group-by, keep min id
- minhash_signature:  k-shingles → per-band min of md5-derived hex
                      hashes
- minhash_dup_pairs:  band-bucket equi-join → candidate pairs →
                      verified n-gram Jaccard
- simhash64:          64-bit sign-aggregated token hash + hamming pairs
- hash_dup_pairs:     banded Hamming pairs over a precomputed 64-bit
                      signature (simhash, image phash, audio fingerprint)
- embedding_dups:     cosine-similarity near-dup pairs over embeddings
- dup_components:     near-dup pairs → connected components
"""
from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = [
    "normalize_text", "exact_dedup", "shingles", "minhash_signature",
    "minhash_dup_pairs", "ngram_jaccard_pairs", "simhash64",
    "simhash_dup_pairs", "hash_dup_pairs", "embedding_dups",
    "dup_components",
]


def normalize_text(col):
    """Lowercase, collapse whitespace — the canonical dedup key basis."""
    return F.trim(F.regexp_replace(F.lower(col), "\\s+", " "))


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact duplicate groups by md5 of normalized text; keeps the
    minimum id as the canonical representative (deterministic)."""
    keyed = df.select(F.col(id_col).alias("doc_id"),
                      F.md5(normalize_text(F.col(text_col))).alias("dup_key"))
    return (keyed.groupBy("dup_key")
            .agg(F.min("doc_id").alias("keep_id"),
                 F.count("*").alias("group_size"))
            .filter(F.col("group_size") > 1))


def shingles(col, n: int = 5):
    """Character n-gram shingle array of the normalized text (unique,
    sorted).  Expressible in DuckDB via generate_series + substr."""
    norm = normalize_text(col)
    idx = F.sequence(F.lit(1), F.greatest(F.length(norm) - (n - 1), F.lit(1)))
    return F.array_sort(F.array_distinct(
        F.transform(idx, lambda i: F.substring(norm, i, n))))


def _shingle_hash(sh_col, seed: int):
    """Portable shingle hash: md5(seed || '|' || shingle) as a hex
    string — byte-identical in Spark and DuckDB, and lexicographic min
    over hex strings is a valid minhash (uniform order-preserving)."""
    return F.md5(F.concat(F.lit(str(seed) + "|"), sh_col))


def minhash_signature(df: DataFrame, id_col: str, text_col: str,
                      n: int = 5, bands: int = 8) -> DataFrame:
    """One minhash value per band: lexicographic min over shingles of a
    seeded md5 hex hash.  Returns (doc_id, band, minhash)."""
    sh = df.select(F.col(id_col).alias("doc_id"),
                   shingles(F.col(text_col), n).alias("sh"))

    def band_min(b: int):
        # NOTE: the transform lambda must take exactly ONE parameter —
        # a second parameter would be interpreted by Spark as the array
        # index, not a closure default.
        return F.array_min(F.transform(
            F.col("sh"), lambda s: _shingle_hash(s, b)))

    per_band = []
    for b in range(bands):
        per_band.append(F.struct(F.lit(b).alias("band"),
                                 band_min(b).alias("minhash")))
    return (sh.select("doc_id", F.explode(F.array(*per_band)).alias("bm"))
            .select("doc_id", F.col("bm.band").alias("band"),
                    F.col("bm.minhash").alias("minhash")))


def minhash_dup_pairs(df: DataFrame, id_col: str, text_col: str,
                      n: int = 5, bands: int = 8,
                      min_band_matches: int = 2,
                      jaccard_threshold: float = 0.6) -> DataFrame:
    """LSH candidate generation + exact Jaccard verification.

    Scale shape: the (band, minhash) bucket join is an equi-join (one
    shuffle on the bucket key); only candidate pairs pay the exact
    verification.  Returns (a_id, b_id, band_matches, jaccard).
    """
    sig = minhash_signature(df, id_col, text_col, n, bands)
    a = sig.alias("a")
    b = sig.alias("b")
    cand = (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.minhash") == F.col("b.minhash"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(F.col("a.doc_id").alias("a_id"),
                     F.col("b.doc_id").alias("b_id"))
            .agg(F.count("*").alias("band_matches"))
            .filter(F.col("band_matches") >= min_band_matches))
    sh = df.select(F.col(id_col).alias("doc_id"),
                   shingles(F.col(text_col), n).alias("sh"))
    withs = (cand
             .join(sh.withColumnRenamed("doc_id", "a_id")
                     .withColumnRenamed("sh", "a_sh"), "a_id")
             .join(sh.withColumnRenamed("doc_id", "b_id")
                     .withColumnRenamed("sh", "b_sh"), "b_id"))
    inter = F.size(F.array_intersect(F.col("a_sh"), F.col("b_sh")))
    union = F.size(F.array_union(F.col("a_sh"), F.col("b_sh")))
    return (withs.withColumn("jaccard", inter / union)
            .filter(F.col("jaccard") >= jaccard_threshold)
            .select("a_id", "b_id", "band_matches", "jaccard"))


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                        n: int = 3, threshold: float = 0.5,
                        block_col=None,
                        allow_quadratic: bool = False) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs.  Without a blocking
    column this is an all-pairs O(n²) join, which cannot ship silently:
    callers at scale pass ``block_col`` (e.g. a length bucket or LSH
    band) to bound the join; small-n oracles/tests that genuinely want
    the brute-force plan must say so with ``allow_quadratic=True`` or
    the call raises."""
    if block_col is None and not allow_quadratic:
        raise ValueError(
            "ngram_jaccard_pairs without block_col is an all-pairs O(n^2) "
            "join; pass block_col (length bucket, LSH band, ...) or opt in "
            "explicitly with allow_quadratic=True for small-n baselines")
    sh = df.select(F.col(id_col).alias("doc_id"),
                   shingles(F.col(text_col), n).alias("sh"),
                   *( [block_col.alias("blk")] if block_col is not None else []))
    a = sh.alias("a")
    b = sh.alias("b")
    cond = F.col("a.doc_id") < F.col("b.doc_id")
    if block_col is not None:
        cond = cond & (F.col("a.blk") == F.col("b.blk"))
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.array_union(F.col("a.sh"), F.col("b.sh")))
    return (a.join(b, cond)
            .select(F.col("a.doc_id").alias("a_id"),
                    F.col("b.doc_id").alias("b_id"),
                    (inter / union).alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash over whitespace tokens: per bit, sign of the sum
    of ±1 contributions from a PORTABLE md5-derived token hash (bit b =
    bit b%4 of md5 hex nibble b//4) — byte-identical in DuckDB, so the
    full pipeline is oracle-expressible (the previous xxhash64 scheme
    was not).  All JVM expressions (md5/conv/bit ops whole-stage
    codegen).  Returns (doc_id, simhash)."""
    toks = df.select(F.col(id_col).alias("doc_id"),
                     F.explode(F.split(normalize_text(F.col(text_col)), " "))
                     .alias("tok"))
    h = toks.withColumn("hx", F.md5("tok"))
    # 16 hex nibbles → 64 bits; conv is JVM-native (no Python crossing)
    for i in range(16):
        h = h.withColumn(f"n{i}",
                         F.conv(F.substring("hx", i + 1, 1), 16, 10).cast("int"))
    bits = [F.sum(F.when(F.shiftright(F.col(f"n{b // 4}"), b % 4)
                         .bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1))
            .alias(f"b{b}") for b in range(64)]
    agg = h.groupBy("doc_id").agg(*bits)
    sim = F.lit(0).cast("long")
    for b in range(64):
        sim = sim.bitwiseOR(F.when(F.col(f"b{b}") > 0,
                                   F.shiftleft(F.lit(1).cast("long"), b))
                            .otherwise(F.lit(0).cast("long")))
    return agg.select("doc_id", sim.alias("simhash"))


def hash_dup_pairs(df: DataFrame, id_col: str, hash_col: str,
                   max_hamming: int = 3,
                   n_bands: int | None = None) -> DataFrame:
    """Near-dup pairs by Hamming distance over ANY precomputed 64-bit
    signature column (image phash, audio fingerprint, …),
    banded: split the 64 bits into ``n_bands`` equal bands — by
    pigeonhole, any pair within hamming ≤ n_bands-1 shares at least one
    exact band, so candidate generation is a pure equi-join (no
    cross-join anywhere; EXACT for the threshold, not approximate).

    ``n_bands`` defaults to the smallest divisor of 64 that is
    > ``max_hamming`` (4 bands/16 bits for hamming ≤3, 8 bands/8 bits
    for ≤7…).  Scale tradeoff: more bands tolerate larger distances but
    weaken blocking (a b-bit band key has only 2^b buckets — at very
    large n prefer the smallest n_bands the threshold allows, or
    pre-block by a coarse key).  Returns (a_id, b_id, hamming)."""
    if not 0 <= max_hamming < 64:
        # without this, max_hamming >= 64 would surface as a bare
        # StopIteration from the divisor search below
        raise ValueError("max_hamming must be in [0, 64) — a 64-bit "
                         "signature cannot band a larger distance")
    if n_bands is None:
        n_bands = next(d for d in (1, 2, 4, 8, 16, 32, 64)
                       if d > max_hamming)
    if 64 % n_bands != 0:
        raise ValueError("n_bands must divide 64")
    if n_bands <= max_hamming:
        raise ValueError("pigeonhole needs n_bands > max_hamming")
    width = 64 // n_bands
    mask = (1 << width) - 1
    sig = df.select(F.col(id_col).alias("doc_id"),
                    F.col(hash_col).cast("long").alias("sig"))
    banded = sig.select(
        "doc_id", "sig",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("band"),
                     F.shiftrightunsigned(F.col("sig"), width * i)
                     .bitwiseAND(F.lit(mask)).alias("bkey"))
            for i in range(n_bands)])).alias("bb")) \
        .select("doc_id", "sig", "bb.band", "bb.bkey")
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (a.join(b, (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.bkey") == F.col("b.bkey"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .select(F.col("a.doc_id").alias("a_id"),
                     F.col("b.doc_id").alias("b_id"),
                     F.col("a.sig").alias("a_sig"),
                     F.col("b.sig").alias("b_sig"))
             .distinct())
    ham = F.bit_count(F.col("a_sig").bitwiseXOR(F.col("b_sig")))
    return pairs.withColumn("hamming", ham) \
        .filter(F.col("hamming") <= max_hamming) \
        .select("a_id", "b_id", "hamming")


def _cc_round(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """One dup_components round: neighbor-min + pointer jump.  All
    equi-joins (plan-tested: no cartesian/NLJ anywhere) — shuffles hash
    on node/label ids only.  ``prev`` carries the pre-round label so
    the caller's convergence count is exact without a comparison join."""
    nbr = (edges.join(labels, edges.src == labels.id)
           .groupBy(F.col("dst").alias("id"))
           .agg(F.min("comp").alias("nbr_comp")))
    stepped = (labels.join(nbr, "id", "left")
               .select("id", F.col("comp").alias("prev"),
                       F.least("comp", "nbr_comp").alias("comp")))
    # pointer jump: comp is always itself a node id (mins over node
    # ids), so its own label exists — label(v) ← label(label(v)).
    # The jump map renames BOTH columns (jk/comp2) before the
    # self-join: joining stepped to itself on "comp" would resolve both
    # sides to the SAME attribute (a trivially-true condition → a
    # cartesian blowup), the classic Spark self-join ambiguity.
    jmap = stepped.select(F.col("id").alias("jk"),
                          F.col("comp").alias("comp2"))
    return (stepped.join(jmap, stepped["comp"] == jmap["jk"])
            .select("id", "prev", F.col("comp2").alias("comp")))


def dup_components(pairs: DataFrame, nodes: DataFrame | None = None,
                   a_col: str = "a_id", b_col: str = "b_id",
                   id_col: str = "doc_id",
                   max_iters: int = 25,
                   checkpoint_dir: str | None = None) -> DataFrame:
    """Transitively close near-dup PAIRS into duplicate CLUSTERS and
    pick one survivor per cluster — the operation a production corpus
    dedup actually ships: ``hash_dup_pairs``/``minhash_dup_pairs`` emit
    A~B and B~C, but the keep-set needs {A,B,C} collapsed to one
    component even when A≁C directly (chained near-dups).

    Algorithm: iterative min-label propagation with pointer jumping
    (the MapReduce connected-components shape of Kiveris et al.'s
    small-star/large-star family).  Every node starts labeled with its
    own id; each round (1) takes the min label over itself and its
    neighbors (edge equi-join + groupBy min — two shuffles on node id)
    and (2) pointer-jumps label(v) ← label(label(v)) (one self-join),
    so labels race down chains exponentially: a diameter-d chain
    converges in O(log d) rounds, not d.  Convergence is EXACT: the
    round's pre-step label rides along as ``prev``, so the round's own
    scalar agg counts changed nodes — no extra comparison join, no
    probabilistic shortcut.  Each round ends in an EAGER
    ``localCheckpoint`` — persist alone is not enough for iterative
    plans: cached blocks stop re-execution but the logical plan still
    nests round over round and Catalyst re-analyzes the whole tree
    every iteration (measured 2.6s → 44s/round growth by round 4 on a
    16-node toy graph; checkpointing holds it flat).  By default the
    checkpoint is executor-local (``localCheckpoint`` — fast, but an
    executor loss mid-iteration loses blocks); pass
    ``checkpoint_dir`` (an HDFS/S3 path on a real cluster) to switch
    every round to a RELIABLE ``checkpoint`` against that store so
    the fixpoint survives executor loss — same labels either way
    (tests/test_operators.py proves both paths converge identically).

    ``nodes`` (optional, a single-column frame of ``id_col``) adds
    isolated documents: nodes in no pair come back as their own
    singleton component with ``is_survivor=true`` — pass the full
    corpus id set to get a complete keep/drop verdict per document.

    Ids may be any orderable type (long, string); the min label is the
    component id.  Output: (doc_id, component_id, is_survivor), one row
    per node.  Raises RuntimeError if ``max_iters`` rounds don't reach
    the fixpoint (log₂-bounded, so 25 covers any practical graph).
    """
    edges = (pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
             .unionByName(pairs.select(F.col(b_col).alias("src"),
                                       F.col(a_col).alias("dst"))))
    ids = edges.select(F.col("src").alias("id")).distinct()
    if nodes is not None:
        ids = ids.unionByName(
            nodes.select(F.col(id_col).alias("id"))).distinct()
    if checkpoint_dir is not None:
        pairs.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
        _snapshot = lambda d: d.checkpoint()          # reliable, eager
    else:
        _snapshot = lambda d: d.localCheckpoint()     # executor-local
    edges = edges.persist()
    labels = _snapshot(ids.withColumn("comp", F.col("id")))
    converged = False
    for _ in range(max_iters):
        # eager checkpoint materializes the round AND truncates
        # lineage (see docstring); superseded rounds' blocks/files are
        # freed by the ContextCleaner once unreferenced
        jumped = _snapshot(_cc_round(edges, labels))
        n_changed = jumped.filter(F.col("comp") != F.col("prev")).count()
        labels = jumped
        if n_changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        raise RuntimeError(
            f"dup_components did not converge in {max_iters} rounds")
    return labels.select(F.col("id").alias(id_col),
                         F.col("comp").alias("component_id"),
                         (F.col("id") == F.col("comp")).alias("is_survivor"))


def simhash_dup_pairs(df: DataFrame, id_col: str, text_col: str,
                      max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance: simhash64 signatures
    through the banded equi-join of hash_dup_pairs (4 16-bit bands at
    the default hamming ≤3)."""
    return hash_dup_pairs(simhash64(df, id_col, text_col),
                          "doc_id", "simhash", max_hamming=max_hamming)


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
                       F.lit(0.0), lambda acc, x: acc + x)


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0),
                              lambda acc, x: acc + x.cast("double") * x.cast("double")))


def embedding_dups(df: DataFrame, id_col: str, vec_col: str,
                   threshold: float = 0.95, band_width: int = 8,
                   n_bands: int = 8, brute: bool = False,
                   dim: int | None = None) -> DataFrame:
    """Embedding-cosine near-dup pairs.  Returns (a_id, b_id, cosine).

    Scale shape (default): sign-band blocking — band j's key is the
    sign pattern of components [j·w, (j+1)·w) packed into an int (signs
    of STORED floats: exact, no FP arithmetic, so a DuckDB oracle can
    re-derive the buckets bit-for-bit).  Candidates share ≥1 full band
    (equi-join on (band, key) — ONE shuffle, no all-pairs theta join);
    only candidates pay the exact cosine refine.  Exact duplicates are
    always recalled (identical signs in every band); for threshold t
    the per-band sign-agreement probability is (1 - acos(t)/π)^w, so at
    t≈0.95, w=8, 8 bands the miss probability is <1% — and falls
    further with more bands.  Requires dim ≥ band_width·n_bands.

    ``brute=True`` keeps the O(n²) baseline — the small-n oracle only;
    both paths share the ``_dot``/``_norm`` folds so FP semantics
    cannot drift.

    ``dim`` is the embedding dimensionality.  Pass it explicitly at
    scale (and always on streaming DataFrames, where eager actions are
    illegal): when omitted, a bounded null-filtered ``.first()`` probe
    runs ONE driver job at plan-construction time to discover it."""
    v = df.select(F.col(id_col).alias("doc_id"), F.col(vec_col).alias("vec")) \
        .withColumn("nrm", _norm(F.col("vec")))

    if brute:
        a = v.alias("a")
        b = v.alias("b")
        dot = _dot(F.col("a.vec"), F.col("b.vec"))
        return (a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
                .withColumn("cosine", dot / (F.col("a.nrm") * F.col("b.nrm")))
                .filter(F.col("cosine") >= threshold)
                .select(F.col("a.doc_id").alias("a_id"),
                        F.col("b.doc_id").alias("b_id"), "cosine"))

    if dim is None:
        # probe fallback only — null-filtered so a leading NULL vector
        # can't crash the len(), and skipped entirely when the caller
        # supplies dim (no driver job before the result is used)
        probe = df.filter(F.col(vec_col).isNotNull()).select(vec_col).first()
        if probe is None:        # empty/all-null input → empty pairs, lazily
            return v.limit(0).select(F.col("doc_id").alias("a_id"),
                                     F.col("doc_id").alias("b_id"),
                                     F.lit(0.0).alias("cosine"))
        dim = len(probe[0])
    # short vectors: shrink the band plan instead of hashing nulls
    # (dim < w → one band over whatever components exist = still sound)
    if dim < band_width * n_bands:
        n_bands = max(dim // band_width, 1)
        band_width = min(band_width, dim)

    def band_key(vec, j: int):
        bits = [F.when(F.element_at(vec, j * band_width + i + 1) >= 0,
                       F.lit(1 << i)).otherwise(F.lit(0))
                for i in range(band_width)]
        key = bits[0]
        for e in bits[1:]:
            key = key + e
        return key

    banded = v.select(
        "doc_id",
        F.explode(F.array(*[
            F.struct(F.lit(j).alias("band"),
                     band_key(F.col("vec"), j).alias("bkey"))
            for j in range(n_bands)])).alias("bb")) \
        .select("doc_id", F.col("bb.band").alias("band"),
                F.col("bb.bkey").alias("bkey"))
    # pair-key dedup BEFORE touching vectors: only (a,b) id pairs flow
    # through the distinct shuffle; vectors rejoin afterwards
    cand = (banded.alias("x")
            .join(banded.alias("y"),
                  (F.col("x.band") == F.col("y.band"))
                  & (F.col("x.bkey") == F.col("y.bkey"))
                  & (F.col("x.doc_id") < F.col("y.doc_id")))
            .select(F.col("x.doc_id").alias("a_id"),
                    F.col("y.doc_id").alias("b_id"))
            .distinct())
    withv = (cand
             .join(v.select(F.col("doc_id").alias("a_id"),
                            F.col("vec").alias("a_vec"),
                            F.col("nrm").alias("a_nrm")), "a_id")
             .join(v.select(F.col("doc_id").alias("b_id"),
                            F.col("vec").alias("b_vec"),
                            F.col("nrm").alias("b_nrm")), "b_id"))
    cosine = _dot(F.col("a_vec"), F.col("b_vec")) \
        / (F.col("a_nrm") * F.col("b_nrm"))
    return (withv.withColumn("cosine", cosine)
            .filter(F.col("cosine") >= threshold)
            .select("a_id", "b_id", "cosine"))
