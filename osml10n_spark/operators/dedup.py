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
- hash_dup_pairs:     banded Hamming pairs over a precomputed 64-bit
                      signature (image phash)
"""
from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = [
    "normalize_text", "exact_dedup", "shingles", "minhash_signature",
    "hash_dup_pairs",
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


def hash_dup_pairs(df: DataFrame, id_col: str, hash_col: str,
                   max_hamming: int = 3,
                   n_bands: int | None = None) -> DataFrame:
    """Near-dup pairs by Hamming distance over ANY precomputed 64-bit
    signature column (e.g. an image phash), banded: split the 64 bits
    into ``n_bands`` equal bands — by pigeonhole, any pair within
    hamming ≤ n_bands-1 shares at least one exact band, so candidate
    generation is a pure equi-join (no cross-join anywhere; EXACT for
    the threshold, not approximate).

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
