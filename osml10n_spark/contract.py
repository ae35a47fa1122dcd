"""Driver-contract queries + DuckDB oracle SQL (consumed by
__spark_entry__.py).

Every entry pairs one engine operator (SURVEY.md §2) with an
ANSI-SQL re-derivation DuckDB can run on the same parquet tables.
Column names and value derivations are kept bit-identical on both
sides (deterministic point/rect synthesis from integer keys, exact
decimal aggregation before double casts, floor-truncation instead of
round, md5-based portable hashing).  Every query has an oracle:
where the Spark side runs a kernel with no SQL equivalent (pixel
decoding, phash, transliteration) the oracle pins
literal values — computed driver-side by the same pure-python kernels,
or written as CASE literals — and re-derives the rest in SQL.
"""
from __future__ import annotations

import functools
import math
from collections.abc import Callable, Mapping
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .kernels.scripts import RE_CJK, RE_CYRILLIC, RE_NON_LATIN, RE_THAI
from .operators.dedup import exact_dedup, minhash_signature
from .operators.spatial import (assign_cells, cell_histogram, knn_cells,
                                pip_join)
from .udfs import (make_cascade_udf, udf_country_name, udf_street_abbrev,
                   udf_unaccent)

# ------------------------------------------------------------------ helpers

RE_NON_LATIN_DUCK = r"[^\x{0000}-\x{024F}]"
RE_CJK_DUCK = r"[\x{4E01}-\x{9FFE}]"
RE_CYR_DUCK = r"[\x{0401}-\x{04FE}]"
RE_THAI_DUCK = r"[\x{0E01}-\x{0E7E}]"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _points(spark, sf_dir):
    """Deterministic synthetic points from customer keys — identical
    expression text on the SQL side."""
    return _t(spark, sf_dir, "customer").selectExpr(
        "c_custkey AS id",
        "((c_custkey * 37) % 360) - 180 + 0.5 AS lon",
        "((c_custkey * 7) % 160) - 80 + 0.5 AS lat")


_PTS_SQL = ("SELECT c_custkey AS id, "
            "((c_custkey * 37) % 360) - 180 + 0.5 AS lon, "
            "((c_custkey * 7) % 160) - 80 + 0.5 AS lat FROM customer")

# Morton spread chain (shared by tile/cell oracles); x must be < 2^32.
_M1, _M2, _M3 = 281470681808895, 71777214294589695, 1085102592571150095
_M4, _M5 = 3689348814741910323, 6148914691236517205


def _spread_sql(steps_src: str, xin: str, yin: str) -> str:
    """CTE chain computing morton from integer columns xin/yin of
    ``steps_src`` (must expose them)."""
    return f"""
s1 AS (SELECT *, ({xin} | ({xin} << 16)) & {_M1} AS sx1,
                ({yin} | ({yin} << 16)) & {_M1} AS sy1 FROM {steps_src}),
s2 AS (SELECT *, (sx1 | (sx1 << 8)) & {_M2} AS sx2,
                (sy1 | (sy1 << 8)) & {_M2} AS sy2 FROM s1),
s3 AS (SELECT *, (sx2 | (sx2 << 4)) & {_M3} AS sx3,
                (sy2 | (sy2 << 4)) & {_M3} AS sy3 FROM s2),
s4 AS (SELECT *, (sx3 | (sx3 << 2)) & {_M4} AS sx4,
                (sy3 | (sy3 << 2)) & {_M4} AS sy4 FROM s3),
s5 AS (SELECT *, ((sx4 | (sx4 << 1)) & {_M5})
               | (((sy4 | (sy4 << 1)) & {_M5}) << 1) AS morton FROM s4)"""


_NORM_SQL = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"


# ------------------------------------------------------------------ queries

def q_cascade(spark, sf_dir):
    """W3/J3: localization priority cascade as a pure column plan."""
    n = _t(spark, sf_dir, "nation")
    name_de = F.when(F.col("n_nationkey") % 3 == 0,
                     F.concat(F.lit("Deutsch "), F.col("n_name")))
    gen_name = F.when(F.col("n_nationkey") % 4 == 1,
                      F.concat(F.lit("Кириллица "), F.col("n_name"))) \
        .otherwise(F.col("n_name"))
    int_name = F.when(F.col("n_nationkey") % 5 == 2,
                      F.concat(F.lit("Intl "), F.col("n_name")))
    name_en = F.when(F.col("n_nationkey") % 2 == 0,
                     F.concat(F.lit("English "), F.col("n_name")))
    latin = lambda c: F.when(~c.rlike(RE_NON_LATIN), c)
    cascade = F.coalesce(name_de, latin(gen_name), latin(int_name),
                         name_en, gen_name)
    return n.select(F.col("n_nationkey").alias("id"),
                    cascade.alias("caption_l10n")).orderBy("id")


Q_CASCADE_SQL = f"""
WITH v AS (
  SELECT n_nationkey AS id,
    CASE WHEN n_nationkey % 3 = 0 THEN 'Deutsch ' || n_name END AS name_de,
    CASE WHEN n_nationkey % 4 = 1 THEN 'Кириллица ' || n_name ELSE n_name END AS gen_name,
    CASE WHEN n_nationkey % 5 = 2 THEN 'Intl ' || n_name END AS int_name,
    CASE WHEN n_nationkey % 2 = 0 THEN 'English ' || n_name END AS name_en
  FROM nation)
SELECT id, COALESCE(name_de,
   CASE WHEN NOT regexp_matches(gen_name, '{RE_NON_LATIN_DUCK}') THEN gen_name END,
   CASE WHEN NOT regexp_matches(int_name, '{RE_NON_LATIN_DUCK}') THEN int_name END,
   name_en, gen_name) AS caption_l10n
FROM v ORDER BY id
"""


def q_script_flags(spark, sf_dir):
    """P1-P4 script classifiers as JVM predicates."""
    c = F.col("text")
    return _t(spark, sf_dir, "documents").select(
        "doc_id", (~c.rlike(RE_NON_LATIN)).alias("is_latin"),
        c.rlike(RE_CJK).alias("has_cjk"),
        c.rlike(RE_CYRILLIC).alias("has_cyrillic"),
        c.rlike(RE_THAI).alias("has_thai"))


Q_SCRIPT_FLAGS_SQL = f"""
SELECT doc_id,
  NOT regexp_matches(text, '{RE_NON_LATIN_DUCK}') AS is_latin,
  regexp_matches(text, '{RE_CJK_DUCK}') AS has_cjk,
  regexp_matches(text, '{RE_CYR_DUCK}') AS has_cyrillic,
  regexp_matches(text, '{RE_THAI_DUCK}') AS has_thai
FROM documents
"""


def q_unaccent(spark, sf_dir):
    """F1 unaccent kernel vs DuckDB strip_accents (same decomposition
    semantics on latin corpora; ß preserved on both sides)."""
    n = _t(spark, sf_dir, "nation")
    corpus = F.concat(F.lit("Besançon-München-"), F.col("n_name"))
    return n.select(F.col("n_nationkey").alias("id"),
                    udf_unaccent(corpus).alias("unaccented"))


Q_UNACCENT_SQL = """
SELECT n_nationkey AS id,
       strip_accents('Besançon-München-' || n_name) AS unaccented
FROM nation
"""


def q_abbrev_ru(spark, sf_dir):
    """F6 russian street abbreviation (sequential literal replaces)."""
    n = _t(spark, sf_dir, "nation")
    longname = (F.when(F.col("n_nationkey") % 4 == 0,
                       F.concat(F.lit("улица "), F.col("n_name")))
                .when(F.col("n_nationkey") % 4 == 1,
                      F.concat(F.col("n_name"), F.lit(" проспект")))
                .when(F.col("n_nationkey") % 4 == 2,
                      F.concat(F.lit("набережная "), F.col("n_name")))
                .otherwise(F.concat(F.lit("тупик "), F.col("n_name"))))
    return n.select(F.col("n_nationkey").alias("id"),
                    udf_street_abbrev(longname, F.lit("ru")).alias("abbrev"))


Q_ABBREV_RU_SQL = """
WITH c AS (SELECT n_nationkey AS id,
  CASE n_nationkey % 4
    WHEN 0 THEN 'улица ' || n_name
    WHEN 1 THEN n_name || ' проспект'
    WHEN 2 THEN 'набережная ' || n_name
    ELSE 'тупик ' || n_name END AS longname
  FROM nation)
SELECT id,
  replace(replace(replace(replace(replace(replace(replace(replace(
    longname, 'переулок', 'пер.'), 'тупик', 'туп.'), 'улица', 'ул.'),
    'бульвар', 'бул.'), 'площадь', 'пл.'), 'проспект', 'просп.'),
    'спуск', 'сп.'), 'набережная', 'наб.') AS abbrev
FROM c
"""


def q_abbrev_uk(spark, sf_dir):
    """F7 ukrainian street abbreviation (literal substring replaces)."""
    n = _t(spark, sf_dir, "nation")
    longname = (F.when(F.col("n_nationkey") % 4 == 0,
                       F.concat(F.lit("провулок "), F.col("n_name")))
                .when(F.col("n_nationkey") % 4 == 1,
                      F.concat(F.col("n_name"), F.lit(" вулиця")))
                .when(F.col("n_nationkey") % 4 == 2,
                      F.concat(F.lit("площа "), F.col("n_name")))
                .otherwise(F.concat(F.col("n_name"), F.lit(" набережна"))))
    return n.select(F.col("n_nationkey").alias("id"),
                    udf_street_abbrev(longname, F.lit("uk")).alias("abbrev"))


Q_ABBREV_UK_SQL = """
SELECT n_nationkey AS id,
  CASE n_nationkey % 4
    WHEN 0 THEN 'пров. ' || n_name
    WHEN 1 THEN n_name || ' вул.'
    WHEN 2 THEN 'пл. ' || n_name
    ELSE n_name || ' наб.' END AS abbrev
FROM nation
"""


def q_abbrev_all(spark, sf_dir):
    """F8-F10 abbreviator compositions (latin ∘ non_latin): mixed-script
    street names through street_abbrev_all."""
    n = _t(spark, sf_dir, "nation")
    longname = (F.when(F.col("n_nationkey") % 4 == 0,
                       F.concat(F.lit("улица "), F.col("n_name"),
                                F.lit(" Street")))
                .when(F.col("n_nationkey") % 4 == 1,
                      F.concat(F.lit("Professor-"), F.col("n_name"),
                               F.lit("-Platz Road")))
                .when(F.col("n_nationkey") % 4 == 2,
                      F.concat(F.lit("Avenue "), F.col("n_name")))
                .otherwise(F.concat(F.lit("вулиця "), F.col("n_name"),
                                    F.lit(" Straße"))))
    return n.select(F.col("n_nationkey").alias("id"),
                    udf_street_abbrev(longname, F.lit("all")).alias("abbrev"))


Q_ABBREV_ALL_SQL = """
SELECT n_nationkey AS id,
  CASE n_nationkey % 4
    WHEN 0 THEN 'ул. ' || n_name || ' St.'
    WHEN 1 THEN 'Prof.-' || n_name || '-Pl. Rd.'
    WHEN 2 THEN 'Av. ' || n_name
    ELSE 'вул. ' || n_name || ' Str.' END AS abbrev
FROM nation
"""


def _nation_rects(spark, sf_dir):
    """Shared synthetic 15°×15° PiP rectangles from nation keys, packed
    as polygons.  The *53/*29 multipliers are embedded verbatim in
    Q_PIP_SQUARES_SQL — the one oracle all three q_pip_* physical
    plans share — and in Q_POLYGON_COVER_SQL, so the derivation lives
    in exactly one place on the Spark side too."""
    from .spatial.geometry import pack_rect
    out = []
    for r in _t(spark, sf_dir, "nation").collect():
        x0 = ((r.n_nationkey * 53) % 300) - 170.0
        y0 = ((r.n_nationkey * 29) % 140) - 80.0
        out.append(pack_rect(r.n_name, x0, y0, x0 + 15.0, y0 + 15.0))
    return out


def q_pip_squares(spark, sf_dir):
    """J1 point-in-polygon join against caller polygons (synthetic
    squares from nation keys) — ray-cast on the Spark side, range
    predicates in the oracle."""
    pts = _points(spark, sf_dir)
    return pip_join(pts, _nation_rects(spark, sf_dir)) \
        .select(F.col("id").alias("pid"), "cc")


Q_PIP_SQUARES_SQL = f"""
WITH pts AS ({_PTS_SQL}),
sq AS (SELECT n_name AS cc,
  ((n_nationkey * 53) % 300) - 170.0 AS xmin,
  ((n_nationkey * 29) % 140) - 80.0 AS ymin FROM nation)
SELECT p.id AS pid, COALESCE(MIN(s.cc), '') AS cc
FROM pts p LEFT JOIN sq s
  ON p.lon > s.xmin AND p.lon < s.xmin + 15.0
 AND p.lat > s.ymin AND p.lat < s.ymin + 15.0
GROUP BY p.id
"""



def q_pip_cover(spark, sf_dir):
    """J1 via the cover equi-join strategy (interior cells = pure
    broadcast hash join, boundary cells = targeted ray-cast) — same
    semantics and ORACLE as q_pip_squares, different physical plan."""
    from .operators.spatial import pip_join_via_cover
    pts = _points(spark, sf_dir)
    return pip_join_via_cover(pts, _nation_rects(spark, sf_dir),
                              res=8).select("pid", "cc")


def q_pip_hexcover(spark, sf_dir):
    """J1 via the HEX cover equi-join — third physical plan for the
    same PiP semantics and oracle (hex covers have no corner
    over-reach, shrinking the ray-cast boundary fraction); exactness
    is cover-soundness + targeted refinement, identical to the quad
    path."""
    from .operators.spatial import pip_join_via_cover
    pts = _points(spark, sf_dir)
    return pip_join_via_cover(pts, _nation_rects(spark, sf_dir), res=7,
                              cell_family="hex").select("pid", "cc")


def q_knn_geo(spark, sf_dir):
    """J5/W5: kNN via cell k-ring expansion + exact refine (the scale
    path), checked against a brute-force SQL oracle."""
    pts = _points(spark, sf_dir)
    q = pts.filter(F.col("id") % 29 == 0)
    return knn_cells(q, pts, 5, res=5, qid_col="id", iid_col="id") \
        .select("qid", "iid", "rank")


Q_KNN_GEO_SQL = f"""
WITH pts AS ({_PTS_SQL}),
q AS (SELECT * FROM pts WHERE id % 29 = 0),
pairs AS (SELECT q.id AS qid, i.id AS iid,
  (q.lon - i.lon) * (q.lon - i.lon) + (q.lat - i.lat) * (q.lat - i.lat) AS dist2
  FROM q CROSS JOIN pts i),
r AS (SELECT qid, iid,
  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist2 ASC, iid ASC) AS rank
  FROM pairs)
SELECT qid, iid, rank FROM r WHERE rank <= 5
"""


def q_tile_assign(spark, sf_dir):
    """J6: raster tile assignment via z-order bit interleave."""
    pts = _points(spark, sf_dir)
    from .spatial.cellexpr import tile_expr
    tiled = pts.withColumn("tile_id", tile_expr(F.col("lon"), F.col("lat"), 8, 16))
    return tiled.groupBy("tile_id").agg(F.count("*").alias("n"))


Q_TILE_ASSIGN_SQL = f"""
WITH pts AS ({_PTS_SQL}),
g AS (SELECT id,
  LEAST(GREATEST(CAST(floor((lon + 180.0) / 360.0 * 65536) AS BIGINT), 0), 65535) AS tx,
  LEAST(GREATEST(CAST(floor((90.0 - lat) / 180.0 * 65536) AS BIGINT), 0), 65535) AS ty
  FROM pts),
{_spread_sql('g', 'tx', 'ty')}
SELECT ((8::BIGINT << 58) | (morton >> 16)) AS tile_id, COUNT(*) AS n
FROM s5 GROUP BY 1
"""


def q_cell_histogram(spark, sf_dir):
    """A4: per-cell histogram (skew detection input)."""
    pts = _points(spark, sf_dir)
    return cell_histogram(assign_cells(pts, res=6)) \
        .select("cell_id", "n_rows")


Q_CELL_HISTOGRAM_SQL = f"""
WITH pts AS ({_PTS_SQL}),
g AS (SELECT id,
  LEAST(GREATEST(CAST(floor((lon + 180.0) / 360.0 * 128) AS BIGINT), 0), 127) AS tx,
  LEAST(GREATEST(CAST(floor((lat + 90.0) / 180.0 * 64) AS BIGINT), 0), 63) AS ty
  FROM pts),
{_spread_sql('g', 'tx', 'ty')}
SELECT ((6::BIGINT << 58) | morton) AS cell_id, COUNT(*) AS n_rows
FROM s5 GROUP BY 1
"""


def q_cell_density(spark, sf_dir):
    """k-ring smoothed per-cell density (the skew/salting heat input):
    convolution runs on the histogram, not the rows — scatter each
    occupied cell's count to its ring (lon wraps, lat drops; exact
    k_ring semantics) and sum per receiving cell.  Oracle re-derives
    the same scatter with a generate_series offset cross join and the
    shared morton spread chain."""
    from .operators.spatial import cell_density
    pts = _points(spark, sf_dir)
    return cell_density(pts, res=6, k=2).select("cell_id", "density")


Q_CELL_DENSITY_SQL = f"""
WITH pts AS ({_PTS_SQL}),
g AS (SELECT id,
  LEAST(GREATEST(CAST(floor((lon + 180.0) / 360.0 * 128) AS BIGINT), 0), 127) AS px,
  LEAST(GREATEST(CAST(floor((lat + 90.0) / 180.0 * 64) AS BIGINT), 0), 63) AS py
  FROM pts),
h AS (SELECT px, py, COUNT(*) AS n FROM g GROUP BY 1, 2),
nb AS (
  SELECT ((h.px + dx.v + 128) % 128) AS tx, h.py + dy.v AS ty, h.n
  FROM h,
       (SELECT unnest(generate_series(-2, 2)) AS v) dx,
       (SELECT unnest(generate_series(-2, 2)) AS v) dy
  WHERE h.py + dy.v BETWEEN 0 AND 63),
a AS (SELECT tx, ty, CAST(SUM(n) AS BIGINT) AS density FROM nb GROUP BY 1, 2),
{_spread_sql('a', 'tx', 'ty')}
SELECT ((6::BIGINT << 58) | morton) AS cell_id, density FROM s5
"""


def q_exact_dedup(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = d.unionAll(d.filter(F.col("doc_id") < 5))
    return exact_dedup(doubled, "doc_id", "text")


Q_EXACT_DEDUP_SQL = rf"""
WITH all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id, text FROM documents WHERE doc_id < 5),
k AS (SELECT doc_id, md5({_NORM_SQL}) AS dup_key FROM all_docs)
SELECT dup_key, MIN(doc_id) AS keep_id, COUNT(*) AS group_size
FROM k GROUP BY dup_key HAVING COUNT(*) > 1
"""


def q_minhash(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return minhash_signature(d, "doc_id", "text", n=5, bands=4)


Q_MINHASH_SQL = rf"""
WITH norm AS (SELECT doc_id, {_NORM_SQL} AS t FROM documents),
ix AS (SELECT doc_id, t,
  unnest(generate_series(1, GREATEST(length(t) - 4, 1))) AS i FROM norm),
sh AS (SELECT doc_id, substr(t, CAST(i AS INTEGER), 5) AS sg FROM ix),
b AS (SELECT unnest([0, 1, 2, 3]) AS band)
SELECT doc_id, band, MIN(md5(band::VARCHAR || '|' || sg)) AS minhash
FROM sh CROSS JOIN b GROUP BY doc_id, band
"""


def q_levenshtein_pairs(spark, sf_dir):
    """F11/A1: Levenshtein-threshold pair dedup (char-based built-in;
    the byte-based reference parity shim is golden-tested separately)."""
    n = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("k"), F.col("n_name").alias("nm"))
    a, b = n.alias("a"), n.alias("b")
    return (a.join(b, F.col("a.k") < F.col("b.k"))
            .withColumn("dist", F.levenshtein(F.col("a.nm"), F.col("b.nm")))
            .filter(F.col("dist") <= 5)
            .select(F.col("a.k").alias("a_id"), F.col("b.k").alias("b_id"),
                    "dist"))


Q_LEVENSHTEIN_SQL = """
SELECT a.n_nationkey AS a_id, b.n_nationkey AS b_id,
       levenshtein(a.n_name, b.n_name) AS dist
FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey
WHERE levenshtein(a.n_name, b.n_name) <= 5
"""


def q_abbrev_de(spark, sf_dir):
    """F3 german abbreviation: position guards (>2), title prefixes,
    and the position-1 quirk (Platzhirschweg untouched)."""
    n = _t(spark, sf_dir, "nation")
    longname = (F.when(F.col("n_nationkey") % 4 == 0,
                       F.concat(F.col("n_name"), F.lit("straße")))
                .when(F.col("n_nationkey") % 4 == 1,
                      F.concat(F.lit("Professor-"), F.col("n_name"),
                               F.lit("-Platz")))
                .when(F.col("n_nationkey") % 4 == 2, F.lit("Platzhirschweg"))
                .otherwise(F.concat(F.col("n_name"), F.lit(" Gasse"))))
    return n.select(F.col("n_nationkey").alias("id"),
                    udf_street_abbrev(longname, F.lit("de")).alias("abbrev"))


Q_ABBREV_DE_SQL = """
SELECT n_nationkey AS id,
  CASE n_nationkey % 4
    WHEN 0 THEN n_name || 'str.'
    WHEN 1 THEN 'Prof.-' || n_name || '-Pl.'
    WHEN 2 THEN 'Platzhirschweg'
    ELSE n_name || ' G.' END AS abbrev
FROM nation
"""


def q_abbrev_en(spark, sf_dir):
    """F4 english abbreviation: first-match suffix ladder + the
    string-initial Avenue exclusion."""
    n = _t(spark, sf_dir, "nation")
    longname = (F.when(F.col("n_nationkey") % 5 == 0,
                       F.concat(F.col("n_name"), F.lit(" Street")))
                .when(F.col("n_nationkey") % 5 == 1,
                      F.concat(F.col("n_name"), F.lit(" Avenue")))
                .when(F.col("n_nationkey") % 5 == 2,
                      F.concat(F.lit("Avenue "), F.col("n_name")))
                .when(F.col("n_nationkey") % 5 == 3,
                      F.concat(F.col("n_name"), F.lit(" Boulevard")))
                .otherwise(F.concat(F.col("n_name"), F.lit(" Parkway"))))
    return n.select(F.col("n_nationkey").alias("id"),
                    udf_street_abbrev(longname, F.lit("en")).alias("abbrev"))


Q_ABBREV_EN_SQL = """
SELECT n_nationkey AS id,
  CASE n_nationkey % 5
    WHEN 0 THEN n_name || ' St.'
    WHEN 1 THEN n_name || ' Ave.'
    WHEN 2 THEN 'Avenue ' || n_name
    WHEN 3 THEN n_name || ' Blvd.'
    ELSE n_name || ' Pkwy.' END AS abbrev
FROM nation
"""


def q_abbrev_fr(spark, sf_dir):
    """F5 french abbreviation: string-initial-only anchored ladder."""
    n = _t(spark, sf_dir, "nation")
    longname = (F.when(F.col("n_nationkey") % 4 == 0,
                       F.concat(F.lit("Avenue "), F.col("n_name")))
                .when(F.col("n_nationkey") % 4 == 1,
                      F.concat(F.lit("Boulevard "), F.col("n_name")))
                .when(F.col("n_nationkey") % 4 == 2,
                      F.concat(F.col("n_name"), F.lit(" Avenue")))
                .otherwise(F.concat(F.lit("Impasse "), F.col("n_name"))))
    return n.select(F.col("n_nationkey").alias("id"),
                    udf_street_abbrev(longname, F.lit("fr")).alias("abbrev"))


Q_ABBREV_FR_SQL = """
SELECT n_nationkey AS id,
  CASE n_nationkey % 4
    WHEN 0 THEN 'Av. ' || n_name
    WHEN 1 THEN 'Bd ' || n_name
    WHEN 2 THEN n_name || ' Avenue'
    ELSE 'Imp. ' || n_name END AS abbrev
FROM nation
"""


def q_country_name(spark, sf_dir):
    """C5 get_country_name: official-language candidates (BE: nl,fr,de)
    with byte-Levenshtein≤1 dedup — 'Belgien-*' collapses into
    'Belgie-*' on even keys, 'Deutsch-*' survives on odd keys.
    Exploded to (id, pos, cname) rows for portable hashing."""
    n = _t(spark, sf_dir, "nation")
    tags = F.create_map(
        F.lit("ISO3166-1:alpha2"), F.lit("BE"),
        F.lit("name:en"), F.concat(F.lit("Belgium-"), F.col("n_name")),
        F.lit("name:nl"), F.concat(F.lit("Belgie-"), F.col("n_name")),
        F.lit("name:fr"), F.concat(F.lit("Belgique-"), F.col("n_name")),
        F.lit("name:de"),
        F.when(F.col("n_nationkey") % 2 == 0,
               F.concat(F.lit("Belgien-"), F.col("n_name")))
        .otherwise(F.concat(F.lit("Deutsch-"), F.col("n_name"))))
    arr = udf_country_name(tags, F.lit("en"), F.lit(False))
    return (n.select(F.col("n_nationkey").alias("id"),
                     F.posexplode(arr).alias("pos", "cname")))


Q_COUNTRY_NAME_SQL = """
WITH base AS (SELECT n_nationkey AS id, n_name FROM nation),
names AS (
  SELECT id, 0 AS pos, 'Belgium-' || n_name AS cname FROM base
  UNION ALL SELECT id, 1, 'Belgie-' || n_name FROM base
  UNION ALL SELECT id, 2, 'Belgique-' || n_name FROM base
  UNION ALL SELECT id, 3, 'Deutsch-' || n_name FROM base WHERE id % 2 = 1)
SELECT id, ROW_NUMBER() OVER (PARTITION BY id ORDER BY pos) - 1 AS pos, cname
FROM names
"""


def q_placename_bilingual(spark, sf_dir):
    """C2/C3b/C4 combined-name heuristic with an exact oracle: the
    localized tag is found inside the generic name at a boundary, the
    name:it variant is extracted by position, and the pair is formatted
    with U+202A/U+202C LTR embedding marks."""
    n = _t(spark, sf_dir, "nation")
    tags = F.create_map(
        F.lit("name:de"), F.concat(F.lit("Ober"), F.col("n_name")),
        F.lit("name:it"), F.concat(F.lit("Bassa"), F.col("n_name")),
        F.lit("name"), F.concat(F.lit("Bassa"), F.col("n_name"),
                                F.lit(" / Ober"), F.col("n_name")))
    out = make_cascade_udf("placename", "de", False, "\n")(
        F.to_json(tags), F.lit(None).cast("double"),
        F.lit(None).cast("double"))
    return n.select(F.col("n_nationkey").alias("id"),
                    out.alias("combined"))


Q_PLACENAME_BILINGUAL_SQL = """
SELECT n_nationkey AS id,
  chr(8234) || 'Ober' || n_name || chr(10) || 'Bassa' || n_name || chr(8236)
    AS combined
FROM nation
"""


def q_snapshot_compact(spark, sf_dir):
    """Snapshot compaction through the gate: three epoch commits of
    disjoint nation slices rewrite into ONE compacted snapshot; the
    table read AFTER compaction must carry exactly the source rows
    (full value oracle — the rewrite is lossless) and the in-query
    ``n_files`` invariant proves the replaced-snapshot bookkeeping
    routed the reader to the single compacted file."""
    import os
    import tempfile
    import uuid

    from .engine.snapshots import SnapshotStore
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name",
                                           "n_regionkey")
    root = os.path.join(tempfile.gettempdir(),
                        "osml10n_gate_compact_" + uuid.uuid4().hex[:12])
    store = SnapshotStore(root)
    for i in range(3):
        store.commit(n.filter(F.col("n_nationkey") % 3 == i), [i],
                     metrics={"epoch": i})
    cm = store.compact(spark)
    out = store.committed_output(spark)
    return out.select("n_nationkey", "n_name", "n_regionkey",
                      F.lit(len(out.inputFiles())).alias("n_files"),
                      F.lit(cm is not None).alias("compacted"))


Q_SNAPSHOT_COMPACT_SQL = """
SELECT n_nationkey, n_name, n_regionkey, 1 AS n_files, TRUE AS compacted
FROM nation
"""


def q_combined_quirks(spark, sf_dir):
    """F21 Lua-pattern escaping quirks with a CASE-literal oracle: the
    reference's crude metachar substitutions before the in-name search
    (get_localized_name_from_tags.lua:144 — %W properly %%-escaped for
    the LOCAL tag; :185-186 — '.'→'::' and '[]()%+*?^$'→'@' for the
    ADDITIONAL tags, deliberately breaking the match) decide which
    branch each constructed row takes:
      0 hyphen in LOCAL name  → properly escaped, found → combined pair
      1 dot in additional tag → '::' mangles the search → tag dropped
      2 brackets in add. tag  → '@' mangles the search → tag dropped
      3 slash-separated pair  → both found → positional combined pair
      4 clean pair            → classic Bolzano/Bozen positional order"""
    n = _t(spark, sf_dir, "nation")
    m = F.col("n_nationkey") % 5
    tags = (
        F.when(m == 0, F.create_map(
            F.lit("name"), F.lit("Porto-Novo - Hogbonu"),
            F.lit("name:de"), F.lit("Porto-Novo"),
            F.lit("name:yo"), F.lit("Hogbonu")))
        .when(m == 1, F.create_map(
            F.lit("name"), F.lit("St. Anton - Sankt Anton"),
            F.lit("name:de"), F.lit("Sankt Anton"),
            F.lit("name:it"), F.lit("St. Anton")))
        .when(m == 2, F.create_map(
            F.lit("name"), F.lit("Plaza [M] - Platz M"),
            F.lit("name:de"), F.lit("Platz M"),
            F.lit("name:es"), F.lit("Plaza [M]")))
        .when(m == 3, F.create_map(
            F.lit("name"), F.lit("Biel/Bienne"),
            F.lit("name:de"), F.lit("Biel"),
            F.lit("name:fr"), F.lit("Bienne")))
        .otherwise(F.create_map(
            F.lit("name"), F.lit("Bolzano - Bozen"),
            F.lit("name:de"), F.lit("Bozen"),
            F.lit("name:it"), F.lit("Bolzano"))))
    out = make_cascade_udf("placename", "de", False, "\n")(
        F.to_json(tags), F.lit(None).cast("double"),
        F.lit(None).cast("double"))
    return n.select(F.col("n_nationkey").alias("id"),
                    out.alias("combined"))


Q_COMBINED_QUIRKS_SQL = """
SELECT n_nationkey AS id, CASE n_nationkey % 5
  WHEN 0 THEN chr(8234) || 'Porto-Novo' || chr(10) || 'Hogbonu' || chr(8236)
  WHEN 1 THEN 'Sankt Anton'
  WHEN 2 THEN 'Platz M'
  WHEN 3 THEN chr(8234) || 'Biel' || chr(10) || 'Bienne' || chr(8236)
  ELSE chr(8234) || 'Bozen' || chr(10) || 'Bolzano' || chr(8236)
  END AS combined
FROM nation
"""


def q_localize_latin(spark, sf_dir):
    """Flagship pipeline with a full oracle on the latin subset:
    latin-caption rows pass the cascade unchanged, and cell/tile ids are
    pure morton bit-math — end-to-end plumbing verified value-exact."""
    from .engine.localize import localize
    d = _t(spark, sf_dir, "documents") \
        .filter(~F.substring(F.col("text"), 1, 48).rlike(RE_NON_LATIN))
    staged = d.select(
        F.concat(F.lit("doc_"), F.col("doc_id").cast("string")).alias("image_id"),
        F.substring(F.col("text"), 1, 48).alias("caption"),
        F.create_map(F.lit("name"), F.substring(F.col("text"), 1, 48)).alias("tags"),
        (((F.col("doc_id") * 37) % 360) - 180 + 0.5).alias("lon"),
        (((F.col("doc_id") * 7) % 160) - 80 + 0.5).alias("lat"))
    return localize(staged, "de").select("image_id", "caption_l10n",
                                         "cell_id", "tile_id")


Q_LOCALIZE_LATIN_SQL = f"""
WITH d AS (SELECT doc_id, substr(text, 1, 48) AS cap FROM documents
           WHERE NOT regexp_matches(substr(text, 1, 48), '{RE_NON_LATIN_DUCK}')),
p AS (SELECT doc_id, cap,
  ((doc_id * 37) % 360) - 180 + 0.5 AS lon,
  ((doc_id * 7) % 160) - 80 + 0.5 AS lat FROM d),
gc AS (SELECT doc_id, cap, lon, lat,
  LEAST(GREATEST(CAST(floor((lon + 180.0) / 360.0 * 1024) AS BIGINT), 0), 1023) AS cx,
  LEAST(GREATEST(CAST(floor((lat + 90.0) / 180.0 * 512) AS BIGINT), 0), 511) AS cy
  FROM p),
{_spread_sql('gc', 'cx', 'cy')},
cells AS (SELECT doc_id, cap, lon, lat,
  ((9::BIGINT << 58) | morton) AS cell_id FROM s5),
gt AS (SELECT doc_id, cap, cell_id,
  LEAST(GREATEST(CAST(floor((lon + 180.0) / 360.0 * 65536) AS BIGINT), 0), 65535) AS cx,
  LEAST(GREATEST(CAST(floor((90.0 - lat) / 180.0 * 65536) AS BIGINT), 0), 65535) AS cy
  FROM cells),
{_spread_sql('gt', 'cx', 'cy').replace('s1 AS', 't1 AS').replace('s2 AS', 't2 AS')
    .replace('s3 AS', 't3 AS').replace('s4 AS', 't4 AS').replace('s5 AS', 't5 AS')
    .replace('FROM s1', 'FROM t1').replace('FROM s2', 'FROM t2')
    .replace('FROM s3', 'FROM t3').replace('FROM s4', 'FROM t4')}
SELECT 'doc_' || doc_id AS image_id, cap AS caption_l10n, cell_id,
  ((8::BIGINT << 58) | (morton >> 16)) AS tile_id
FROM t5
"""


def q_payload_audit(spark, sf_dir):
    """input_hint integrity invariant as a driver-visible query: decode
    every synthesized payload, recompute phash, assert-match against
    the stored value (lossless fmts) / decode-viability (jpegq).  All
    rows must come back ok=true; PSNR≥40dB is separately pytest-gated.
    ``ok_frac`` is the in-query self-check (expected 1.0 on every row)
    so the gate record carries the invariant VALUE, not just a count
    (whole-frame window: fine at gate scale, 300 rows).  Every 4th row
    is re-containered as REAL PNG (zlib/CRC/filter codec) — its ok
    flag demands decoded-phash equality like any lossless format — and
    every 5th as REAL baseline JPEG (jpegcodec.py DCT+Huffman; lossy,
    so its ok flag is decode viability like jpegq) — both spec codecs
    value-audited in-gate, not just pytest-gated.
    FULL replay-literal oracle: DuckDB re-derives ok from
    independently-replayed (stored phash, decoded phash) literal pairs
    — the ok logic itself runs in SQL, not just an echo."""
    from .operators.multimodal import verify_payload
    from .sources.datagen import generate_images
    imgs = generate_images(spark, 300, seed=7, png_every=4, jpeg_every=5)
    w = Window.partitionBy(F.lit(1))
    return verify_payload(imgs).select(
        "image_id", "fmt", "ok",
        F.round(F.avg(F.col("ok").cast("double")).over(w), 4)
        .alias("ok_frac"))


def q_radius_join(spark, sf_dir):
    """Distance-range spatial join (all pairs within 2°) via ring-1
    cell equi-join + exact refine — no cross join."""
    from .operators.spatial import radius_join
    pts = _points(spark, sf_dir)
    sample = pts.filter(F.col("id") % 17 == 0)
    # dist2 is exact-decimal on both sides but with engine-specific
    # precision/scale; hash over a DOUBLE (same nearest-double of the
    # same exact rational) so representation can't diverge
    return radius_join(sample, pts, 2.0, lid_col="id", rid_col="id") \
        .withColumn("dist2", F.col("dist2").cast("double"))


Q_RADIUS_JOIN_SQL = f"""
WITH pts AS ({_PTS_SQL}),
sample AS (SELECT * FROM pts WHERE id % 17 = 0)
SELECT s.id AS lid, p.id AS rid,
  CAST((s.lon - p.lon) * (s.lon - p.lon)
       + (s.lat - p.lat) * (s.lat - p.lat) AS DOUBLE) AS dist2
FROM sample s CROSS JOIN pts p
WHERE (s.lon - p.lon) * (s.lon - p.lon) + (s.lat - p.lat) * (s.lat - p.lat)
      <= 4.0
"""


def q_polygon_cover(spark, sf_dir):
    """Polygon covering index (J1 scale path / J6): sound cell cover of
    synthetic rectangles from nation keys at res 6 — for axis-aligned
    rects the cover is exactly the bbox cell window, its frame cells
    boundary and the rest interior, so SQL can re-derive it including
    the packed morton ids."""
    from .operators.spatial import polygon_cover_table
    return polygon_cover_table(spark, _nation_rects(spark, sf_dir), res=6)


Q_POLYGON_COVER_SQL = f"""
WITH sq AS (SELECT n_name AS cc,
  ((n_nationkey * 53) % 300) - 170.0 AS x0,
  ((n_nationkey * 29) % 140) - 80.0 AS y0 FROM nation),
fr AS (SELECT cc, x0, y0,
  CAST(floor((x0 + 180.0) / 360.0 * 128) AS BIGINT) AS fx0,
  CAST(floor((x0 + 15.0 + 180.0) / 360.0 * 128) AS BIGINT) AS fx1,
  CAST(floor((y0 + 90.0) / 180.0 * 64) AS BIGINT) AS fy0,
  CAST(floor((y0 + 15.0 + 90.0) / 180.0 * 64) AS BIGINT) AS fy1 FROM sq),
cells AS (SELECT cc, x0, y0, fx0, fx1, fy0, fy1,
  unnest(generate_series(fx0, fx1)) AS cx FROM fr),
g AS (SELECT cc, x0, y0, fx0, fx1, fy0, fy1, cx,
  unnest(generate_series(fy0, fy1)) AS cy FROM cells),
{_spread_sql('g', 'cx', 'cy')}
SELECT cc, ((6::BIGINT << 58) | morton) AS cell_id,
  CASE WHEN cx IN (fx0, fx1) OR cy IN (fy0, fy1)
       THEN 'boundary' ELSE 'interior' END AS kind
FROM s5
"""


def q_streetname_bilingual(spark, sf_dir):
    """C3a street variant of the combined-name heuristic: per-tag
    language dispatch abbreviates the de side (straße→str.) while the
    it side passes through — formatted with ' - ' and LTR marks."""
    n = _t(spark, sf_dir, "nation")
    tags = F.create_map(
        F.lit("name:de"), F.concat(F.lit("Ober"), F.col("n_name"),
                                   F.lit("straße")),
        F.lit("name:it"), F.concat(F.lit("Bassa"), F.col("n_name"),
                                   F.lit("gasse")),
        F.lit("name"), F.concat(F.lit("Bassa"), F.col("n_name"),
                                F.lit("gasse / Ober"), F.col("n_name"),
                                F.lit("straße")))
    out = make_cascade_udf("streetname", "de", False, " - ")(
        F.to_json(tags), F.lit(None).cast("double"),
        F.lit(None).cast("double"))
    return n.select(F.col("n_nationkey").alias("id"), out.alias("combined"))


Q_STREETNAME_BILINGUAL_SQL = """
SELECT n_nationkey AS id,
  chr(8234) || 'Ober' || n_name || 'str. - Bassa' || n_name || 'gasse'
    || chr(8236) AS combined
FROM nation
"""


def q_sql_registered(spark, sf_dir):
    """S6 SQL bridge: the reference's PL/Python stored function becomes
    spark.sql-registered UDFs (osml10n_*) — the whole query runs through
    the SQL surface, not the DataFrame API."""
    from .udfs import register_all
    register_all(spark)
    _t(spark, sf_dir, "nation").createOrReplaceTempView("nation_v")
    return spark.sql("""
        SELECT n_nationkey AS id,
               osml10n_unaccent('Besançon-' || n_name) AS unaccented,
               osml10n_street_abbrev(n_name || ' Street', 'en') AS abbrev,
               osml10n_is_latin(n_name) AS latin
        FROM nation_v""")


Q_SQL_REGISTERED_SQL = """
SELECT n_nationkey AS id,
       strip_accents('Besançon-' || n_name) AS unaccented,
       n_name || ' St.' AS abbrev,
       TRUE AS latin
FROM nation
"""



def q_cell_rollup(spark, sf_dir):
    """Hierarchical cell rollup (hypertable-style multi-resolution
    aggregation): res-9 histogram rolled up to res-6 parents with pure
    JVM bit math (parent = res tag swap + morton >> 2*(9-6)) — no
    re-indexing of the points."""
    pts = _points(spark, sf_dir)
    fine = cell_histogram(assign_cells(pts, res=9))
    morton = F.col("cell_id").bitwiseAND(F.lit((1 << 58) - 1))
    parent = F.lit(6 << 58).bitwiseOR(F.shiftrightunsigned(morton, 6))
    return (fine.withColumn("parent_cell", parent)
            .groupBy("parent_cell")
            .agg(F.sum("n_rows").alias("n_rows"),
                 F.count("*").alias("n_child_cells")))


Q_CELL_ROLLUP_SQL = f"""
WITH pts AS ({_PTS_SQL}),
g AS (SELECT id,
  LEAST(GREATEST(CAST(floor((lon + 180.0) / 360.0 * 1024) AS BIGINT), 0), 1023) AS tx,
  LEAST(GREATEST(CAST(floor((lat + 90.0) / 180.0 * 512) AS BIGINT), 0), 511) AS ty
  FROM pts),
{_spread_sql('g', 'tx', 'ty')},
fine AS (SELECT ((9::BIGINT << 58) | morton) AS cell_id, COUNT(*) AS n_rows
         FROM s5 GROUP BY 1)
SELECT ((6::BIGINT << 58) | ((cell_id & {(1 << 58) - 1}) >> 6)) AS parent_cell,
       CAST(SUM(n_rows) AS BIGINT) AS n_rows, COUNT(*) AS n_child_cells
FROM fine GROUP BY 1
"""


# ------------------------------------------------------------ hex (H3-analog)
# SQL twin of spatial/hexindex.py: one floor(coord*1e6) per axis is the
# only FP step (bit-identical IEEE multiply in numpy/JVM/DuckDB); the
# band → zigzag-triangle → axial chain after it is pure BIGINT math, so
# the oracle reproduces the engine ids exactly.

_HEX_QUANT_SQL = ("CAST(floor(lon * 1000000.0) AS BIGINT) + 540000000 AS gx, "
                  "CAST(floor(lat * 1000000.0) AS BIGINT) + 450000000 AS gy")


def _hex_sql(src: str, xin: str, yin: str, res: int, p: str = "hx") -> str:
    """CTE chain assigning hex cell ids from offset-µdeg integer
    columns ``xin``/``yin`` of ``src``; final CTE ``{p}5`` exposes
    ``{p}_cell`` (and ``{p}_row``/``{p}_col`` for rollups)."""
    from .spatial.hexindex import hex_wu
    w, u = hex_wu(res)
    zz = f"({yin} + {u}) % {3 * u} >= {2 * u}"
    dy = f"(({yin} + {u}) % {3 * u}) - {2 * u}"
    return f"""
{p}1 AS (SELECT *, ({yin} + {u}) // {3 * u} AS {p}_band FROM {src}),
{p}2 AS (SELECT *, ({xin} - ({p}_band & 1) * {w} + {w}) % {2 * w} AS {p}_t FROM {p}1),
{p}3 AS (SELECT *, {p}_band + CASE WHEN {zz} AND NOT
    ({u} * {p}_t >= {w} * ({dy}) AND {u} * ({2 * w} - {p}_t) >= {w} * ({dy}))
  THEN 1 ELSE 0 END AS {p}_row FROM {p}2),
{p}4 AS (SELECT *, ({xin} - ({p}_row & 1) * {w} + {w}) // {2 * w} AS {p}_col FROM {p}3),
{p}5 AS (SELECT *, (({res}::BIGINT << 52)
  | (({p}_col - ({p}_row - ({p}_row & 1)) // 2) << 26) | {p}_row) AS {p}_cell
  FROM {p}4)"""


def q_hexcell_histogram(spark, sf_dir):
    """F24 hex half: per-hex-cell histogram (uniform-adjacency twin of
    q_cell_histogram) — assignment is a pure JVM int64 expression."""
    from .operators.spatial import assign_hexcells
    pts = _points(spark, sf_dir)
    return (assign_hexcells(pts, res=8)
            .groupBy("hexcell").agg(F.count("*").alias("n_rows")))


Q_HEXCELL_HISTOGRAM_SQL = f"""
WITH pts AS ({_PTS_SQL}),
g AS (SELECT id, {_HEX_QUANT_SQL} FROM pts),
{_hex_sql('g', 'gx', 'gy', 8)}
SELECT hx_cell AS hexcell, COUNT(*) AS n_rows FROM hx5 GROUP BY 1
"""


def q_hexcell_rollup(spark, sf_dir):
    """Hex multi-resolution rollup: res-9 histogram re-aggregated under
    res-7 parents (H3-parent semantics: the coarser cell containing the
    fine cell's exact integer center — replayed identically in SQL)."""
    from .operators.spatial import assign_hexcells
    from .spatial.cellexpr import hex_parent_expr
    pts = _points(spark, sf_dir)
    fine = (assign_hexcells(pts, res=9)
            .groupBy("hexcell").agg(F.count("*").alias("n_rows")))
    return (fine.withColumn("parent_cell",
                            hex_parent_expr(F.col("hexcell"), 9, 7))
            .groupBy("parent_cell")
            .agg(F.sum("n_rows").alias("n_rows"),
                 F.count("*").alias("n_child_cells")))


def _hex_rollup_sql() -> str:
    from .spatial.hexindex import hex_wu
    w9, u9 = hex_wu(9)
    return f"""
WITH pts AS ({_PTS_SQL}),
g AS (SELECT id, {_HEX_QUANT_SQL} FROM pts),
{_hex_sql('g', 'gx', 'gy', 9)},
fine AS (SELECT hx_cell, COUNT(*) AS n_rows FROM hx5 GROUP BY 1),
ctr AS (SELECT hx_cell, n_rows,
  {w9} * (2 * ((hx_cell >> 26) & {(1 << 26) - 1}) + (hx_cell & {(1 << 26) - 1})) AS cx,
  {3 * u9} * (hx_cell & {(1 << 26) - 1}) AS cy FROM fine),
{_hex_sql('ctr', 'cx', 'cy', 7, p='px')}
SELECT px_cell AS parent_cell, CAST(SUM(n_rows) AS BIGINT) AS n_rows,
       COUNT(*) AS n_child_cells
FROM px5 GROUP BY 1
"""


def q_hex_ring_join(spark, sf_dir):
    """Hex k-ring candidate join: points within axial distance 2 of
    each seed cell via a broadcast equi-join on driver-enumerated ring
    cells (3k(k+1)+1 per seed) — the hex twin of the quad k-ring
    candidate stage inside knn_cells.  The oracle recomputes membership
    through the independent axial distance formula
    (|dq|+|dr|+|dq+dr|)/2 ≤ k, so ring enumeration and adjacency
    semantics are value-pinned against each other."""
    from .operators.spatial import assign_hexcells, hex_ring_join
    pts = assign_hexcells(_points(spark, sf_dir), res=8)
    seeds = sorted({int(r[0]) for r in
                    pts.filter(F.col("id") % 97 == 0)
                    .select("hexcell").distinct().collect()})
    return hex_ring_join(pts, seeds, k=2)


Q_HEX_RING_JOIN_SQL = f"""
WITH pts AS ({_PTS_SQL}),
g AS (SELECT id, {_HEX_QUANT_SQL} FROM pts),
{_hex_sql('g', 'gx', 'gy', 8)},
cells AS (SELECT id, hx_cell FROM hx5),
seeds AS (SELECT DISTINCT hx_cell AS seed_cell FROM cells WHERE id % 97 = 0),
d AS (SELECT s.seed_cell,
  ((s.seed_cell >> 26) & {(1 << 26) - 1}) - ((c.hx_cell >> 26) & {(1 << 26) - 1}) AS dq,
  (s.seed_cell & {(1 << 26) - 1}) - (c.hx_cell & {(1 << 26) - 1}) AS dr
  FROM seeds s CROSS JOIN cells c)
SELECT seed_cell, COUNT(*) AS n_in_ring FROM d
WHERE abs(dq) + abs(dr) + abs(dq + dr) <= 4 GROUP BY 1
"""


# ------------------------------------------------------------------
# q_micro_kernels: ONE gate query promoting the six golden-only
# micro-kernels (P7 gate, P8 langcode, A2 candidate count, W2 tag
# sort, F20 capitalize/strip, F22 centroid quirk) to dedicated oracle
# rows.  Case inputs are shared constants so the Spark query and the
# oracle SQL read one source of truth.
_MK_P8 = [(1, "name"), (2, "name:de"), (3, "name:zh-Hant"), (4, "a:b:c"),
          (5, "name:"), (6, ":::"), (7, "name:ja_rm")]
_MK_W2 = [(1, ["name:ja_rm", "name:zh", "name:ko-Latn", "name"]),
          (2, ["name:yue_rm", "name:abc_rm", "name:ab-Latn",
               "name:abcd_rm", "name:AB-Latn"]),
          (3, []), (4, ["name:de", "alt_name"])]
_MK_F20 = [(1, "  tokyo tower  "), (2, "mIxEd cAsE"), (3, "100 abc"),
           (4, ""), (5, "X")]
_MK_F22 = [(1, [0.0, 10.0, 10.0, 30.0]), (2, [2.5, 3.5, 4.5, 8.5]),
           (3, [1.0, 2.0]), (4, None)]
_MK_P7 = [(1, "Main Street", 139.7, 35.68), (2, "東京タワー", 139.7, 35.68),
          (3, "北京", 116.4, 39.9), (4, "สถานีรถไฟ", 0.0, 0.0),
          (5, "東京", 0.0, 0.0), (6, None, 10.0, 50.0)]
_MK_A2 = [
    (1, {"ISO3166-1:alpha2": "BE", "name:en": "Belgium",
         "name:nl": "Belgie", "name:fr": "Belgique",
         "name:de": "Belgien"}, "en", False),
    (2, {"ISO3166-1:alpha2": "BE", "name:en": "Belgien",
         "name:nl": "Belgie", "name:fr": "Belgique",
         "name:de": "Belgien"}, "en", False),
    (3, {"ISO3166-1:alpha2": "DE", "name:de": "Deutschland",
         "name:en": "Germany"}, "en", False),
    (4, {"ISO3166-1:alpha2": "CH", "name:en": "Switzerland",
         "name:de": "Schweiz", "name:fr": "Suisse",
         "name:it": "Svizzera", "name:rm": "Svizra"}, "en", True),
]


def q_micro_kernels(spark, sf_dir):
    """Composite oracle for the six micro-kernels that were previously
    golden-only (pytest-pinned inside composite queries, no dedicated
    gate row): P8 langcode extraction
    (get_localized_name_from_tags.lua:44-52 — note the 'name:' →
    'name' trailing-colon quirk), W2 deterministic romanization-tag
    sort (:181), F20 capitalize/strip (geo-transcript-srv.py:155-158,
    via kanji_transcript on single-token latin runs), F22 bbox
    centroid with degradation quirks (geo_transcript.lua:19-35 —
    short/NULL bboxes collapse to (0,0)), P7 the CJK/Thai
    filter-before-join gate (geo-transcript-srv.py:268-275), and A2
    the candidate count surviving get_country_name's Levenshtein dedup
    (get_country_name.lua:75).  Output is (kernel, case_id, result) —
    P8/W2/F20/F22 are re-derived INDEPENDENTLY in DuckDB SQL; P7 (PiP
    geometry) and A2 (country-language dim) replay the pure-python
    kernels driver-side at oracle build (the replay-literal pattern —
    transport/plan integrity; kernel math is pytest-pinned)."""
    from .udfs import (udf_capitalize_strip as u_capstrip,
                       udf_centroid_quirk10 as u_centroid,
                       udf_country_gated, udf_country_name,
                       udf_langcode_from_tag as u_langcode,
                       udf_sorted_rm_tags as u_rm_sort)

    k = F.lit
    p8 = spark.createDataFrame(_MK_P8, "case_id long, tag string").coalesce(1) \
        .select(k("P8").alias("kernel"), "case_id",
                u_langcode("tag").alias("result"))
    w2 = spark.createDataFrame(_MK_W2, "case_id long, tags array<string>").coalesce(1) \
        .select(k("W2").alias("kernel"), "case_id",
                u_rm_sort("tags").alias("result"))
    f20 = spark.createDataFrame(_MK_F20, "case_id long, s string").coalesce(1) \
        .select(k("F20").alias("kernel"), "case_id",
                u_capstrip("s").alias("result"))
    f22 = spark.createDataFrame(_MK_F22, "case_id long, bbox array<double>").coalesce(1) \
        .select(k("F22").alias("kernel"), "case_id",
                u_centroid("bbox").alias("result"))
    p7 = spark.createDataFrame(
        _MK_P7, "case_id long, name string, lon double, lat double").coalesce(1) \
        .select(k("P7").alias("kernel"), "case_id",
                udf_country_gated("name", "lon", "lat").alias("result"))
    a2 = spark.createDataFrame(
        _MK_A2,
        "case_id long, tags map<string,string>, target string, app boolean").coalesce(1) \
        .select(k("A2").alias("kernel"), "case_id",
                F.size(udf_country_name("tags", "target", "app"))
                .cast("string").alias("result"))
    return (p8.unionAll(w2).unionAll(f20).unionAll(f22).unionAll(p7)
            .unionAll(a2).orderBy("kernel", "case_id"))


def _micro_kernels_sql() -> str:
    """Oracle for q_micro_kernels: P8/W2/F20/F22 derived in DuckDB SQL
    from the shared case constants; P7/A2 probed from the pure-python
    kernels here (geometry / language-dim lookups have no SQL twin)."""
    import numpy as np

    from .kernels.names import get_country_name
    from .kernels.scripts import contains_cjk, contains_thai
    from .spatial.prepared import default_lookup

    def sq(s):
        return "'" + s.replace("'", "''") + "'"

    p8_vals = ", ".join(f"({cid}, {sq(tag)})" for cid, tag in _MK_P8)
    w2_vals = ", ".join(
        "({}, {})".format(cid, "CAST([] AS VARCHAR[])" if not tags else
                          "[" + ", ".join(sq(t) for t in tags) + "]")
        for cid, tags in _MK_W2)
    f20_vals = ", ".join(f"({cid}, {sq(s)})" for cid, s in _MK_F20)
    f22_vals = ", ".join(
        "({}, {})".format(cid, "CAST(NULL AS DOUBLE[])" if bbox is None
                          else "[" + ", ".join(repr(v) for v in bbox) + "]")
        for cid, bbox in _MK_F22)
    prep = default_lookup()
    p7_rows = []
    for cid, nm, lon, lat in _MK_P7:
        if nm is not None and contains_cjk(nm):
            cc = prep.lookup(np.array([lon]), np.array([lat]))[0]
        elif nm is not None and contains_thai(nm):
            cc = "th"
        else:
            cc = ""
        p7_rows.append(f"({cid}, {sq(cc or '')})")
    p7_vals = ", ".join(p7_rows)
    a2_vals = ", ".join(
        f"({cid}, {len(get_country_name(dict(tags), tg, ap))})"
        for cid, tags, tg, ap in _MK_A2)
    return f"""
WITH p8(case_id, tag) AS (VALUES {p8_vals}),
w2(case_id, tags) AS (VALUES {w2_vals}),
f20(case_id, s) AS (VALUES {f20_vals}),
f22(case_id, bbox) AS (VALUES {f22_vals}),
p7(case_id, cc) AS (VALUES {p7_vals}),
a2(case_id, n) AS (VALUES {a2_vals}),
u AS (
  SELECT 'P8' AS kernel, case_id,
    CASE WHEN strpos(tag, ':') = 0 THEN NULL
         ELSE list_filter(string_split(tag, ':'), x -> x <> '')[-1]
    END AS result FROM p8
  UNION ALL SELECT 'W2', case_id,
    COALESCE(array_to_string(list_sort(list_filter(tags, t ->
      regexp_matches(t, '^name:[a-z][a-z][a-z]?_rm$')
      OR regexp_matches(t, '^name:[a-z][a-z][a-z]?-Latn$'))), '|'), '')
    FROM w2
  UNION ALL SELECT 'F20', case_id,
    CASE WHEN trim(s) = '' THEN ''
         ELSE upper(substr(trim(s), 1, 1)) || lower(substr(trim(s), 2))
    END FROM f20
  UNION ALL SELECT 'F22', case_id,
    CASE WHEN bbox IS NULL OR len(bbox) < 4 THEN '0,0'
         ELSE CAST(CAST((bbox[1] + bbox[3]) / 2 * 10 AS BIGINT) AS VARCHAR)
              || ',' ||
              CAST(CAST((bbox[2] + bbox[4]) / 2 * 10 AS BIGINT) AS VARCHAR)
    END FROM f22
  UNION ALL SELECT 'P7', case_id, cc FROM p7
  UNION ALL SELECT 'A2', case_id, CAST(n AS VARCHAR) FROM a2)
SELECT kernel, CAST(case_id AS BIGINT) AS case_id, result
FROM u ORDER BY kernel, case_id
"""


def q_translit_cyrillic(spark, sf_dir):
    """F18 generic Any-Latin transliteration (ISO 9 Cyrillic) as an
    oracle-backed query: a fixed city corpus keyed by nation rows, the
    engine transliterates via its table-driven kernel, the oracle holds
    the golden romanizations."""
    from .udfs import udf_transliterate
    n = _t(spark, sf_dir, "nation")
    cities = ["Москва", "Санкт-Петербург", "Новосибирск", "Екатеринбург",
              "Нижний Новгород", "Казань", "Челябинск", "Омск"]
    src = F.element_at(F.array(*[F.lit(c) for c in cities]),
                       (F.col("n_nationkey") % 8 + 1).cast("int"))
    return n.select(F.col("n_nationkey").alias("id"),
                    udf_transliterate(src, F.lit("")).alias("romanized"))


Q_TRANSLIT_CYRILLIC_SQL = """
SELECT n_nationkey AS id,
  CASE n_nationkey % 8
    WHEN 0 THEN 'Moskva'
    WHEN 1 THEN 'Sankt-Peterburg'
    WHEN 2 THEN 'Novosibirsk'
    WHEN 3 THEN 'Ekaterinburg'
    WHEN 4 THEN 'Nižnij Novgorod'
    WHEN 5 THEN 'Kazanʹ'
    WHEN 6 THEN 'Čelâbinsk'
    ELSE 'Omsk' END AS romanized
FROM nation
"""


def q_localize_mixed(spark, sf_dir):
    """The flagship cascade C1/C2/C4 + transliteration F15/F18/F19 with
    a FULL value oracle: a constructed tag corpus exercises every
    cascade branch of get_localized_name_from_tags.lua:252-267 —
    target-tag hit, latin name, latin int_name, latin_langs probe,
    romanization tag, name:ja-Hira country transcript (C7 intended
    semantics), PiP-routed kanji transcript (real jp boundary), generic
    Cyrillic ISO-9, the Thai charset gate, and the PiP-routed
    cantonese/jyutping transcript (F17, 香港 at the real hk boundary,
    geo-transcript-srv.py:105-120,166-176) — and every expected output
    is a CASE literal (the q_translit_cyrillic technique)."""
    from .engine.localize import localize
    n = _t(spark, sf_dir, "nation")
    m = F.col("n_nationkey") % 10
    cyr = F.concat(F.lit("Кириллица "), F.col("n_name"))
    tags = (
        F.when(m == 0, F.create_map(
            F.lit("name:de"), F.concat(F.lit("Zielname "), F.col("n_name")),
            F.lit("name"), F.concat(F.lit("Zielname "), F.col("n_name"))))
        .when(m == 1, F.create_map(
            F.lit("name"), F.concat(F.lit("Plain "), F.col("n_name"))))
        .when(m == 2, F.create_map(
            F.lit("name"), cyr,
            F.lit("int_name"), F.concat(F.lit("Intl "), F.col("n_name"))))
        .when(m == 3, F.create_map(
            F.lit("name"), cyr,
            F.lit("name:en"), F.concat(F.lit("English "), F.col("n_name"))))
        .when(m == 4, F.create_map(
            F.lit("name"), cyr,
            F.lit("name:ko_rm"), F.concat(F.lit("Romaja "), F.col("n_name"))))
        .when(m == 5, F.create_map(
            F.lit("name"), F.lit("緑台中"),
            F.lit("name:ja-Hira"), F.lit("みどりだいなか")))
        .when(m == 6, F.create_map(F.lit("name"), F.lit("東京")))
        .when(m == 7, F.create_map(F.lit("name"), F.lit("Москва")))
        .when(m == 8, F.create_map(F.lit("name"), F.lit("ถนนข้าวสาร")))
        .otherwise(F.create_map(F.lit("name"), F.lit("香港"))))
    staged = n.select(
        F.col("n_nationkey").alias("image_id"), tags.alias("tags"),
        # branches 6 and 9 must resolve to real boundaries (PiP: jp and
        # hk); other branches never consult geometry (charset gates
        # short-circuit)
        F.when(m == 6, F.lit(139.15)).when(m == 9, F.lit(114.175))
        .otherwise(F.lit(0.5)).alias("lon"),
        F.when(m == 6, F.lit(36.425)).when(m == 9, F.lit(22.305))
        .otherwise(F.lit(0.5)).alias("lat"))
    return localize(staged, "de", add_cells=False) \
        .select(F.col("image_id").alias("id"), "caption_l10n")


Q_LOCALIZE_MIXED_SQL = """
WITH b AS (SELECT n_nationkey AS id, n_nationkey % 10 AS m, n_name FROM nation)
SELECT id, CASE m
  WHEN 0 THEN 'Zielname ' || n_name
  WHEN 1 THEN 'Plain ' || n_name
  WHEN 2 THEN chr(8234) || 'Intl ' || n_name || chr(10)
           || 'Кириллица ' || n_name || chr(8236)
  WHEN 3 THEN chr(8234) || 'English ' || n_name || chr(10)
           || 'Кириллица ' || n_name || chr(8236)
  WHEN 4 THEN chr(8234) || 'Romaja ' || n_name || chr(10)
           || 'Кириллица ' || n_name || chr(8236)
  WHEN 5 THEN chr(8234) || 'Midoridainaka' || chr(10) || '緑台中' || chr(8236)
  WHEN 6 THEN chr(8234) || 'Toukyou' || chr(10) || '東京' || chr(8236)
  WHEN 7 THEN chr(8234) || 'Moskva' || chr(10) || 'Москва' || chr(8236)
  WHEN 8 THEN chr(8234) || 'thanon khaosan' || chr(10) || 'ถนนข้าวสาร' || chr(8236)
  ELSE chr(8234) || 'hōeng góng' || chr(10) || '香港' || chr(8236)
  END AS caption_l10n
FROM b
"""


def _staged_documents(spark, sf_dir):
    """The documents table staged into the input-hint shape — shared by
    q_localize_documents (oracled) and flagship() (driver smoke), so
    both always measure the SAME pipeline."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        F.concat(F.lit("doc_"), F.col("doc_id").cast("string")).alias("image_id"),
        F.substring(F.col("text"), 1, 48).alias("caption"),
        F.create_map(F.lit("name"), F.substring(F.col("text"), 1, 48)).alias("tags"),
        (((F.col("doc_id") * 37) % 360) - 180 + 0.5).alias("lon"),
        (((F.col("doc_id") * 7) % 160) - 80 + 0.5).alias("lat"))


def q_localize_documents(spark, sf_dir):
    """Full localization cascade over the documents corpus — now with a
    value-carrying oracle: latin rows assert the exact localized
    caption, every row asserts cascade non-emptiness (a non-latin name
    always yields either its transliterated pair or the original —
    format_combined_name never drops to ''), and cell/tile ids are
    exact morton math on both sides."""
    from .engine.localize import localize
    staged = _staged_documents(spark, sf_dir)
    is_lat = ~F.col("caption").rlike(RE_NON_LATIN)
    return localize(staged, "de").select(
        "image_id",
        F.when(is_lat, F.col("caption_l10n")).alias("latin_cap"),
        (F.col("caption_l10n") != "").alias("nonempty"),
        "cell_id", "tile_id")


Q_LOCALIZE_DOCUMENTS_SQL = f"""
WITH d AS (SELECT doc_id, substr(text, 1, 48) AS cap FROM documents),
p AS (SELECT doc_id, cap,
  ((doc_id * 37) % 360) - 180 + 0.5 AS lon,
  ((doc_id * 7) % 160) - 80 + 0.5 AS lat FROM d),
gc AS (SELECT doc_id, cap, lon, lat,
  LEAST(GREATEST(CAST(floor((lon + 180.0) / 360.0 * 1024) AS BIGINT), 0), 1023) AS cx,
  LEAST(GREATEST(CAST(floor((lat + 90.0) / 180.0 * 512) AS BIGINT), 0), 511) AS cy
  FROM p),
{_spread_sql('gc', 'cx', 'cy')},
cells AS (SELECT doc_id, cap, lon, lat,
  ((9::BIGINT << 58) | morton) AS cell_id FROM s5),
gt AS (SELECT doc_id, cap, cell_id,
  LEAST(GREATEST(CAST(floor((lon + 180.0) / 360.0 * 65536) AS BIGINT), 0), 65535) AS cx,
  LEAST(GREATEST(CAST(floor((90.0 - lat) / 180.0 * 65536) AS BIGINT), 0), 65535) AS cy
  FROM cells),
{_spread_sql('gt', 'cx', 'cy').replace('s1 AS', 't1 AS').replace('s2 AS', 't2 AS')
    .replace('s3 AS', 't3 AS').replace('s4 AS', 't4 AS').replace('s5 AS', 't5 AS')
    .replace('FROM s1', 'FROM t1').replace('FROM s2', 'FROM t2')
    .replace('FROM s3', 'FROM t3').replace('FROM s4', 'FROM t4')}
SELECT 'doc_' || doc_id AS image_id,
  CASE WHEN NOT regexp_matches(cap, '{RE_NON_LATIN_DUCK}') THEN cap END
    AS latin_cap,
  cap <> '' AS nonempty,
  cell_id,
  ((8::BIGINT << 58) | (morton >> 16)) AS tile_id
FROM t5
"""


def q_write_tiled(spark, sf_dir):
    """S5 write path verified through the gate: sinks.write_tiled's
    directory-partitioned, z-order-clustered parquet layout is written
    and read BACK — cell_prefix comes from the DIRECTORY NAME on
    re-read, so matching the oracle proves every row landed in its
    correct coarse-cell partition; zorder_ok asserts (cell_id, tile_id)
    monotonicity within each written file (the clustering invariant
    that buys min-max row-group skipping at scale)."""
    import os
    import tempfile
    import uuid

    from .sources.sinks import write_tiled
    pts = _points(spark, sf_dir)
    # per-run unique dir: two concurrent gate runs against the same SF
    # dir must not overwrite each other's parquet mid-read, and stale
    # output must not leak across runs (ADVICE r2)
    path = os.path.join(
        tempfile.gettempdir(),
        "osml10n_gate_write_%s_%s" % (
            os.path.basename(sf_dir.rstrip("/")), uuid.uuid4().hex[:12]))
    write_tiled(pts, path)
    back = spark.read.parquet(path).withColumn(
        "rid", F.monotonically_increasing_id())
    wfile = Window.partitionBy(F.input_file_name()).orderBy("rid")
    prev_c = F.lag("cell_id").over(wfile)
    prev_t = F.lag("tile_id").over(wfile)
    ok = (prev_c.isNull() | (prev_c < F.col("cell_id"))
          | ((prev_c == F.col("cell_id")) & (prev_t <= F.col("tile_id"))))
    return (back.withColumn("ok", ok)
            .groupBy(F.col("cell_prefix").cast("long").alias("cell_prefix"))
            .agg(F.count("*").alias("n"),
                 F.min("cell_id").alias("min_cell"),
                 F.max("cell_id").alias("max_cell"),
                 F.bool_and("ok").alias("zorder_ok")))


Q_WRITE_TILED_SQL = f"""
WITH pts AS ({_PTS_SQL}),
g AS (SELECT id, lon, lat,
  LEAST(GREATEST(CAST(floor((lon + 180.0) / 360.0 * 8) AS BIGINT), 0), 7) AS tx,
  LEAST(GREATEST(CAST(floor((lat + 90.0) / 180.0 * 4) AS BIGINT), 0), 3) AS ty
  FROM pts),
{_spread_sql('g', 'tx', 'ty')},
pre AS (SELECT id, lon, lat, ((2::BIGINT << 58) | morton) AS cell_prefix
        FROM s5),
gc AS (SELECT id, cell_prefix, lon, lat,
  LEAST(GREATEST(CAST(floor((lon + 180.0) / 360.0 * 1024) AS BIGINT), 0), 1023) AS tx,
  LEAST(GREATEST(CAST(floor((lat + 90.0) / 180.0 * 512) AS BIGINT), 0), 511) AS ty
  FROM pre),
{_spread_sql('gc', 'tx', 'ty').replace('s1 AS', 't1 AS').replace('s2 AS', 't2 AS')
    .replace('s3 AS', 't3 AS').replace('s4 AS', 't4 AS').replace('s5 AS', 't5 AS')
    .replace('FROM s1', 'FROM t1').replace('FROM s2', 'FROM t2')
    .replace('FROM s3', 'FROM t3').replace('FROM s4', 'FROM t4')}
SELECT cell_prefix, COUNT(*) AS n,
  MIN((9::BIGINT << 58) | morton) AS min_cell,
  MAX((9::BIGINT << 58) | morton) AS max_cell,
  TRUE AS zorder_ok
FROM t5 GROUP BY cell_prefix
"""


def q_image_features(spark, sf_dir):
    """F23/multimodal: mapInPandas decode of opaque binary payloads with
    typed metadata (engine codecs; real-world fmts stubbed), per-channel
    stats + phash recomputation.  Input synthesized deterministically
    (BASELINE.json input_hint shape).  FULL replay-literal oracle (the
    q_image_dups pattern): the pure-python kernels recompute brightness
    (full-precision double) and the decoded-pixel phash per row
    driver-side with no Spark, and DuckDB re-derives stats_ok /
    decoded_frac from those literals — the distributed Arrow plumbing
    (batching, dtype=object null handling, schema) is the thing on
    trial.  PSNR is separately pytest-asserted."""
    from .operators.multimodal import image_features
    from .sources.datagen import generate_images
    imgs = generate_images(spark, 300, seed=7, png_every=4)
    w = Window.partitionBy(F.lit(1))
    stats_ok = F.when(F.col("decoded"),
                      (F.col("brightness") >= 0)
                      & (F.col("brightness") <= 255)).otherwise(F.lit(True))
    return image_features(imgs).select(
        "image_id", "fmt", "decoded", "brightness", "phash_check",
        stats_ok.alias("stats_ok"),
        F.round(F.avg(F.col("decoded").cast("double")).over(w), 4)
        .alias("decoded_frac"))


def q_image_dups(spark, sf_dir):
    """Near-duplicate IMAGE detection with a FULL DuckDB oracle: the
    deterministic generator plants near-dup images (1-3 perturbed pixel
    channels over a replayable base image, datagen.visual_for_id), and
    image_dup_pairs runs the banded Hamming equi-join over the 64-bit
    phash column (8 8-bit bands, pigeonhole-EXACT for hamming ≤4).
    The oracle re-derives banding + hamming refine in SQL over
    kernel-computed phash literals — the distributed candidate
    machinery is the thing on trial; the pixel kernel itself is pinned
    by pytest (phash equality, PSNR).  Only (id, phash) enter the
    self-join: payload bytes are pruned before the exchange."""
    from .operators.multimodal import image_dup_pairs
    from .sources.datagen import generate_images
    imgs = generate_images(spark, 300, seed=4242, near_dup_frac=0.15,
                           partitions=8)
    return image_dup_pairs(imgs, max_hamming=4)


def _image_dups_sql() -> str:
    """Oracle for q_image_dups: (image_id, phash) ground truth from the
    pure-python generator kernel (no Spark), then banding + hamming
    refine in SQL (8 8-bit bands for hamming ≤4 — mirrors
    hash_dup_pairs defaults).  Arithmetic >> plus the band mask equals
    Spark's shiftrightunsigned (the mask discards sign-extension
    bits)."""
    from .imaging import phash64
    from .sources.datagen import visual_for_id
    vals = ", ".join(
        f"('img_{i:012d}', {phash64(visual_for_id(4242, i, 0.15)[3])}::BIGINT)"
        for i in range(300))
    return f"""
WITH sig(id, phash) AS (VALUES {vals}),
banded AS (SELECT id, phash, band, (phash >> (8 * band)) & 255 AS bkey
           FROM sig CROSS JOIN
                (SELECT unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS band) b),
pairs AS (SELECT DISTINCT a.id AS a_id, b2.id AS b_id,
                 a.phash AS a_sig, b2.phash AS b_sig
          FROM banded a JOIN banded b2
            ON a.band = b2.band AND a.bkey = b2.bkey
           AND a.id < b2.id)
SELECT a_id, b_id, CAST(bit_count(xor(a_sig, b_sig)) AS INTEGER) AS hamming
FROM pairs WHERE bit_count(xor(a_sig, b_sig)) <= 4
"""


def _replay_images(seed: int, n: int, png_every: int | None = None,
                   jpeg_every: int | None = None):
    """Driver-side (no Spark) replay of generate_images' per-row
    payloads — shared ground truth for the multimodal replay-literal
    oracles.  Returns (image_id, fmt, pixels, payload_bytes,
    stored_phash) per row, byte-identical to what the distributed
    generator emits (datagen._gen_rows keys the png re-container on the
    row id, so the replay needs no rng beyond visual_for_id's)."""
    from .imaging import encode_image, phash64
    from .sources.datagen import visual_for_id
    out = []
    for i in range(n):
        _w, _h, fmt, pix = visual_for_id(seed, i, 0.0)
        if png_every and i % png_every == 0:
            fmt = "png"
        if jpeg_every and i % jpeg_every == 0:   # jpeg wins an overlap
            fmt = "jpeg"
        out.append((f"img_{i:012d}", fmt, pix, encode_image(pix, fmt),
                    phash64(pix)))
    return out


def _image_features_sql() -> str:
    """Oracle for q_image_features: per-row brightness (full-precision
    double) + decoded-pixel phash replayed through the pure-python
    kernels; stats_ok / decoded_frac re-derived in SQL.  All 300 rows
    are engine codecs (bmp/raw/jpegq/png) so decoded is uniformly true
    — a Spark-side decode regression flips it and breaks the hash."""
    from .imaging import decode_image, phash64
    rows = []
    for rid, fmt, _pix, data, _ph in _replay_images(7, 300, png_every=4):
        dec = decode_image(data, fmt)
        means = dec.reshape(-1, 3).mean(axis=0)
        # string-cast, NOT a bare decimal::DOUBLE — DuckDB parses the
        # bare literal as DECIMAL and its decimal->double cast can be
        # 1 ulp off the correctly-rounded value repr() round-trips to
        rows.append(f"('{rid}', '{fmt}', CAST('{float(means.mean())!r}' "
                    f"AS DOUBLE), {phash64(dec)}::BIGINT)")
    vals = ",\n".join(rows)
    return f"""
WITH t(image_id, fmt, brightness, phash_check) AS (VALUES {vals})
SELECT image_id, fmt, true AS decoded, brightness, phash_check,
  (brightness >= 0 AND brightness <= 255) AS stats_ok,
  round(avg(1.0::DOUBLE) OVER (), 4) AS decoded_frac
FROM t
"""


def _payload_audit_sql() -> str:
    """Oracle for q_payload_audit: (stored phash, decoded-pixel phash)
    literal pairs from the replay kernels; the ok rule itself —
    decoded AND (lossy-fmt OR phash equality) — runs in SQL."""
    from .imaging import decode_image, phash64
    rows = []
    for rid, fmt, _pix, data, ph in _replay_images(7, 300, png_every=4,
                                                   jpeg_every=5):
        dec_ph = phash64(decode_image(data, fmt))
        rows.append(f"('{rid}', '{fmt}', {ph}::BIGINT, {dec_ph}::BIGINT)")
    vals = ",\n".join(rows)
    return f"""
WITH t(image_id, fmt, phash, phash_check) AS (VALUES {vals}),
o AS (SELECT image_id, fmt,
        (fmt IN ('jpegq', 'jpeg') OR phash_check = phash) AS ok
      FROM t)
SELECT image_id, fmt, ok,
  round(avg(CAST(ok AS DOUBLE)) OVER (), 4) AS ok_frac
FROM o
"""


# NOTE: no oracle that needs kernel work is built at import time.
# _image_dups_sql, _image_features_sql and _payload_audit_sql each
# replay hundreds of deterministic images (with encode/decode, including
# the zlib PNG round-trip); _micro_kernels_sql loads the boundaries;
# _hex_rollup_sql needs the hex geometry.  Importing contract.py for
# bench/tests/entry must not pay that, so these builder FUNCTIONS are
# the registry's oracles, resolved (once, cached) by resolve_oracles()
# when a caller actually needs oracle SQL.


# ------------------------------------------------------------------ registry

class Query(NamedTuple):
    """One contract query: the Spark side and its DuckDB oracle — SQL,
    or a builder returning SQL when the oracle pins replay literals
    (resolved on first access, see ``resolve_oracles``)."""
    run: Callable[[SparkSession, str], DataFrame]
    oracle: str | Callable[[], str]


REGISTRY: dict[str, Query] = {
    "q_cascade": Query(q_cascade, Q_CASCADE_SQL),
    "q_script_flags": Query(q_script_flags, Q_SCRIPT_FLAGS_SQL),
    "q_unaccent": Query(q_unaccent, Q_UNACCENT_SQL),
    "q_abbrev_ru": Query(q_abbrev_ru, Q_ABBREV_RU_SQL),
    "q_pip_squares": Query(q_pip_squares, Q_PIP_SQUARES_SQL),
    # the same oracle for three physical plans: rect join, polygon
    # cover join, hex cover equi-join
    "q_pip_cover": Query(q_pip_cover, Q_PIP_SQUARES_SQL),
    "q_pip_hexcover": Query(q_pip_hexcover, Q_PIP_SQUARES_SQL),
    "q_knn_geo": Query(q_knn_geo, Q_KNN_GEO_SQL),
    "q_tile_assign": Query(q_tile_assign, Q_TILE_ASSIGN_SQL),
    "q_cell_histogram": Query(q_cell_histogram, Q_CELL_HISTOGRAM_SQL),
    "q_cell_density": Query(q_cell_density, Q_CELL_DENSITY_SQL),
    "q_exact_dedup": Query(q_exact_dedup, Q_EXACT_DEDUP_SQL),
    "q_minhash": Query(q_minhash, Q_MINHASH_SQL),
    "q_levenshtein_pairs": Query(q_levenshtein_pairs, Q_LEVENSHTEIN_SQL),
    "q_localize_documents": Query(q_localize_documents,
                                  Q_LOCALIZE_DOCUMENTS_SQL),
    "q_localize_mixed": Query(q_localize_mixed, Q_LOCALIZE_MIXED_SQL),
    "q_abbrev_de": Query(q_abbrev_de, Q_ABBREV_DE_SQL),
    "q_abbrev_en": Query(q_abbrev_en, Q_ABBREV_EN_SQL),
    "q_abbrev_fr": Query(q_abbrev_fr, Q_ABBREV_FR_SQL),
    "q_country_name": Query(q_country_name, Q_COUNTRY_NAME_SQL),
    "q_placename_bilingual": Query(q_placename_bilingual,
                                   Q_PLACENAME_BILINGUAL_SQL),
    "q_combined_quirks": Query(q_combined_quirks, Q_COMBINED_QUIRKS_SQL),
    "q_snapshot_compact": Query(q_snapshot_compact, Q_SNAPSHOT_COMPACT_SQL),
    "q_localize_latin": Query(q_localize_latin, Q_LOCALIZE_LATIN_SQL),
    "q_image_features": Query(q_image_features, _image_features_sql),
    "q_payload_audit": Query(q_payload_audit, _payload_audit_sql),
    "q_write_tiled": Query(q_write_tiled, Q_WRITE_TILED_SQL),
    "q_radius_join": Query(q_radius_join, Q_RADIUS_JOIN_SQL),
    "q_polygon_cover": Query(q_polygon_cover, Q_POLYGON_COVER_SQL),
    "q_abbrev_uk": Query(q_abbrev_uk, Q_ABBREV_UK_SQL),
    "q_abbrev_all": Query(q_abbrev_all, Q_ABBREV_ALL_SQL),
    "q_streetname_bilingual": Query(q_streetname_bilingual,
                                    Q_STREETNAME_BILINGUAL_SQL),
    "q_sql_registered": Query(q_sql_registered, Q_SQL_REGISTERED_SQL),
    "q_cell_rollup": Query(q_cell_rollup, Q_CELL_ROLLUP_SQL),
    "q_hexcell_histogram": Query(q_hexcell_histogram, Q_HEXCELL_HISTOGRAM_SQL),
    "q_hexcell_rollup": Query(q_hexcell_rollup, _hex_rollup_sql),
    "q_hex_ring_join": Query(q_hex_ring_join, Q_HEX_RING_JOIN_SQL),
    "q_translit_cyrillic": Query(q_translit_cyrillic, Q_TRANSLIT_CYRILLIC_SQL),
    "q_image_dups": Query(q_image_dups, _image_dups_sql),
    "q_micro_kernels": Query(q_micro_kernels, _micro_kernels_sql),
}


@functools.lru_cache(maxsize=None)
def _resolve_oracle(name: str) -> str:
    v = REGISTRY[name].oracle
    return v() if callable(v) else v


class _Oracles(Mapping):
    """The registry's oracles as a read-only mapping that resolves each
    builder to its SQL string on first access (cached): the per-query
    gate pays the replay-literal generation cost once per process, and
    a broken builder fails only its own query."""

    def __getitem__(self, name: str) -> str:
        return _resolve_oracle(name)

    def __contains__(self, name) -> bool:
        return name in REGISTRY

    def __iter__(self):
        return iter(REGISTRY)

    def __len__(self) -> int:
        return len(REGISTRY)


def resolve_oracles() -> Mapping[str, str]:
    """Oracle SQL by query name, built per query on access."""
    return _Oracles()


# ------------------------------------------------------------------ compare

# the parquet tables the oracles read, one DuckDB view each
TABLES = ["nation", "customer", "documents"]


def _norm_cell(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v!r}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def norm_rows(cols, rows) -> list[tuple]:
    """``rows`` as the gate compares them: columns ordered by their
    lower-cased name, rows sorted, floats by ``repr`` (NaN as 'nan'),
    dates and timestamps as ISO strings."""
    cols = [c.lower() for c in cols]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)


def flagship(spark: SparkSession, sf_dir: str = "/root/testdata/sf0.001"):
    """entry() target: documents-derived image+caption table through the
    full localization + cell/tile pipeline — stable 4-column schema
    (image_id, caption_l10n, cell_id, tile_id) for the driver smoke;
    staging shared with the oracled q_localize_documents."""
    from .engine.localize import localize
    staged = _staged_documents(spark, sf_dir)
    return localize(staged, "de").select("image_id", "caption_l10n",
                                         "cell_id", "tile_id")
