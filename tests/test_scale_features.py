"""Scale-machinery tests: salting, SQL UDF registration, tiled sink,
z-order write locality."""
import json

import numpy as np
from pyspark.sql import functions as F

from osml10n_spark.kernels.names import (get_localized_name_from_tags,
                                         get_placename_from_tags,
                                         get_streetname_from_tags)
from osml10n_spark.operators.spatial import assign_cells, cell_histogram, \
    salted_key
from osml10n_spark.sources.sinks import write_tiled
from osml10n_spark.udfs import register_all


def test_salting_spreads_hot_key(spark):
    # one dense cell (Tokyo) + sparse world
    rows = [(f"i{n}", 139.70 + (n % 7) * 1e-4, 35.68) for n in range(400)]
    rows += [(f"s{n}", float(n % 170), float(n % 80) - 40.0) for n in range(100)]
    df = assign_cells(spark.createDataFrame(
        rows, "id string, lon double, lat double"), res=9)
    hot = cell_histogram(df).first()
    assert hot.n_rows == 400
    salted = salted_key(df, "cell_id", buckets=8)
    per_bucket = (salted.filter(F.col("cell_id") == hot.cell_id)
                  .groupBy("salted_key").count().collect())
    assert len(per_bucket) == 8                      # hot key spread
    assert max(r["count"] for r in per_bucket) < 400 * 0.5


def test_sql_registration(spark):
    register_all(spark)
    spark.createDataFrame(
        [("Besançon Straße", "de"), ("улица Воздвиженка", "ru")],
        "name string, lang string").createOrReplaceTempView("t_names")
    rows = spark.sql("""
        SELECT osml10n_unaccent(name) AS una,
               osml10n_street_abbrev(name, lang) AS abbr,
               osml10n_is_latin(name) AS lat,
               osml10n_translit(name, '') AS tr,
               osml10n_cc(139.15, 36.425) AS cc
        FROM t_names ORDER BY name""").collect()
    by_una = {r.una: r for r in rows}
    assert "Besancon Straße" in by_una
    ru = [r for r in rows if not r.lat][0]
    assert ru.abbr == "ул. Воздвиженка"
    assert ru.tr == "ulica Vozdviženka"
    assert rows[0].cc == "jp"

    cn = spark.sql("""
        SELECT osml10n_country_name(
          map('ISO3166-1:alpha2','TZ','name:de','Tansania',
              'name:sw','Tanzania','name:en','Tanzania'), 'de', false) AS names
    """).collect()[0]
    assert cn.names == ["Tansania"]

    # the SQL cascade functions: a target-tag hit, a latin name and a
    # CJK name at Tokyo, each equal to the pure kernel under the
    # default transcriptor with the row's point as its bbox
    tokyo = (139.69, 35.68)
    cases = [("hit", {"name": "Roma", "name:de": "Rom"}, (12.5, 41.9)),
             ("latin", {"name": "Besançon Hauptstraße"}, (6.0, 47.2)),
             ("cjk", {"name": "東京"}, tokyo)]
    spark.createDataFrame(
        [(rid, json.dumps(t, ensure_ascii=False, separators=(",", ":")),
          lon, lat) for rid, t, (lon, lat) in cases],
        "id string, tags string, lon double, lat double",
    ).createOrReplaceTempView("t_tags")
    rows = spark.sql("""
        SELECT id,
          osml10n_placename(id, tags, 'de', false, '\\n', lon, lat) AS place,
          osml10n_streetname(id, tags, 'de', false, ' - ', lon, lat) AS street,
          osml10n_localized_name(id, tags, 'de', lon, lat) AS loc
        FROM t_tags""").collect()
    got = {r.id: (r.place, r.street, r.loc) for r in rows}
    for rid, t, (lon, lat) in cases:
        bbox = [lon, lat, lon, lat]
        assert got[rid] == (
            get_placename_from_tags(rid, t, False, "\n", "de", bbox),
            get_streetname_from_tags(rid, t, False, " - ", "de", bbox),
            get_localized_name_from_tags(rid, t, "de", bbox)), rid
    assert got["cjk"][2] == "Toukyou"


def test_write_tiled_layout(spark, tmp_path):
    from osml10n_spark.sources.datagen import generate_images
    df = generate_images(spark, 200, seed=23, with_images=False)
    path = str(tmp_path / "tiled")
    write_tiled(df, path)
    back = spark.read.parquet(path)
    assert back.count() == 200
    assert "cell_prefix" in back.columns          # partition column survives
    # z-order locality within files: cell_id non-decreasing per file
    import glob
    import pyarrow.parquet as pq
    for f in glob.glob(f"{path}/cell_prefix=*/*.parquet"):
        cells = pq.read_table(f, columns=["cell_id"])["cell_id"].to_pylist()
        assert cells == sorted(cells), f
