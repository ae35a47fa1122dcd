"""Source-format breadth: the engine's pipeline is format-agnostic —
the same input table stored as parquet, ORC, and JSON-lines must
produce byte-identical localization output (schema preserved across
formats, including the map<string,string> tags and binary payload)."""
import pytest
from pyspark.sql import functions as F

from osml10n_spark.engine.localize import localize
from osml10n_spark.sources.datagen import generate_images, IMAGES_DDL


@pytest.fixture(scope="module")
def stored(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("formats")
    df = generate_images(spark, 250, seed=31)
    paths = {}
    for fmt in ("parquet", "orc", "json"):
        p = str(base / fmt)
        df.write.format(fmt).mode("overwrite").save(p)
        paths[fmt] = p
    return paths


def _localized(spark, path, fmt):
    reader = spark.read.format(fmt)
    if fmt == "json":
        # JSON needs the schema to restore map/binary types (binary
        # round-trips as base64 under the declared schema)
        reader = reader.schema(IMAGES_DDL)
    df = reader.load(path)
    out = localize(df, "de").select("image_id", "caption_l10n",
                                    "cell_id", "tile_id", "phash")
    return {r.image_id: (r.caption_l10n, r.cell_id, r.tile_id, r.phash)
            for r in out.collect()}


def test_same_output_across_source_formats(spark, stored):
    ref = _localized(spark, stored["parquet"], "parquet")
    assert len(ref) == 250
    for fmt in ("orc", "json"):
        got = _localized(spark, stored[fmt], fmt)
        assert got == ref, f"{fmt} output diverges from parquet"


def test_binary_payload_survives_orc_roundtrip(spark, stored):
    from osml10n_spark.operators.multimodal import verify_payload
    df = spark.read.format("orc").load(stored["orc"])
    ok = verify_payload(df)
    assert ok.filter(~F.col("ok")).count() == 0

