"""Spark-free tests of the cascade UDFs' Python bodies (``.func``): the
one per-process boundary cache and the one CJK/Thai country gate."""
import json

import pandas as pd

from osml10n_spark import udfs
from osml10n_spark.kernels import translit
from osml10n_spark.kernels.geo import default_transcriptor
from osml10n_spark.spatial import prepared

TOKYO = (139.69, 35.68)


def _localized(names, lon, lat):
    n = len(names)
    tags = [json.dumps({"name": v}, ensure_ascii=False, separators=(",", ":"))
            for v in names]
    return list(udfs.make_cascade_udf("localized", "de").func(
        pd.Series(tags), pd.Series([lon] * n), pd.Series([lat] * n)))


def test_one_boundary_load_per_process(monkeypatch):
    """The scalar transcriptor and a CJK batch through the cascade UDF
    share one boundary load and romanize alike."""
    calls = []
    real = prepared.load_boundaries

    def counting():
        calls.append(1)
        return real()

    monkeypatch.setattr(prepared, "load_boundaries", counting)
    monkeypatch.setattr(udfs, "_STATE", {})
    prepared.default_lookup.cache_clear()
    try:
        lon, lat = TOKYO
        scalar = default_transcriptor().geo_transcript(
            "", "東京", [lon, lat, lon, lat])
        batch = _localized(["東京", "東京", "大阪"], lon, lat)
        assert len(calls) == 1
        assert scalar == translit.transcript("", "jp", "東京") != ""
        assert batch[:2] == [scalar, scalar]
        assert batch[2] == translit.transcript("", "jp", "大阪")
    finally:
        prepared.default_lookup.cache_clear()


def test_gate_takes_pip_for_cjk_plus_thai_name():
    """A name holding both CJK and Thai script takes the PiP branch in
    both users of the gate, not the Thai short-circuit."""
    lon, lat = TOKYO
    names = ["東京ไทย", "กรุงเทพ", "Roma", None]
    gated = list(udfs.udf_country_gated.func(
        pd.Series(names), pd.Series([lon] * 4), pd.Series([lat] * 4)))
    assert gated == ["jp", "th", "", ""]
    mixed = _localized(names[:1], lon, lat)[0]
    assert mixed == translit.transcript("", "jp", names[0])
    assert mixed != translit.transcript("", "th", names[0])
