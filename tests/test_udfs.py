"""Tests of the cascade UDFs' Python bodies (``.func``, Spark-free): the
one per-process boundary cache, the one CJK/Thai country gate, the
latin fast path and the deferred-row tail, each against the kernels.
Then, through Spark, the Python workers that run every UDF: forked from
``osml10n_spark._daemon``, and still importing from zips added mid-session."""
import json
import zipfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

from osml10n_spark import _daemon, udfs
from osml10n_spark.engine.session import daemon_conf
from osml10n_spark.kernels import names, translit
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


_MODES = {
    "placename": lambda t, last, sep, place, tr: names.get_placename_from_tags(
        "", t, last, sep, "de", place, tr),
    "streetname": lambda t, last, sep, place, tr: names.get_streetname_from_tags(
        "", t, last, sep, "de", place, tr),
    "localized": lambda t, last, sep, place, tr: names.get_localized_name_from_tags(
        "", t, "de", place, tr),
}


def _cascade(mode, tag_maps, last=False, sep=None, lonlat=TOKYO):
    """The cascade UDF's body over ``tag_maps`` placed at ``lonlat``,
    in a fresh memo state so every row runs cold."""
    n = len(tag_maps)
    tags = [json.dumps(t, ensure_ascii=False, separators=(",", ":"))
            for t in tag_maps]
    udfs._STATE.clear()
    return list(udfs.make_cascade_udf(mode, "de", last, sep).func(
        pd.Series(tags), pd.Series([lonlat[0]] * n),
        pd.Series([lonlat[1]] * n)))


def _kernel(mode, tag_maps, last=False, sep=None, lonlat=TOKYO):
    lon, lat = lonlat
    tr = default_transcriptor()
    return [_MODES[mode](dict(t), last, sep, [lon, lat, lon, lat], tr)
            for t in tag_maps]


def test_latin_lone_names_skip_decode_and_equal_kernel(monkeypatch):
    """Lone latin names (ASCII or not) take the fast path: no JSON
    decode, no transliteration, and the kernel's output in every mode."""
    maps = [{"name": v} for v in ("Königsallee 5", "Dorfstraße",
                                  "Place du Marché 7")]
    for mode in _MODES:
        want = _kernel(mode, maps)
        with monkeypatch.context() as m:
            m.setattr(udfs.json, "loads", _forbidden)
            m.setattr(udfs._translit, "transcript", _forbidden)
            assert _cascade(mode, maps) == want, mode


def _forbidden(*args, **kwargs):
    raise AssertionError("the latin fast path must not get here")


def test_non_fast_path_rows_equal_kernel(monkeypatch):
    """A lone name holding U+0250 (just past latin) is transliterated;
    escaped characters and a two-key map take the JSON decode.  Every
    one equals the kernel in every mode."""
    lone = [{"name": "\u0250 Straße 1"}]
    decoded = [{"name": 'Rue "Haute"'}, {"name": "C:\\Weg"},
               {"name": "Tab\tStraße"}, {"name": "Hauptstraße",
                                          "name:de": "Hauptstraße"}]
    for mode in _MODES:
        calls = {"loads": 0, "transcript": 0}

        def counting(key, real):
            def f(*args, **kwargs):
                calls[key] += 1
                return real(*args, **kwargs)
            return f

        with monkeypatch.context() as m:
            m.setattr(udfs.json, "loads", counting("loads", json.loads))
            m.setattr(udfs._translit, "transcript",
                      counting("transcript", translit.transcript))
            got = _cascade(mode, lone + decoded)
        assert got == _kernel(mode, lone + decoded), mode
        assert calls == {"loads": len(decoded), "transcript": 1}, mode


def test_deferred_tail_equals_kernel_rerun():
    """Rows that need a country (Cyrillic, Thai, CJK placed at Tokyo;
    lone names and multi-key maps) get the kernel's output in
    placename and streetname mode, either name order, with the mode's
    default separator."""
    maps = [{"name": "улица Ленина 5"},
            {"name": "Садовая улица", "name:ru": "Садовая улица"},
            {"name": "ถนนข้าวสาร"},
            {"name": "ถนนสีลม 12", "highway": "primary"},
            {"name": "東京"}, {"name": "新宿駅 3", "name:ja": "新宿駅 3"},
            {"name": "銀座 4 丁目", "name:ko": "긴자"}]
    for mode in ("placename", "streetname"):
        for last in (False, True):
            assert (_cascade(mode, maps, last, None)
                    == _kernel(mode, maps, last, None)), (mode, last)


def test_null_and_malformed_tags_have_defined_results():
    """NULL tags and a string that is not JSON give '' in every mode;
    an empty map, a target-tag map and a null-valued name equal the
    kernel."""
    well_formed = ['{}', '{"name:de":"X"}', '{"name":null}']
    tags = [None] + well_formed + ["not json"]
    n = len(tags)
    for mode in _MODES:
        udfs._STATE.clear()
        got = list(udfs.make_cascade_udf(mode, "de").func(
            pd.Series(tags), pd.Series([TOKYO[0]] * n),
            pd.Series([TOKYO[1]] * n)))
        want = _kernel(mode, [json.loads(t) for t in well_formed])
        assert got == [""] + want + [""], mode
        assert want == ["", "X", ""], mode


def _from_workers(spark, udf) -> set:
    """The distinct values ``udf`` returns over 8 rows in 4 partitions."""
    return {r[0] for r in spark.range(8).repartition(4).select(udf("id")).collect()}


def _patched_udf():
    """Whether the worker's ``zipimporter`` holds the daemon's method."""
    @F.pandas_udf("boolean")
    def patched(x: pd.Series) -> pd.Series:
        import zipimport

        from osml10n_spark import _daemon as d
        return pd.Series([zipimport.zipimporter.invalidate_caches
                          is d._invalidate_caches] * len(x))
    return patched


def test_workers_run_patched_invalidate_caches(spark):
    """Workers forked from the package daemon hold its
    ``zipimporter.invalidate_caches`` where the stock one re-reads
    eagerly, and the stock one elsewhere."""
    conf = daemon_conf()
    if not conf:
        pytest.skip("the daemon cannot import the package from this cwd/PYTHONPATH")
    key = "spark.python.daemon.module"
    assert spark.sparkContext.getConf().get(key) == conf[key]
    assert _from_workers(spark, _patched_udf()) == {_daemon.EAGER}


def test_add_py_file_after_a_udf_is_imported_by_the_next(spark, tmp_path):
    """A zip added after a UDF ran (its workers hold their zipimporters
    and stamps) is imported from by the next UDF."""
    _from_workers(spark, _patched_udf())
    path = tmp_path / "osml10n_added_mid_session.zip"
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("osml10n_added_mid_session.py", "X = 7\n")
    spark.sparkContext.addPyFile(str(path))

    @F.pandas_udf("long")
    def added(x: pd.Series) -> pd.Series:
        import osml10n_added_mid_session as m
        return x * 0 + m.X

    assert _from_workers(spark, added) == {7}
