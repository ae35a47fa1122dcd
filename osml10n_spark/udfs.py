"""Arrow-batched pandas UDF wrappers over the pure kernels, plus SQL
registration mirroring the reference API surface (SURVEY.md §2.10).

Design rules:
- every UDF is vectorized over Arrow batches (no per-row Python UDFs in
  any hot path — BASELINE.json input_hint);
- the boundary index / prepared covers come from
  ``spatial.prepared.default_lookup``, built once per executor Python
  worker — the executor-side analogue of the daemon's startup
  prepared-geometry cache (geo-transcript-srv.py:204-208);
- one batch function (``_batch_localize``) serves every cascade UDF: an
  in-UDF ASCII fast path, per-worker memos, and one country gate
  (``_gate_ccs``) that resolves a batch's CJK rows with one vectorized
  point-in-polygon call.
"""
from __future__ import annotations

import json
import re

import numpy as np
import pandas as pd
from pyspark.sql.types import ArrayType, BooleanType, StringType
from pyspark.sql.functions import pandas_udf

from .kernels import abbrev as _abbrev
from .kernels import names as _names
from .kernels import translit as _translit
from .kernels.geo import Transcriptor, centroid
from .kernels.scripts import contains_cjk, contains_thai, is_latin
from .kernels.unaccent import unaccent as _unaccent
from .spatial.prepared import default_lookup

__all__ = [
    "udf_unaccent", "udf_street_abbrev", "udf_localized_name",
    "udf_is_latin", "udf_transliterate", "udf_country_name",
    "make_cascade_udf", "udf_placename", "udf_streetname",
    "udf_country_lookup", "udf_country_gated", "register_all",
]

# ------------------------------------------------------------------
# per-executor memos (the boundary cache is spatial.prepared's)
_STATE: dict = {}


def _gate_ccs(names, lon, lat) -> list:
    """The daemon XY gate, batch-wise (geo-transcript-srv.py:268-275):
    one vectorized PiP call for the CJK names, 'th' for Thai names, ''
    for everything else (None included) — the filter-before-join
    optimization.  CJK takes precedence over Thai, as in
    ``translit.gate_cc``."""
    ccs, cjk_rows = [], []
    for i, v in enumerate(names):
        if v is not None and contains_cjk(v):
            cjk_rows.append(i)
            ccs.append("")
        else:
            ccs.append("th" if v is not None and contains_thai(v) else "")
    if cjk_rows:
        sel = np.asarray(cjk_rows)
        res = default_lookup().lookup(np.asarray(lon, dtype=np.float64)[sel],
                                      np.asarray(lat, dtype=np.float64)[sel])
        for i, cc in zip(cjk_rows, res):
            ccs[i] = str(cc)
    return ccs


class _DeferGeo(Exception):
    """Raised by the deferring transcriptor at the (single) cascade site
    that needs a geo lookup, so the batch can resolve all lookups with
    ONE vectorized PreparedLookup call instead of per-row probes."""

    def __init__(self, name, place):
        self.name = name
        self.place = place


class _DeferringTranscriptor(Transcriptor):
    def geo_transcript(self, rec_id, name, place=None):
        raise _DeferGeo(name, place)


_DEFER = _DeferringTranscriptor(None)
# a one-key tag map as to_json writes it, its name free of escapes
_LONE_NAME = re.compile(r'\{"name":"([^"\\\x00-\x1f]*)"\}\Z')
_MEMO_CAP = 200_000


def _batch_localize(tags_list, targets, lasts, seps, lons, lats,
                    mode: str) -> list:
    """Shared batch driver for the cascade UDFs.

    ``tags_list`` holds JSON-encoded tag maps (produced JVM-side with
    ``to_json``): Arrow map-type serialization contends on the shared
    JVM allocator and ANTI-scales beyond ~8 parallel tasks (measured
    3.8s@8c → 7.2s@32c for a no-op UDF over 7.2M map rows vs
    1.9s → 1.2s for the same data as JSON strings), so tags travel as
    strings and are parsed only on memo miss.

    Two-phase evaluation: phase 1 runs the cascade per row with geo
    deferred (most rows complete — latin fast path, target-tag hits,
    romanization tags); phase 2 gates + batch-resolves countries for
    the deferred rows in one vectorized PiP call, transliterates, and
    runs only the cascade tail (``names.l10n_latn_names``).
    Location-independent rows are memoized per worker keyed by the raw
    JSON string (map-label corpora repeat captions heavily);
    geo-dependent rows are memoized by (key, resolved cc), which
    captures their full location dependence.
    The record id only names a record in the daemon's log (SURVEY §1.1)
    and never reaches the output, so the cascade runs with ''."""
    memo = _STATE.setdefault("memo_" + mode, {})
    # keys known to defer: key -> (name_for_translit, place_arg); lets
    # repeated geo rows skip the phase-1 cascade entirely
    defer_memo = _STATE.setdefault("defer_memo_" + mode, {})
    n = len(tags_list)
    out = [None] * n
    deferred: list = []          # (i, tj, tags_or_None, tg, ll, sp, name, place, key)

    if mode == "localized":
        def run(t, tg, ll, sp, tr):
            return _names.get_localized_name_from_tags("", t, tg, None, tr)
    elif mode == "placename":
        def run(t, tg, ll, sp, tr):
            return _names.get_placename_from_tags("", t, ll, sp, tg, None, tr)
    else:
        def run(t, tg, ll, sp, tr):
            return _names.get_streetname_from_tags("", t, ll, sp, tg, None, tr)

    is_street_mode = mode == "streetname"
    default_sep = (_names.STREET_SEPARATOR if is_street_mode
                   else _names.PLACE_SEPARATOR)
    for i in range(n):
        tj = tags_list[i]
        if tj is None:
            out[i] = ""
            continue
        # lone-name rows: to_json emits exactly '{"name":"X"}' for a
        # one-key map.  When X holds no escape and no raw control
        # character, the cascade's path depends on X alone: a latin X
        # (P1) comes back as X (street mode: street_abbrev_latin(X)),
        # any other X goes straight to the transliteration tail.
        # Neither takes json.loads or phase 1.  On perfbench's
        # l10n_unique input the latin case is 0.35 of the rows (0.27
        # ASCII-only) and the other case 0.37.
        lone = _LONE_NAME.match(tj)
        if lone is not None:
            v = lone.group(1)
            if is_latin(v):
                out[i] = _abbrev.street_abbrev_latin(v) if is_street_mode else v
                continue
        tg = targets[i]
        ll = bool(lasts[i]) if lasts is not None else False
        sp = seps[i] if seps is not None else None
        key = (tg, ll, sp, tj)
        if lone is not None:
            deferred.append((i, tj, {"name": v}, tg, ll, sp,
                             _abbrev.street_abbrev_non_latin(v)
                             if is_street_mode else v, None, key))
            continue
        hit = memo.get(key)
        if hit is not None:
            out[i] = hit
            continue
        dm = defer_memo.get(key)
        if dm is not None:
            deferred.append((i, tj, None, tg, ll, sp, dm[0], dm[1], key))
            continue
        try:
            t = json.loads(tj)
            res = run(t, tg, ll, sp, _DEFER)
            out[i] = res
            if len(memo) < _MEMO_CAP:
                memo[key] = res
        except _DeferGeo as e:
            if len(defer_memo) < _MEMO_CAP:
                defer_memo[key] = (e.name, e.place)
            deferred.append((i, tj, t, tg, ll, sp, e.name, e.place, key))
        except Exception:
            out[i] = ""

    if deferred:
        # gate + batch country resolution (one vectorized PiP call);
        # place=None at the row level means "use the row's lon/lat"
        pts = np.array([(lons[d[0]], lats[d[0]]) if d[7] is None
                        else centroid(d[7]) for d in deferred],
                       dtype=np.float64)
        ccs = _gate_ccs([d[6] for d in deferred], pts[:, 0], pts[:, 1])
        geo_memo = _STATE.setdefault("geo_memo_" + mode, {})
        tl_memo = _STATE.setdefault("translit_memo", {})
        for (i, tj, t, tg, ll, sp, name, place, key), cc in zip(deferred,
                                                                  ccs):
            # geo-dependence is fully captured by (tags key, cc): two
            # rows with identical tags/flags and the same resolved
            # country produce identical output wherever they sit
            key2 = (key, cc)
            hit = geo_memo.get(key2)
            if hit is not None:
                out[i] = hit
                continue
            tkey = (cc, name)
            translit = tl_memo.get(tkey)
            if translit is None:
                try:
                    translit = _translit.transcript("", cc, name)
                except Exception:
                    translit = ""
                if len(tl_memo) < _MEMO_CAP:
                    tl_memo[tkey] = translit
            if mode == "localized":
                out[i] = translit
            else:
                try:
                    if t is None:
                        t = json.loads(tj)
                    out[i] = _names.format_combined_name(
                        _names.l10n_latn_names(t, translit, ll,
                                               is_street_mode),
                        default_sep if sp is None else sp)
                except Exception:
                    out[i] = ""
            if len(geo_memo) < _MEMO_CAP:
                geo_memo[key2] = out[i]
    return out


# ------------------------------------------------------------------
# scalar string kernels
@pandas_udf(StringType())
def udf_unaccent(s: pd.Series) -> pd.Series:
    return s.map(lambda v: _unaccent(v) if v is not None else None)


_ABBREV_COMPOSED = {
    "latin": _abbrev.street_abbrev_latin,          # en ∘ de ∘ fr (F8)
    "non_latin": _abbrev.street_abbrev_non_latin,  # ru ∘ uk (F9)
    "all": _abbrev.street_abbrev_all,              # latin ∘ non_latin (F10)
}


@pandas_udf(StringType())
def udf_street_abbrev(name: pd.Series, lang: pd.Series) -> pd.Series:
    """Per-language abbreviation (F2-F7); the pseudo-langs 'latin',
    'non_latin' and 'all' select the reference's compositions F8-F10."""
    out = []
    for n, lg in zip(name, lang):
        if n is None:
            out.append(None)
        elif lg in _ABBREV_COMPOSED:
            out.append(_ABBREV_COMPOSED[lg](n))
        else:
            out.append(_abbrev.street_abbrev(n, lg))
    return pd.Series(out)


@pandas_udf(BooleanType())
def udf_is_latin(s: pd.Series) -> pd.Series:
    return s.map(lambda v: is_latin(v) if v is not None else None)


@pandas_udf(StringType())
def udf_transliterate(name: pd.Series, cc: pd.Series) -> pd.Series:
    return pd.Series([
        _translit.transcript("", c if c is not None else "", n)
        if n is not None else None
        for n, c in zip(name, cc)])


# ------------------------------------------------------------------
# cascade UDFs: tags arrives as a JSON string column (to_json JVM-side;
# see _batch_localize for why not MapType)


def make_cascade_udf(mode: str, target: str, last: bool = False,
                     sep: str | None = None):
    """Factory variant of the cascade UDFs with the per-job constants
    (target language, name order, separator) CLOSED OVER instead of
    shipped as literal columns: the Arrow stream carries only
    (tags_json, lon, lat) per row instead of seven columns (constants
    would otherwise serialize per row; end-to-end flagship times on the
    bench host are noise-equal, but the per-row transfer volume drops
    ~40% — the lever that matters when executor memory bandwidth is the
    ceiling).  The record id exists for daemon-log parity only
    (SURVEY §1.1) and is not shipped."""
    @pandas_udf(StringType())
    def _u(tags: pd.Series, lon: pd.Series, lat: pd.Series) -> pd.Series:
        n = len(tags)
        return pd.Series(_batch_localize(
            tags.tolist(), [target] * n,
            None if mode == "localized" else [last] * n,
            None if mode == "localized" else [sep] * n,
            lon.tolist(), lat.tolist(), mode))
    return _u


def _sql_cascade_udf(mode: str):
    """The SQL-surface cascade UDF (``register_all``): arguments are
    columns in the reference order — record id, tags JSON, target,
    then (except in localized mode) name order and separator, then
    lon, lat.  The record id is accepted for API shape and ignored."""
    @pandas_udf(StringType())
    def _u(rid: pd.Series, tags: pd.Series, target: pd.Series,
           *rest: pd.Series) -> pd.Series:
        *order, lon, lat = (c.tolist() for c in rest)
        last, sep = order or (None, None)
        return pd.Series(_batch_localize(
            tags.tolist(), target.tolist(), last, sep, lon, lat, mode))
    return _u


udf_localized_name = _sql_cascade_udf("localized")
udf_placename = _sql_cascade_udf("placename")
udf_streetname = _sql_cascade_udf("streetname")


# ------------------------------------------------------------------
# micro-kernel UDFs (exercised by the q_micro_kernels gate query —
# each wraps one few-line pure kernel so it carries its own oracle row)
@pandas_udf(StringType())
def udf_langcode_from_tag(t: pd.Series) -> pd.Series:
    """P8: last ':'-separated non-empty tag segment, NULL when no ':'
    (get_localized_name_from_tags.lua:44-52)."""
    return pd.Series([_names.langcode_from_tag(x) for x in t],
                     dtype=object)


@pandas_udf(StringType())
def udf_sorted_rm_tags(arr: pd.Series) -> pd.Series:
    """W2: deterministic (sorted) romanization-tag scan order
    (get_localized_name_from_tags.lua:181), '|'-joined for transport."""
    return pd.Series(
        ["|".join(_names._sorted_rm_tags(dict.fromkeys(list(a))))
         for a in arr], dtype=object)


@pandas_udf(StringType())
def udf_capitalize_strip(s: pd.Series) -> pd.Series:
    """F20: per-token strip + capitalize + space-join via the kanji
    transcript kernel (geo-transcript-srv.py:155-158); a latin-only
    string is a single token, so this IS strip().capitalize()."""
    return pd.Series([_translit.kanji_transcript(x) for x in s],
                     dtype=object)


@pandas_udf(StringType())
def udf_centroid_quirk10(b: pd.Series) -> pd.Series:
    """F22: bbox → centroid with the reference degradation quirks
    (geo_transcript.lua:19-35); formatted as 'lon*10,lat*10' integers
    so the oracle compare is exact-decimal (gate inputs are .5-steps)."""
    out = []
    for place in b:
        lon, lat = centroid(place)
        out.append(f"{int(lon * 10)},{int(lat * 10)}")
    return pd.Series(out, dtype=object)


@pandas_udf(ArrayType(StringType()))
def udf_country_name(tags: pd.Series, target: pd.Series,
                     append: pd.Series) -> pd.Series:
    """C5 get_country_name: official-language name array with
    byte-Levenshtein dedup (get_country_name.lua:44-84)."""
    out = []
    for t, tg, ap in zip(tags, target, append):
        if t is None or t.get("ISO3166-1:alpha2") is None:
            out.append([])
            continue
        out.append(_names.get_country_name(dict(t), tg or "en", bool(ap)))
    return pd.Series(out)


# ------------------------------------------------------------------
# spatial UDFs (vectorized numpy inside)
@pandas_udf(StringType())
def udf_country_lookup(lon: pd.Series, lat: pd.Series) -> pd.Series:
    res = default_lookup().lookup(lon.to_numpy(dtype=np.float64),
                                  lat.to_numpy(dtype=np.float64))
    return pd.Series(res, dtype=object)


@pandas_udf(StringType())
def udf_country_gated(name: pd.Series, lon: pd.Series, lat: pd.Series) -> pd.Series:
    """``_gate_ccs`` over a (name, lon, lat) batch."""
    return pd.Series(_gate_ccs(name.tolist(), lon.to_numpy(dtype=np.float64),
                               lat.to_numpy(dtype=np.float64)), dtype=object)


# ------------------------------------------------------------------
def register_all(spark) -> None:
    """Expose the reference-shaped API to spark.sql (SURVEY.md §2.10)."""
    spark.udf.register("osml10n_unaccent", udf_unaccent)
    spark.udf.register("osml10n_street_abbrev", udf_street_abbrev)
    spark.udf.register("osml10n_is_latin", udf_is_latin)
    spark.udf.register("osml10n_translit", udf_transliterate)
    spark.udf.register("osml10n_cc", udf_country_lookup)
    spark.udf.register("osml10n_country_name", udf_country_name)
    spark.udf.register("osml10n_localized_name", udf_localized_name)
    spark.udf.register("osml10n_placename", udf_placename)
    spark.udf.register("osml10n_streetname", udf_streetname)
