"""Name-selection cascade kernels — the localization core.

Faithful re-derivation of lua_osml10/osml10n/get_localized_name_from_tags.lua
(combined-name heuristic :80-250, cascade :269-390, formatting :56-73)
and get_country_name.lua:44-84, with the reference's byte-level Lua
pattern semantics replicated where observable:

- boundary classes in the bilingual-substring search:
  local-name search uses ``[][%s()%-,;:/]`` (hyphen included), the
  additional-name search uses ``[][%s()-,;:/]`` where ``)-,`` is a byte
  RANGE covering ``) * + ,`` and NOT the hyphen (:148 vs :188);
- the local name is escaped by prefixing every non-alnum byte with ``%``
  (fully literal, :144) while additional names get the crude
  ``. → ::`` / ``][()%+*?^$ → @`` substitution (:185-186), leaving ``-``
  behaving as a Lua lazy quantifier — all replicated;
- deterministic divergence (documented): where the reference iterates
  unordered Lua tables for the romanization-tag scan
  (get_localized_name_from_tags.lua:310,374), we use sorted key order.

String positions/lengths are computed on UTF-8 bytes throughout, as the
reference does.
"""
from __future__ import annotations

import json
import re
from importlib import resources

from .abbrev import (
    street_abbrev,
    street_abbrev_all,
    street_abbrev_latin,
    street_abbrev_non_latin,
)
from .levenshtein import levenshtein_bytes
from .scripts import is_latin
from .unaccent import unaccent

__all__ = [
    "LATIN_LANGS",
    "format_combined_name",
    "gen_combined_names",
    "get_names_from_tags",
    "l10n_latn_names",
    "get_localized_name_from_tags",
    "get_streetname_from_tags",
    "get_placename_from_tags",
    "get_country_name",
    "country_languages",
    "langcode_from_tag",
]

# 5 most commonly spoken latin-script languages, probe order fixed
# (get_localized_name_from_tags.lua:12)
LATIN_LANGS = ("en", "fr", "es", "pt", "de")

# default separators of the street and place formatters (:394-412)
STREET_SEPARATOR = " - "
PLACE_SEPARATOR = "\n"

LTR_OPEN = "‪"
LTR_CLOSE = "‬"

# class at :188 — ``)-,`` is the byte range 0x29..0x2C = ) * + ,
# (regex form used only by the lazy-quantifier tag path; the literal
# scans use the byte sets below)
_CLS_TAG = rb"[\]\[\t\n\v\f\r ()*+,;:/]"

_LANG_TAG_RE = re.compile(r"^name:[a-z][a-z][a-z]?$")
_RM_TAG_RE = re.compile(r"^name:[a-z][a-z][a-z]?_rm$")
_LATN_TAG_RE = re.compile(r"^name:[a-z][a-z][a-z]?-Latn$")


def country_languages() -> dict[str, list[str]]:
    """cc → official languages (250 rows; data derived from the OSM wiki
    like country_languages.lua:1-3; served as a broadcast dimension)."""
    if not hasattr(country_languages, "_cache"):
        ref = resources.files("osml10n_spark").joinpath("data/country_languages.json")
        country_languages._cache = json.loads(ref.read_text())
    return country_languages._cache


def langcode_from_tag(tag: str) -> str | None:
    """Last ':'-separated non-empty segment, None when no ':'
    (get_localized_name_from_tags.lua:44-52)."""
    if ":" not in tag:
        return None
    return tag.rstrip(":").rpartition(":")[2] or None


# byte sets for the two Lua boundary classes (see header): membership
# tests for the literal-scan fast path (no regex compilation per row —
# unique-caption corpora thrash Python's 512-entry re cache otherwise)
_CLS_LOCAL_SET = frozenset(b"][\t\n\v\f\r ()-,;:/")
_CLS_TAG_SET = frozenset(b"][\t\n\v\f\r ()*+,;:/")


def _find_literal_pos(hay: bytes, needle: bytes, cls_set: frozenset):
    """1-based position of the first cls+needle+cls match where needle
    is a LITERAL byte string — equivalent to the regex search but
    allocation-free.  Returns None when not found.

    Empty needle parity: Lua's cls..escaped..cls pattern with an empty
    escaped middle still matches any two ADJACENT class bytes — e.g. an
    empty name:xx tag 'matches' at ' -' inside 'Bolzano - Bozen'
    (string.find returns the position of the first class byte)."""
    if not needle:
        for j in range(len(hay) - 1):
            if hay[j] in cls_set and hay[j + 1] in cls_set:
                return j + 1
        return None
    start = 1
    nlen = len(needle)
    while True:
        i = hay.find(needle, start)
        if i < 1:
            return None
        j = i + nlen
        if j < len(hay) and hay[i - 1] in cls_set and hay[j] in cls_set:
            return i          # boundary char at i-1 (0-based) → 1-based i
        start = i + 1


def _lua_tag_pattern(unacc_tag: bytes) -> bytes:
    """Replicate the crude escaping at :185-186 and the residual Lua
    pattern semantics: '.'→'::', set chars→'@', then '-' acts as a lazy
    quantifier on the preceding byte."""
    t = unacc_tag.replace(b".", b"::")
    t = bytes(b"@"[0] if c in b"][()%+*?^$" else c for c in t)
    tokens: list[bytes] = []
    for c in t:
        if c == ord("-") and tokens and not tokens[-1].endswith(b"*?"):
            tokens[-1] += b"*?"
        else:
            tokens.append(re.escape(bytes([c])))
    return b"".join(tokens)


def _find_pos(hay: bytes, middle_pattern: bytes, cls: bytes):
    """1-based byte position of the first match of cls+middle+cls, or None."""
    m = re.search(cls + middle_pattern + cls, hay)
    return (m.start() + 1) if m else None


def format_combined_name(names: list[str], separator: str) -> str:
    """Join name arrays with LTR embedding marks — exact port of
    get_localized_name_from_tags.lua:56-73: the ''-guards compare only
    positions 1/2 (a nil position never equals ''), and EVERY other
    array — including a single name — gets the U+202A/U+202C wrap."""
    if len(names) >= 1 and names[0] == "":
        return names[1] if len(names) >= 2 else ""     # Lua returns nil
    if len(names) >= 2 and names[1] == "":
        return names[0]
    return LTR_OPEN + separator.join(names) + LTR_CLOSE


def gen_combined_names(local_tag: str, tags: dict, localized_name_last,
                       is_street: bool = False, non_latin: bool = False) -> list[str]:
    """Bilingual combined-name heuristic (the hardest kernel,
    get_localized_name_from_tags.lua:80-250)."""
    resarr = ["", ""]
    langcode = langcode_from_tag(local_tag)
    local_name = tags[local_tag]

    if langcode == "l10n_Latn":           # internal pseudo tag (:99-102)
        tags.pop(local_tag, None)

    # indices frozen from the ORIGINAL flag (:105-109) — the later
    # forcing (:149-152) does not retroactively change them
    if localized_name_last:
        idxl, idxn = 1, 0
    else:
        idxl, idxn = 0, 1

    name_val = tags.get("name")
    if name_val is None:                   # (:111-118)
        resarr[idxl] = street_abbrev(local_name, langcode) if is_street else local_name
        return resarr

    unacc = unaccent(name_val) if is_latin(name_val) else name_val
    unacc_local = unaccent(local_name)
    found = False

    unacc_b = unacc.encode("utf-8")
    unacc_local_b = unacc_local.encode("utf-8")
    hay = b" " + unacc_b + b" "

    pos = _find_literal_pos(hay, unacc_local_b, _CLS_LOCAL_SET)  # (:148)
    if pos == 1 and localized_name_last:   # forcing (:149-152)
        localized_name_last = False

    additional_names: list[str] = []
    if pos is not None:
        if len(unacc_b) == len(unacc_local_b):    # equal-length shortcut (:158-165)
            resarr[idxn] = street_abbrev(name_val, langcode) if is_street else name_val
            return resarr

        # extract name:XX language tags present inside generic name,
        # ordered by byte position of the match (:170-196)
        tmp: dict[int, str] = {}
        lang_names = sorted(t for t in tags if _LANG_TAG_RE.match(t))
        for tag in lang_names:
            unacc_tag = unaccent(tags[tag])
            if unacc_tag != unacc_local:
                raw = unacc_tag.encode("utf-8")
                crude = raw.replace(b".", b"::")
                crude = bytes(b"@"[0] if c in b"][()%+*?^$" else c
                              for c in crude)
                if b"-" not in crude:
                    # fully literal after the crude escaping → byte scan
                    utag_pos = _find_literal_pos(hay, crude, _CLS_TAG_SET)
                else:
                    # '-' behaves as a Lua lazy quantifier → regex path
                    pat = _lua_tag_pattern(raw)
                    try:
                        utag_pos = _find_pos(hay, pat, _CLS_TAG)
                    except re.error:
                        utag_pos = None
                if utag_pos is not None:
                    tmp[utag_pos] = tag
                    found = True
        additional_names = [tmp[k] for k in sorted(tmp)]

        if not found:                      # (:198-205)
            resarr[idxl] = street_abbrev_all(local_name) if is_street else local_name
            return resarr

    if not additional_names:               # (:207-209)
        additional_names = ["name"]

    resarr = []
    if is_street:                          # (:212-237)
        def _local_abbr():
            if langcode is not None:
                return street_abbrev(local_name, langcode)
            return street_abbrev_latin(local_name)

        if not localized_name_last:
            resarr.append(_local_abbr())
        for v in additional_names:
            if ":" in v:
                resarr.append(street_abbrev(tags[v], langcode_from_tag(v)))
            elif non_latin:
                resarr.append(street_abbrev_non_latin(tags[v]))
            else:
                resarr.append(street_abbrev_all(tags[v]))
        if localized_name_last:
            resarr.append(_local_abbr())
    else:                                  # (:238-248)
        if not localized_name_last:
            resarr.append(local_name)
        for v in additional_names:
            resarr.append(tags[v])
        if localized_name_last:
            resarr.append(local_name)
    return resarr


def _sorted_rm_tags(tags: dict) -> list[str]:
    """Romanization-tag scan in deterministic (sorted) order — the
    reference's pairs() order is unspecified (:310-315,:374-379);
    divergence documented in SURVEY.md §7."""
    return sorted(t for t in tags if _RM_TAG_RE.match(t) or _LATN_TAG_RE.match(t))


def get_names_from_tags(rec_id: str, tags: dict, localized_name_last,
                        is_street: bool, targetlang: str | None = None,
                        place=None, transcriptor=None) -> list[str]:
    """Array-valued cascade (get_localized_name_from_tags.lua:269-333).

    ``transcriptor`` supplies geo_transcript(id, name, place) and
    country_transcript(id, name, cc); defaults to the built-in
    geometry-backed one (osml10n_spark.kernels.geo).
    """
    if transcriptor is None:
        from . import geo
        transcriptor = geo.default_transcriptor()
    if targetlang is None:
        targetlang = "en"
    tags = dict(tags)          # the cascade mutates (l10n_Latn insertion/removal)

    target_tag = "name:" + targetlang
    if tags.get(target_tag) is not None:
        return gen_combined_names(target_tag, tags, localized_name_last, is_street)

    name_val = tags.get("name")
    if name_val is None:
        return ["", ""]

    if is_latin(name_val):
        first = street_abbrev_latin(name_val) if is_street else name_val
        return [first, ""]

    int_name = tags.get("int_name")
    if int_name is not None and is_latin(int_name):
        return gen_combined_names("int_name", tags, localized_name_last, is_street, True)

    for lang in LATIN_LANGS:
        if lang != targetlang and tags.get("name:" + lang) is not None:
            return gen_combined_names("name:" + lang, tags, localized_name_last,
                                      is_street, True)

    for tag in _sorted_rm_tags(tags):
        return gen_combined_names(tag, tags, localized_name_last, is_street, True)

    if tags.get("name:ja-Hira") is not None:
        # reference sends a malformed 3-field XY frame here (C7 protocol
        # bug, geo_transcript.lua:55-78 vs geo-transcript-srv.py:267);
        # we implement the INTENDED semantics (forced-cc transliteration)
        return l10n_latn_names(tags, transcriptor.country_transcript(
            rec_id, tags["name:ja-Hira"], "jp"), localized_name_last, is_street)

    if is_street:
        name_val = street_abbrev_non_latin(name_val)
    return l10n_latn_names(tags, transcriptor.geo_transcript(
        rec_id, name_val, place), localized_name_last, is_street)


def l10n_latn_names(tags: dict, latn: str, localized_name_last,
                    is_street: bool) -> list[str]:
    """The cascade's transliteration tail (:310-315): combine ``tags``
    (mutated) with ``latn`` as the pseudo tag ``name:l10n_Latn``.  The
    batch UDFs call it directly once a deferred row's country is known."""
    tags["name:l10n_Latn"] = latn
    return gen_combined_names("name:l10n_Latn", tags, localized_name_last, is_street)


def get_localized_name_from_tags(rec_id: str, tags: dict,
                                 targetlang: str | None = None,
                                 place=None, transcriptor=None) -> str:
    """Scalar cascade (get_localized_name_from_tags.lua:335-390)."""
    if transcriptor is None:
        from . import geo
        transcriptor = geo.default_transcriptor()
    if targetlang is None:
        targetlang = "en"

    v = tags.get("name:" + targetlang)
    if v is not None:
        return v
    name_val = tags.get("name")
    if name_val is None:
        return ""
    if is_latin(name_val):
        return name_val
    int_name = tags.get("int_name")
    if int_name is not None and is_latin(int_name):
        return int_name
    for lang in LATIN_LANGS:
        if lang != targetlang:
            v = tags.get("name:" + lang)
            if v is not None:
                return v
    for tag in _sorted_rm_tags(tags):
        return tags[tag]
    hira = tags.get("name:ja-Hira")
    if hira is not None:
        # the reference passes the STRING 'jp' as bbox (:383) which
        # degrades to lon=0/lat=0 → cc='' → generic kana romanization
        return transcriptor.geo_transcript(rec_id, hira, "jp")
    return transcriptor.geo_transcript(rec_id, name_val, place)


def get_streetname_from_tags(rec_id: str, tags: dict, localized_name_last,
                             separator: str | None = None,
                             targetlang: str | None = None, place=None,
                             transcriptor=None) -> str:
    """(:394-401)"""
    if separator is None:
        separator = STREET_SEPARATOR
    names = get_names_from_tags(rec_id, tags, localized_name_last, True,
                                targetlang, place, transcriptor)
    return format_combined_name(names, separator)


def get_placename_from_tags(rec_id: str, tags: dict, localized_name_last,
                            separator: str | None = None,
                            targetlang: str | None = None, place=None,
                            transcriptor=None) -> str:
    """(:405-412)"""
    if separator is None:
        separator = PLACE_SEPARATOR
    names = get_names_from_tags(rec_id, tags, localized_name_last, False,
                                targetlang, place, transcriptor)
    return format_combined_name(names, separator)


def get_country_name(tags: dict, targetlang: str, append: bool = False) -> list[str]:
    """Country-name dedup with byte-Levenshtein threshold 1
    (get_country_name.lua:44-84)."""
    ldistmin = 1
    names: list[str] = []
    target_name = tags.get("name:" + targetlang)
    if append is not True and target_name is not None:
        names.append(target_name)
    languages = country_languages().get(tags["ISO3166-1:alpha2"].lower(), [])
    for v in languages:
        cand = tags.get("name:" + v)
        if cand is not None and cand != target_name:
            ldistall = ldistmin + 1
            for name in names:
                ldist = levenshtein_bytes(name, cand)
                if ldistall > ldist:
                    ldistall = ldist
            if ldistall > ldistmin:
                names.append(cand)
    if append and target_name is not None:
        names.append(target_name)
    return names
