"""Property-based tests (hypothesis) for the from-scratch kernels whose
correctness SURVEY.md §7 flags as a hard part: the cell index bit-math
and the text kernels.  These complement the golden suite with
randomized invariants in pure numpy/python; only the JVM ≡ numpy edge
check at the end uses the shared Spark session."""
import unicodedata
import warnings

import numpy as np
from hypothesis import given, settings, strategies as st

from osml10n_spark.kernels import scripts, translit
from osml10n_spark.kernels import translit_data as td
from osml10n_spark.kernels.levenshtein import levenshtein_bytes
from osml10n_spark.kernels.unaccent import unaccent
from osml10n_spark.spatial.cellindex import (
    cell_center, cell_children, cell_from_lonlat, cell_res, cell_to_parent,
    k_ring, tile_from_lonlat, zorder_key,
)

lons = st.floats(min_value=-179.999, max_value=179.999,
                 allow_nan=False, allow_infinity=False)
lats = st.floats(min_value=-89.999, max_value=89.999,
                 allow_nan=False, allow_infinity=False)
resolutions = st.integers(min_value=1, max_value=12)


@settings(max_examples=200, deadline=None)
@given(lons, lats, resolutions)
def test_cell_roundtrip_contains_point(lon, lat, res):
    """The cell containing a point must have its center within half a
    cell of the point, and re-indexing the center gives the same cell."""
    cell = int(cell_from_lonlat(np.array([lon]), np.array([lat]), res)[0])
    assert cell_res(np.array([cell]))[0] == res
    clon, clat = cell_center(np.array([cell]))
    cell_w = 360.0 / (2 ** (res + 1))
    cell_h = 180.0 / (2 ** res)
    assert abs(clon[0] - lon) <= cell_w / 2 + 1e-9
    assert abs(clat[0] - lat) <= cell_h / 2 + 1e-9
    again = int(cell_from_lonlat(np.array([float(clon[0])]),
                                 np.array([float(clat[0])]), res)[0])
    assert again == cell


@settings(max_examples=200, deadline=None)
@given(lons, lats, resolutions)
def test_parent_child_containment(lon, lat, res):
    """parent(cell(p, res)) == cell(p, res-1); every cell is among its
    parent's children."""
    cell = int(cell_from_lonlat(np.array([lon]), np.array([lat]), res)[0])
    if res > 1:
        parent = int(cell_to_parent(np.array([cell]), res - 1)[0])
        direct = int(cell_from_lonlat(np.array([lon]), np.array([lat]),
                                      res - 1)[0])
        assert parent == direct
        kids = cell_children(np.array([parent]))
        assert cell in set(int(c) for c in kids.ravel())


@settings(max_examples=100, deadline=None)
@given(lons, lats, st.integers(min_value=1, max_value=3))
def test_k_ring_symmetry_and_membership(lon, lat, k):
    """The cell itself is in its k-ring; ring membership is symmetric
    (b in ring(a)  ⇒  a in ring(b)) away from the antimeridian wrap."""
    res = 6
    cell = int(cell_from_lonlat(np.array([lon]), np.array([lat]), res)[0])
    ring = [int(c) for c in k_ring(cell, k)]
    assert cell in ring
    assert len(ring) == len(set(ring))
    for other in ring[:5]:
        assert cell in {int(c) for c in k_ring(other, k)}


@settings(max_examples=200, deadline=None)
@given(lons, lats)
def test_tile_is_zorder_prefix(lon, lat):
    """tile_id at z is the morton prefix of the full-depth z-order key."""
    z, maxz = 8, 16
    tile = int(tile_from_lonlat(np.array([lon]), np.array([lat]), z, maxz)[0])
    zkey = int(zorder_key(np.array([lon]), np.array([lat]), maxz)[0])
    assert (tile & ((1 << 58) - 1)) == zkey >> (2 * (maxz - z))


@settings(max_examples=300, deadline=None)
@given(st.text(max_size=60))
def test_unaccent_idempotent_and_latin_stable(s):
    once = unaccent(s)
    assert unaccent(once) == once
    # plain ASCII is a fixed point
    if s.isascii():
        assert once == s


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=30), st.text(max_size=30))
def test_levenshtein_metric_properties(a, b):
    d = levenshtein_bytes(a, b)
    assert d == levenshtein_bytes(b, a)
    assert (d == 0) == (a == b)
    # upper bound: byte length of the longer string
    assert d <= max(len(a.encode()), len(b.encode()))


# ------------------------------------------------------------------
# Text-kernel parity: the table/regex kernels against the per-character
# definitions they replaced, kept here as reference implementations.

def _ref_unaccent(text):
    if text is None:
        return None
    out = []
    for c in text:
        if 0xAC00 <= ord(c) <= 0xD7A3:
            out.append(c)
            continue
        d = unicodedata.normalize("NFD", c)
        if d == c:
            out.append(c)
        else:
            out.extend(dc for dc in d if not unicodedata.combining(dc))
    return "".join(out)


_REF_PREDICATES = {
    "is_latin": lambda t: max(map(ord, t), default=0) <= 0x24F,
    "contains_cjk": lambda t: any(0x4E00 < ord(c) < 0x9FFF for c in t),
    "contains_cyrillic": lambda t: any(0x0400 < ord(c) < 0x04FF for c in t),
    "contains_thai": lambda t: any(0x0E00 < ord(c) < 0x0E7F for c in t),
}


def _ref_is_kana(c):
    return 0x3040 <= ord(c) <= 0x30FF


def _ref_is_han(c):
    return 0x4E00 <= ord(c) <= 0x9FFF or 0x3400 <= ord(c) <= 0x4DBF


def _ref_generic_transliterate(s):
    out, i, n = [], 0, len(s)
    while i < n:
        c = s[i]
        if c in td.CYRILLIC:
            out.append(td.CYRILLIC[c])
        elif c in td.GREEK:
            out.append(td.GREEK[c])
        elif _ref_is_kana(c) or _ref_is_han(c):
            same = _ref_is_kana if _ref_is_kana(c) else _ref_is_han
            j = i
            while j < n and same(s[j]):
                j += 1
            out.append(td.kana_to_romaji(s[i:j]) if same is _ref_is_kana
                       else " ".join(td.HAN_PINYIN.get(h, h) for h in s[i:j]))
            i = j
            continue
        elif 0xAC00 <= ord(c) <= 0xD7A3:
            out.append(td.hangul_to_latin(c))
        else:
            out.append(td.GEORGIAN.get(c, c))
        i += 1
    return unicodedata.normalize("NFC", "".join(out))


def _ref_split_by_alphabet(s):
    alpha = lambda c: unicodedata.name(c).split(" ")[0]  # noqa: E731
    runs, target, old = [], s[0], alpha(s[0])
    for c in s[1:]:
        a = alpha(c)
        if a == old:
            target += c
        else:
            runs.append(target)
            target = c
        old = a
    runs.append(target)
    return runs


def _ref_longest_match(s, i, words, max_len):
    for ln in range(min(max_len, len(s) - i), 0, -1):
        if s[i:i + ln] in words:
            return s[i:i + ln]
    return None


def _ref_jp_tokenize(s):
    tokens, i, n = [], 0, len(s)
    max_len = max(map(len, td.JP_WORDS))
    while i < n:
        if _ref_is_kana(s[i]):
            j = i
            while j < n and _ref_is_kana(s[j]):
                j += 1
            tokens.append(td.kana_to_romaji(s[i:j]))
            i = j
        elif _ref_is_han(s[i]):
            w = _ref_longest_match(s, i, td.JP_WORDS, max_len)
            tokens.extend(td.JP_WORDS[w] if w else [s[i]])
            i += len(w) if w else 1
        else:
            j = i
            while j < n and not _ref_is_kana(s[j]) and not _ref_is_han(s[j]):
                j += 1
            tokens.append(s[i:j])
            i = j
    return tokens


def _ref_thai_run_to_roman(run):
    parts, i = [], 0
    max_len = max(map(len, td.THAI_WORDS))
    while i < len(run):
        w = _ref_longest_match(run, i, td.THAI_WORDS, max_len)
        parts.append(td.THAI_WORDS[w] if w else run[i])
        i += len(w) if w else 1
    out = []
    for p in parts:
        if out and len(out[-1]) == 1 and len(p) == 1:
            out[-1] += p
        else:
            out.append(p)
    return " ".join(out)


def _outcome(fn, *args):
    """fn(*args), or the exception type it raised."""
    try:
        return fn(*args)
    except Exception as e:  # noqa: BLE001 - the type is the outcome
        return type(e)


# every strict bound of the script tests, the latin edge, the Hangul
# block ends, a bare combining mark, the Myanmar golden and the
# unnamed U+0378
_EDGE_CHARS = ("\u4e00\u4e01\u9ffe\u9fff\u0400\u0401\u04fe\u04ff"
               "\u0e00\u0e01\u0e7e\u0e7f\u024f\u0250\uac00\ud7a3"
               "\u0301\u0378")
_EDGE_TEXTS = list(_EDGE_CHARS) + ["ဘုရားကိုင်လမ်း", "Москва́", "東京みどり",
                                   "ห้องสมุดประชาชน"]
_WORDS = sorted(td.JP_WORDS) + sorted(td.THAI_WORDS) + _EDGE_TEXTS
# all of Unicode (surrogates included), dense draws over the scripts the
# kernels map, and whole dictionary words so the longest-match paths run
_TEXT = st.lists(st.one_of(
    st.characters(exclude_categories=()),
    st.characters(min_codepoint=0x0250, max_codepoint=0xD7A3),
    st.sampled_from(_WORDS)), max_size=12).map("".join)


def _check_text_kernels(s):
    assert unaccent(s) == _ref_unaccent(s)
    for name, ref in _REF_PREDICATES.items():
        assert getattr(scripts, name)(s) == ref(s), name
    assert translit.generic_transliterate(s) == _ref_generic_transliterate(s)
    assert translit._jp_tokenize(s) == _ref_jp_tokenize(s)
    if s:
        # '' never reaches the split (transcript returns '' first);
        # the old loop raised IndexError on it, the new one gives []
        assert (_outcome(translit.split_by_alphabet, s)
                == _outcome(_ref_split_by_alphabet, s))
        runs = _outcome(_ref_split_by_alphabet, s)
        if isinstance(runs, list):
            alpha = [unicodedata.name(r[0]).split(" ")[0] for r in runs]
            assert translit.thai_transcript(s) == "".join(
                _ref_thai_run_to_roman(r) if a == "THAI" else r
                for a, r in zip(alpha, runs))
            assert translit.cantonese_transcript(s) == "".join(
                " ".join(td.JYUTPING.get(c, c) for c in r) if a == "CJK"
                else r for a, r in zip(alpha, runs))


@settings(max_examples=500, deadline=None)
@given(_TEXT)
def test_text_kernels_match_per_character_reference(s):
    _check_text_kernels(s)


def test_text_kernels_match_reference_on_edges():
    assert unaccent(None) is None
    for s in _EDGE_TEXTS + ["", "Kö\u0250", "\u0250" + "ถนน" + "\u0378"]:
        _check_text_kernels(s)
    assert scripts.is_latin("\u024f") and not scripts.is_latin("\u0250")
    # an unnamed code point fails the split every time, never cached
    for _ in range(2):
        assert _outcome(translit.split_by_alphabet, "a\u0378") is ValueError
        assert translit.transcript("", "th", "ถนน\u0378") == ""


_EDGE = [float("inf"), float("-inf"), float("nan"), 0.0, -0.0,
         180.0, -180.0, 90.0, -90.0, 1e300, -1e300,
         np.nextafter(180.0, 0.0), np.nextafter(-180.0, 0.0),
         np.nextafter(90.0, 0.0), np.nextafter(-90.0, 0.0),
         179.999999, -179.999999, 89.999999, -89.999999, 12.5]


def test_cell_tile_jvm_matches_numpy_at_edges(spark):
    """cell_expr/tile_expr (JVM) ≡ cell_from_lonlat/tile_from_lonlat
    (numpy) on every (lon, lat) pair of an adversarial list: ±inf, NaN,
    ±0.0, the exact ±180/±90 edges, ±1e300 and values just inside the
    edges, at two resolutions and two zooms.  The JVM saturates
    floor() to the long range, so the numpy twin must clip before its
    int cast — and must do so without a cast warning."""
    from pyspark.sql import functions as F

    from osml10n_spark.spatial.cellexpr import cell_expr, tile_expr

    pairs = [(lon, lat) for lon in _EDGE for lat in _EDGE]
    lon = np.array([p[0] for p in pairs])
    lat = np.array([p[1] for p in pairs])
    df = spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in enumerate(pairs)],
        "i long, lon double, lat double")
    cols = []
    for res in (3, 9):
        cols.append(cell_expr(F.col("lon"), F.col("lat"), res)
                    .alias(f"cell{res}"))
    for z in (0, 8):
        cols.append(tile_expr(F.col("lon"), F.col("lat"), z)
                    .alias(f"tile{z}"))
    rows = sorted(df.select("i", *cols).collect())
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        want = {f"cell{r}": cell_from_lonlat(lon, lat, r) for r in (3, 9)}
        want.update({f"tile{z}": tile_from_lonlat(lon, lat, z)
                     for z in (0, 8)})
    for name, arr in want.items():
        got = np.array([r[name] for r in rows], dtype=np.int64)
        bad = np.flatnonzero(got != arr)
        assert bad.size == 0, (name, [(pairs[i], int(got[i]), int(arr[i]))
                                      for i in bad[:5]])
