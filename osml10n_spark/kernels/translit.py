"""Transliteration kernels — the engine's replacement for the reference
transcription daemon (transcription-daemon/geo-transcript-srv.py).

The daemon's per-record TCP round trip is eliminated: these are pure
functions invoked inside Arrow-batched pandas UDFs; the country routing
(`transcript`, mirroring geo-transcript-srv.py:160-179) and the
CJK/Thai gate (:268-275) are replicated exactly.

Library replacements (pykakasi/tltk/pinyin_jyutping_sentence/PyICU are
not available): deterministic table-driven kernels in translit_data.py,
golden-checked against lua_osml10/tests/runtests.lua:146-173,230-250.
"""
from __future__ import annotations

import re
import unicodedata
from itertools import groupby

from .scripts import contains_cjk, contains_thai
from .translit_data import (
    CYRILLIC,
    GEORGIAN,
    GREEK,
    HAN_PINYIN,
    JP_WORDS,
    JYUTPING,
    THAI_WORDS,
    hangul_to_latin,
    kana_to_romaji,
)

__all__ = [
    "split_by_alphabet",
    "generic_transliterate",
    "kanji_transcript",
    "thai_transcript",
    "cantonese_transcript",
    "transcript",
    "BOUNDARY_CCS",
]

# Countries with special transliterators (= the reference boundary set;
# tw is in the set but routes to the generic path, geo-transcript-srv.py:174).
BOUNDARY_CCS = frozenset({"hk", "jp", "mo", "th", "tw"})


_ALPHABETS: dict[str, str] = {}


def _alphabet(c: str) -> str:
    """First word of the Unicode character name (geo-transcript-srv.py:75),
    memoized per character; an unnamed character raises ``ValueError``
    every time and is never cached."""
    a = _ALPHABETS.get(c)
    if a is None:
        a = _ALPHABETS[c] = unicodedata.name(c).split(" ")[0]
    return a


def _alphabet_runs(s: str):
    """(alphabet, run) pairs of the maximal same-alphabet runs of ``s``."""
    return [(a, "".join(g)) for a, g in groupby(s, _alphabet)]


def split_by_alphabet(s: str) -> list[str]:
    """Split into runs of same leading-unicodedata-name word.

    Parity with geo-transcript-srv.py:72-86 — raises ValueError for
    unnamed characters exactly like ``unicodedata.name`` does there
    (the daemon's per-request handler turns that into an '' reply).
    """
    return [run for _, run in _alphabet_runs(s)]


_KANA = "\u3040-\u30FF"
_HAN = "\u3400-\u4DBF\u4E00-\u9FFF"


def _longest_first(words) -> str:
    """Regex alternation that matches the longest of ``words`` at a position."""
    return "|".join(map(re.escape, sorted(words, key=len, reverse=True)))


class _GenericTable(dict):
    """code point → Latin for the per-character scripts: Cyrillic, Greek
    and Georgian from their tables, Hangul syllables by arithmetic
    (filled on first sight); everything else maps to itself."""

    def __missing__(self, cp: int) -> str:
        v = self[cp] = hangul_to_latin(chr(cp))
        return v


_GENERIC = _GenericTable({ord(k): v for table in (CYRILLIC, GREEK, GEORGIAN)
                          for k, v in table.items()})
# kana and Han runs; no table value above is empty or kana/Han, so the
# runs are the same before and after the translate
_KANA_HAN_RUN = re.compile(f"([{_KANA}]+)|([{_HAN}]+)")


def _romanize_run(m: re.Match) -> str:
    if m.group(1):
        return kana_to_romaji(m.group(1))
    return " ".join([HAN_PINYIN.get(ch, ch) for ch in m.group(2)])


def generic_transliterate(s: str) -> str:
    """ICU `Any-Latin` + NFC replacement (geo-transcript-srv.py:144,174-176).

    Per-character table mapping (Cyrillic/Greek/Georgian by lookup,
    Hangul by arithmetic), then kana runs via the romaji kernel and Han
    runs as space-joined pinyin; anything unmapped is passed through;
    combining marks survive and NFC recomposes (so Москва́ → Moskvá).
    """
    return unicodedata.normalize(
        "NFC", _KANA_HAN_RUN.sub(_romanize_run, s.translate(_GENERIC)))


# one token per match: a kana run, a dictionary word (every JP_WORDS key
# starts with Han) or one Han character, or a non-Japanese run
_JP_TOKEN = re.compile(
    f"([{_KANA}]+)|({_longest_first(JP_WORDS)}|[{_HAN}])|([^{_KANA}{_HAN}]+)")


def _jp_tokenize(s: str) -> list[str]:
    """Fake-pykakasi tokenizer: dictionary longest-match for kanji,
    kana runs as single romaji tokens, non-Japanese runs passed through
    as single tokens (so ' 100 abc' stays one token and survives
    ``str.capitalize`` unchanged, matching geo-transcript-srv.py:151-158).
    """
    tokens: list[str] = []
    for kana, han, other in _JP_TOKEN.findall(s):
        if kana:
            tokens.append(kana_to_romaji(kana))
        elif han in JP_WORDS:
            tokens.extend(JP_WORDS[han])
        else:
            tokens.append(han or other)
    return tokens


def kanji_transcript(s: str) -> str:
    """pykakasi-replacement (geo-transcript-srv.py:151-158): per token
    strip + capitalize + space-join."""
    out = ""
    for w in _jp_tokenize(s):
        h = w.strip()
        if h:
            out += h.capitalize() + " "
    return out.strip()


_THAI_WORD = re.compile(_longest_first(THAI_WORDS) + "|.", re.S)


def _thai_run_to_roman(run: str) -> str:
    """Fake tltk.nlp.th2roman: longest-match word segmentation,
    space-joined (already '<s/>'-stripped)."""
    # join word-level outputs with spaces, collapsing single leftovers
    out: list[str] = []
    for w in _THAI_WORD.findall(run):
        p = THAI_WORDS.get(w, w)
        if out and len(out[-1]) == 1 and len(p) == 1:
            out[-1] += p
        else:
            out.append(p)
    return " ".join(out)


def thai_transcript(s: str) -> str:
    """Parity with geo-transcript-srv.py:88-103 — THAI runs romanized,
    other runs pass through, concatenated without extra separators."""
    return "".join(_thai_run_to_roman(run) if a == "THAI" else run
                   for a, run in _alphabet_runs(s))


def cantonese_transcript(s: str) -> str:
    """Parity with geo-transcript-srv.py:105-120 — CJK runs become
    space-joined jyutping syllables."""
    return "".join(" ".join([JYUTPING.get(c, c) for c in run]) if a == "CJK"
                   else run for a, run in _alphabet_runs(s))


def transcript(rec_id: str, cc: str, name: str) -> str:
    """Country-routed transliteration (geo-transcript-srv.py:160-179).

    cc='jp' → kanji; 'th' → thai; 'mo'/'hk' → cantonese; anything else
    (including 'tw', '' and unknown ccs) → generic Any-Latin + NFC.
    Per-record errors yield '' like the daemon's handler (:291-293).
    """
    if name == "":
        return ""
    try:
        if cc in BOUNDARY_CCS:
            if cc == "jp":
                return kanji_transcript(name)
            if cc == "th":
                return thai_transcript(name)
            if cc in ("mo", "hk"):
                return cantonese_transcript(name)
        return generic_transliterate(name)
    except Exception:
        return ""


def gate_cc(name: str, resolve_cc) -> str:
    """The daemon's XY gate (geo-transcript-srv.py:268-275): spatial
    lookup only for CJK names; Thai charset short-circuits to 'th';
    everything else skips geometry entirely."""
    if contains_cjk(name):
        return resolve_cc()
    if contains_thai(name):
        return "th"
    return ""
