"""Accent stripping (libunac parity).

Reference: lua_unac/lua_unac.c:18-33 calls unac_string("UTF-8", ...),
which is decomposition-based: each character is replaced by its Unicode
canonical decomposition with combining marks dropped.  Notably this means
``ß`` is preserved (no decomposition) and ``ü`` → ``u`` (NOT ``ue``).

Unlike Python's blanket NFD+strip-Mn, libunac's table holds only the
UnicodeData.txt decompositions, so two classes of characters pass
through UNCHANGED:

- Hangul syllables (decomposition is algorithmic, not tabled);
- standalone combining marks that are not part of any decomposition
  (e.g. Myanmar ASAT/virama in ဘုရားကိုင်လမ်း — proven by the combined-name
  golden at runtests.lua:258-262, which only matches if unaccent leaves
  the marks in place).

We replicate that with one ``str.translate`` through ``_TABLE``, a
per-code-point table filled on first sight: a character with a tabled
canonical decomposition (any but a Hangul syllable) maps to the
decomposition minus combining marks; every other character maps to
itself.

Goldens: lua_osml10/tests/runtests.lua:102-104
  Besançon → Besancon, München → Munchen, Brüssel → Brussel.
"""
from __future__ import annotations

import unicodedata

__all__ = ["unaccent"]


class _UnacTable(dict):
    """code point → libunac replacement, computed once per code point."""

    def __missing__(self, cp: int) -> str:
        c = chr(cp)
        d = unicodedata.normalize("NFD", c)
        if d != c and not 0xAC00 <= cp <= 0xD7A3:
            c = "".join(dc for dc in d if not unicodedata.combining(dc))
        self[cp] = c
        return c


_TABLE = _UnacTable()


def unaccent(text: str) -> str:
    """Strip accents/diacritics via canonical decomposition, dropping
    combining marks; Hangul syllables are preserved (libunac parity)."""
    if text is None:
        return None
    if text.isascii():          # fast path: nothing to decompose
        return text
    return text.translate(_TABLE)
