"""Script-class predicates (exact boundary parity with the reference).

Reference semantics (all boundaries are *strict* where the reference used
strict comparisons):

- is_latin:          all codepoints <= 0x24F            helper_functions.lua:5-12
- contains_cjk:      any 0x4E00 <  c < 0x9FFF (strict)  helper_functions.lua:17-24,
                     twin in geo-transcript-srv.py:134-138
- contains_cyrillic: any 0x0400 <  c < 0x04FF (strict)  helper_functions.lua:29-36
- contains_thai:     any 0x0E00 <  c < 0x0E7F (strict)  geo-transcript-srv.py:125-129

Each predicate has one definition in two forms: a Spark SQL regex
(``RE_*``, JVM-side; used to keep hot paths out of Python entirely) and
a Python function over the same regex compiled once (``is_latin`` is
its ``max`` form: the largest code point decides).
"""
from __future__ import annotations

import re

__all__ = [
    "is_latin",
    "contains_cjk",
    "contains_cyrillic",
    "contains_thai",
    "RE_NON_LATIN",
    "RE_CJK",
    "RE_CYRILLIC",
    "RE_THAI",
]

# Spark-side regexes (for F.rlike / regexp_like) — JVM, codegen-friendly;
# the Python predicates below search the same patterns.
# is_latin(col)          ==  NOT col RLIKE RE_NON_LATIN
# contains_cjk(col)      ==  col RLIKE RE_CJK
RE_NON_LATIN = "[^\\x00-\\u024F]"
RE_CJK = "[\\u4E01-\\u9FFE]"
RE_CYRILLIC = "[\\u0401-\\u04FE]"
RE_THAI = "[\\u0E01-\\u0E7E]"


_CJK = re.compile(RE_CJK)
_CYRILLIC = re.compile(RE_CYRILLIC)
_THAI = re.compile(RE_THAI)


def is_latin(text: str) -> bool:
    """True iff every codepoint is <= U+024F (Latin Extended-B end)."""
    return text.isascii() or max(text) <= "\u024f"


def contains_cjk(text: str) -> bool:
    """True iff any codepoint is strictly inside (U+4E00, U+9FFF)."""
    return not text.isascii() and _CJK.search(text) is not None


def contains_cyrillic(text: str) -> bool:
    """True iff any codepoint is strictly inside (U+0400, U+04FF)."""
    return not text.isascii() and _CYRILLIC.search(text) is not None


def contains_thai(text: str) -> bool:
    """True iff any codepoint is strictly inside (U+0E00, U+0E7F)."""
    return not text.isascii() and _THAI.search(text) is not None
