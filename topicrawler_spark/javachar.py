"""Java ``Character.getType`` parity layer.

The reference segmenter (lt.seg) classifies characters with Java's
``Character.getType(int)`` (see reference ``lt.seg/.../SegmentType.java:156-174``,
``SegmentationUtils.java:199-205``). Python's ``unicodedata.category`` differs
from Java's tables on a number of codepoints and tracks a different Unicode
version, so for exact parity we ship a run-length-encoded dump of
``Character.getType`` for all codepoints 0..0x10FFFF, generated once with the
local JDK (see ``scripts/gen_chartypes.md``). Lookup is O(log n) via bisect on
~3.9k runs; a 256-entry direct table accelerates ASCII/Latin-1.
``char_class`` turns a set of types into a regex character class, so the
segmenter classifies whole strings at ``re`` speed from the same table.
"""

from __future__ import annotations

import bisect
import gzip
import os
import re

# Java Character type constants (java.lang.Character)
UNASSIGNED = 0
UPPERCASE_LETTER = 1
LOWERCASE_LETTER = 2
TITLECASE_LETTER = 3
MODIFIER_LETTER = 4
OTHER_LETTER = 5
NON_SPACING_MARK = 6
ENCLOSING_MARK = 7
COMBINING_SPACING_MARK = 8
DECIMAL_DIGIT_NUMBER = 9
LETTER_NUMBER = 10
OTHER_NUMBER = 11
SPACE_SEPARATOR = 12
LINE_SEPARATOR = 13
PARAGRAPH_SEPARATOR = 14
CONTROL = 15
FORMAT = 16
PRIVATE_USE = 18
SURROGATE = 19
DASH_PUNCTUATION = 20
START_PUNCTUATION = 21
END_PUNCTUATION = 22
CONNECTOR_PUNCTUATION = 23
OTHER_PUNCTUATION = 24
MATH_SYMBOL = 25
CURRENCY_SYMBOL = 26
MODIFIER_SYMBOL = 27
OTHER_SYMBOL = 28
INITIAL_QUOTE_PUNCTUATION = 29
FINAL_QUOTE_PUNCTUATION = 30

_TABLE_PATH = os.path.join(os.path.dirname(__file__), "resources", "java_chartypes.tsv.gz")

_starts: list[int] = []
_types: list[int] = []
_ascii: list[int] = []


def _load() -> None:
    global _starts, _types, _ascii
    if _starts:
        return
    starts: list[int] = []
    types: list[int] = []
    with gzip.open(_TABLE_PATH, "rt") as f:
        for line in f:
            s, t = line.split("\t")
            starts.append(int(s))
            types.append(int(t))
    _starts = starts
    _types = types
    _ascii = [_lookup(cp) for cp in range(256)]


def _lookup(cp: int) -> int:
    i = bisect.bisect_right(_starts, cp) - 1
    return _types[i]


def get_type(cp: int) -> int:
    """Java ``Character.getType(cp)`` for a codepoint / UTF-16 unit value."""
    if not _starts:
        _load()
    if 0 <= cp < 256:
        return _ascii[cp]
    if cp < 0 or cp > 0x10FFFF:
        return UNASSIGNED
    return _lookup(cp)


def char_class(types, utf16: bool = False) -> str:
    """Body of a regex character class (the text between ``[`` and ``]``)
    matching every codepoint whose Java type is in ``types``.

    With ``utf16`` the class describes a UTF-16 reader's view: an astral
    character is two ``SURROGATE`` units, so it belongs to the class exactly
    when ``SURROGATE`` is in ``types``. Built from the run table in one pass
    over its ~3.9k runs.
    """
    if not _starts:
        _load()
    top = 0xFFFF if utf16 else 0x10FFFF
    ranges: list[list[int]] = []

    def add(a: int, b: int) -> None:
        if ranges and ranges[-1][1] + 1 == a:
            ranges[-1][1] = b
        else:
            ranges.append([a, b])

    bounds = _starts + [0x110000]
    for k, t in enumerate(_types):
        if t in types and bounds[k] <= top:
            add(bounds[k], min(bounds[k + 1] - 1, top))
    if utf16 and SURROGATE in types:
        add(0x10000, 0x10FFFF)
    return "".join(
        re.escape(chr(a)) + ("-" + re.escape(chr(b)) if b > a else "") for a, b in ranges
    )
