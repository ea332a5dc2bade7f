"""Segment types and type inference (lt.seg ``SegmentType`` semantics).

Each token type owns a set of allowed Java char types; a segment is
classified as the *most specific* token type whose set covers all char types
seen in the segment (minimal |allowed| - |overlap|, first declared wins on
ties) — re-derived from ``SegmentType.infer`` (SegmentType.java:156-174).

The type sets are unions of six disjoint groups (upper, lower, number,
punctuation, empty space, other), so a segment's type only depends on which
groups it touches; the tokenizers read that off regex classes built here.
"""

from __future__ import annotations

from enum import IntEnum

from topicrawler_spark import javachar as jc

# the full char-type universe the reference segmenter considers
CHARTYPES = frozenset(
    {
        jc.UNASSIGNED, jc.UPPERCASE_LETTER, jc.LOWERCASE_LETTER, jc.TITLECASE_LETTER,
        jc.MODIFIER_LETTER, jc.OTHER_LETTER, jc.NON_SPACING_MARK, jc.ENCLOSING_MARK,
        jc.COMBINING_SPACING_MARK, jc.DECIMAL_DIGIT_NUMBER, jc.LETTER_NUMBER,
        jc.OTHER_NUMBER, jc.SPACE_SEPARATOR, jc.LINE_SEPARATOR, jc.PARAGRAPH_SEPARATOR,
        jc.CONTROL, jc.FORMAT, jc.PRIVATE_USE, jc.SURROGATE, jc.DASH_PUNCTUATION,
        jc.START_PUNCTUATION, jc.END_PUNCTUATION, jc.CONNECTOR_PUNCTUATION,
        jc.OTHER_PUNCTUATION, jc.MATH_SYMBOL, jc.CURRENCY_SYMBOL, jc.MODIFIER_SYMBOL,
        jc.OTHER_SYMBOL, jc.INITIAL_QUOTE_PUNCTUATION, jc.FINAL_QUOTE_PUNCTUATION,
    }
)

_UPPER = frozenset({jc.UPPERCASE_LETTER, jc.TITLECASE_LETTER})
_LOWER = frozenset({jc.LOWERCASE_LETTER, jc.MODIFIER_LETTER, jc.OTHER_LETTER})
_LETTERS = _UPPER | _LOWER
_NUMBERS = frozenset({jc.DECIMAL_DIGIT_NUMBER, jc.LETTER_NUMBER, jc.OTHER_NUMBER})
_PUNCT = frozenset(
    {
        jc.NON_SPACING_MARK, jc.ENCLOSING_MARK, jc.COMBINING_SPACING_MARK,
        jc.DASH_PUNCTUATION, jc.START_PUNCTUATION, jc.END_PUNCTUATION,
        jc.CONNECTOR_PUNCTUATION, jc.OTHER_PUNCTUATION,
        jc.INITIAL_QUOTE_PUNCTUATION, jc.FINAL_QUOTE_PUNCTUATION,
    }
)
_EMPTY_SPACE = frozenset({jc.SPACE_SEPARATOR, jc.LINE_SEPARATOR, jc.PARAGRAPH_SEPARATOR, jc.CONTROL})


class SegmentType(IntEnum):
    SENTENCE = 0
    WORD = 1
    WORD_WITH_NUMBER = 2
    NUMBER = 3
    WORD_UPPERCASE = 4
    WORD_LOWERCASE = 5
    PUNCTUATION = 6
    EMPTY_SPACE = 7
    NON_WORD = 8
    UNKNOWN = 9

    @property
    def symbol(self) -> str:
        return _SYMBOLS[self]


_SYMBOLS = {
    SegmentType.SENTENCE: "S",
    SegmentType.WORD: "w",
    SegmentType.WORD_WITH_NUMBER: "w0",
    SegmentType.NUMBER: "0",
    SegmentType.WORD_UPPERCASE: "W",
    SegmentType.WORD_LOWERCASE: "l",
    SegmentType.PUNCTUATION: ".",
    SegmentType.EMPTY_SPACE: " ",
    SegmentType.NON_WORD: "₩",
    SegmentType.UNKNOWN: "⸮",
}

# token types in declaration order (tie-break order of the reference enum)
TOKEN_TYPE_SETS: list[tuple[SegmentType, frozenset[int]]] = [
    (SegmentType.WORD, _LETTERS),
    (SegmentType.WORD_WITH_NUMBER, _LETTERS | _NUMBERS),
    (SegmentType.NUMBER, _NUMBERS),
    (SegmentType.WORD_UPPERCASE, _UPPER),
    (SegmentType.WORD_LOWERCASE, _LOWER),
    (SegmentType.PUNCTUATION, _PUNCT),
    (SegmentType.EMPTY_SPACE, _EMPTY_SPACE),
    (SegmentType.NON_WORD, CHARTYPES - _LETTERS),
]

WORD_WITH_NUMBER_TYPES = _LETTERS | _NUMBERS
EMPTY_SPACE_TYPES = _EMPTY_SPACE

READABLE = frozenset(
    {
        SegmentType.WORD, SegmentType.NUMBER, SegmentType.WORD_WITH_NUMBER,
        SegmentType.WORD_UPPERCASE, SegmentType.WORD_LOWERCASE, SegmentType.PUNCTUATION,
    }
)
WORDLIKE = frozenset({SegmentType.WORD, SegmentType.WORD_UPPERCASE, SegmentType.WORD_LOWERCASE})


def infer_type(char_types: set[int] | frozenset[int]) -> SegmentType:
    """Most specific covering token type (minimal surplus, first wins)."""
    best = SegmentType.UNKNOWN
    min_diff = None
    for st, allowed in TOKEN_TYPE_SETS:
        if not char_types <= allowed:
            continue
        diff = len(allowed) - len(char_types)
        if min_diff is None or diff < min_diff:
            min_diff = diff
            best = st
    return best


# Regex class bodies for the tokenizers, generated from the Java type table.
# A UTF-16 reader sees an astral character as two SURROGATE units, so these
# put every astral character with SURROGATE (no astral codepoint is empty
# space or a line separator by its own type either).
EMPTY_SPACE_CLASS = jc.char_class(_EMPTY_SPACE, utf16=True)
WORD_CHAR_CLASS = jc.char_class(_LETTERS | _NUMBERS, utf16=True)
LETTER_CLASS = jc.char_class(_LETTERS, utf16=True)
UPPER_CLASS = jc.char_class(_UPPER, utf16=True)
LOWER_CLASS = jc.char_class(_LOWER, utf16=True)
NUMBER_CLASS = jc.char_class(_NUMBERS, utf16=True)
PUNCT_CLASS = jc.char_class(_PUNCT, utf16=True)
# SegmentationUtils' line separators: \n, \r, \f and the LINE_SEPARATOR type
LINE_SEPARATOR_CLASS = "\n\r\f" + jc.char_class({jc.LINE_SEPARATOR})
