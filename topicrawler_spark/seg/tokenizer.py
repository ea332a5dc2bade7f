"""Tokenizers (lt.seg ``DiffTokenizer`` / ``EmptySpaceTokenizer`` semantics).

DiffTokenizer emits a new segment whenever the character stream transitions
between empty-space and non-empty-space, or into/out of the
letters+digits class (``WORD_WITH_NUMBER.allowedCharacterTypes``) — re-derived
from ``DiffTokenizer.java:55-93``. A NUL character terminates tokenization
(the reference's read loop runs ``while (cp > 0)``).

Classification uses Java char types at UTF-16 granularity (astral chars are
two SURROGATE units and thus never split internally). Segments and their
types come from one precompiled ``re`` pattern over character classes
generated from the Java type table (``segtypes``): each alternative matches a
maximal run whose type-group set decides ``SegmentType.infer``.
"""

from __future__ import annotations

import re

from topicrawler_spark import javachar as jc
from topicrawler_spark.seg.segtypes import (
    EMPTY_SPACE_CLASS as _S,
    LETTER_CLASS,
    LOWER_CLASS,
    NUMBER_CLASS,
    PUNCT_CLASS,
    READABLE,
    UPPER_CLASS,
    WORD_CHAR_CLASS as _W,
    WORDLIKE,
    SegmentType,
)

# One alternative per segment type, each a maximal run (possessive runs and
# a negative lookahead on the run's class): letters-only runs split by case,
# then numbers, then mixed letters and numbers; non-word runs are
# punctuation when every character is punctuation.
_DIFF = re.compile(
    f"([{_S}]++)"
    f"|([{UPPER_CLASS}]++)(?![{_W}])"
    f"|([{LOWER_CLASS}]++)(?![{_W}])"
    f"|([{NUMBER_CLASS}]++)(?![{_W}])"
    f"|([{LETTER_CLASS}]++)(?![{_W}])"
    f"|([{_W}]++)"
    f"|([{PUNCT_CLASS}]++)(?![^{_S}{_W}])"
    f"|([^{_S}{_W}]++)"
)
_DIFF_TYPES = (
    None,
    SegmentType.EMPTY_SPACE,
    SegmentType.WORD_UPPERCASE,
    SegmentType.WORD_LOWERCASE,
    SegmentType.NUMBER,
    SegmentType.WORD,
    SegmentType.WORD_WITH_NUMBER,
    SegmentType.PUNCTUATION,
    SegmentType.NON_WORD,
)
# The word segments (WORD, WORD_UPPERCASE, WORD_LOWERCASE): maximal
# letters-and-digits runs that hold letters only.
_WORD = re.compile(f"(?<![{_W}])[{LETTER_CLASS}]++(?![{_W}])")
# NON_WORD segments: maximal runs outside spaces, letters and digits that
# hold something other than punctuation
_NON_WORD = re.compile(
    f"(?<![^{_S}{_W}])[{PUNCT_CLASS}]*+[^{PUNCT_CLASS}{_S}{_W}][^{_S}{_W}]*+"
)
_EMPTY_SPACE = re.compile(f"[{_S}]+")
# EmptySpaceTokenizer runs: empty space, or everything up to the next space
_EMPTY_SPACE_RUN = re.compile(f"[{_S}]+|[^{_S}]+")
# Java Character.isDigit (DECIMAL_DIGIT_NUMBER by the codepoint's own type)
_DIGIT_RUN = re.compile(f"[{jc.char_class({jc.DECIMAL_DIGIT_NUMBER})}]+")
_REPEATED_CHAR = re.compile(r"(.)\1+", re.DOTALL)


def diff_tokenize(text: str) -> list[tuple[str, SegmentType]]:
    """All segments of the text as (segment_text, type), in order."""
    nul = text.find("\x00")
    end = nul if nul >= 0 else len(text)
    return [(m.group(), _DIFF_TYPES[m.lastindex]) for m in _DIFF.finditer(text, 0, end)]


def word_tokens(text: str) -> list[str]:
    """The WORD, WORD_UPPERCASE and WORD_LOWERCASE segments of
    ``diff_tokenize(text)``, in order."""
    nul = text.find("\x00")
    return _WORD.findall(text, 0, nul if nul >= 0 else len(text))


def word_count_and_readable(text: str) -> tuple[int, str]:
    """The number of word segments of ``diff_tokenize(text)``, and the text
    with each EMPTY_SPACE segment replaced by one space and each NON_WORD
    segment dropped (``SentenceMakerJava8``'s re-join of readable tokens)."""
    nul = text.find("\x00")
    if nul >= 0:
        text = text[:nul]
    return len(_WORD.findall(text)), _NON_WORD.sub("", _EMPTY_SPACE.sub(" ", text))


def empty_space_tokenize(text: str) -> list[tuple[str, SegmentType]]:
    """Segments split only at space/non-space transitions
    (``EmptySpaceTokenizer.java:55-85``; NUL terminates)."""
    nul = text.find("\x00")
    end = nul if nul >= 0 else len(text)
    return [
        (seg, segment_type(seg))
        for seg in _EMPTY_SPACE_RUN.findall(text, 0, end)
    ]


def segment_type(seg: str) -> SegmentType:
    """``SegmentType.infer`` over the characters of any non-empty segment:
    the type of the single diff-token run, or what infer gives for the
    union of the runs' type groups."""
    kinds = {st for _, st in diff_tokenize(seg)}
    if len(kinds) == 1:
        return kinds.pop()
    if kinds <= WORDLIKE:
        return SegmentType.WORD
    if kinds <= WORDLIKE | {SegmentType.NUMBER, SegmentType.WORD_WITH_NUMBER}:
        return SegmentType.WORD_WITH_NUMBER
    if kinds & WORDLIKE or SegmentType.WORD_WITH_NUMBER in kinds:
        return SegmentType.UNKNOWN  # letters beside punctuation/space/other
    return SegmentType.NON_WORD


# ---------------------------------------------------------------------------
# filter / normalize / merge pipeline (ITokenizer.filteredAndNormalizedTokens)
# ---------------------------------------------------------------------------


def normalize_segment(text: str, st: SegmentType, level: int) -> str:
    """``Segment.asNormalizedString`` levels 0-4."""
    if st in WORDLIKE:
        return text.lower() if level >= 4 else text
    result = text
    if level >= 1 and st == SegmentType.NON_WORD:
        result = _REPEATED_CHAR.sub(r"\1", text)  # collapse repeated codepoints
    if level >= 2:
        if st == SegmentType.WORD_WITH_NUMBER:
            result = _DIGIT_RUN.sub("0", text)
        elif st == SegmentType.NUMBER:
            result = "0"
    if level >= 3 and st in (SegmentType.EMPTY_SPACE, SegmentType.PUNCTUATION):
        result = st.symbol
    if level >= 4:
        result = result.lower()
    return result


def filtered_segments(
    segments: list[tuple[str, SegmentType]], level: int, mergetypes: bool
) -> list[tuple[str, SegmentType]]:
    """``ITokenizer.filteredSegments`` levels 0-5 + consecutive-type merge."""
    out = segments
    # level >= 1 would drop CONTROL, but infer() never yields it for tokens
    if level >= 2:
        out = [s for s in out if s[1] != SegmentType.EMPTY_SPACE]
    if level >= 3:
        out = [s for s in out if s[1] in READABLE]
    if level >= 4:
        out = [s for s in out if s[1] != SegmentType.PUNCTUATION]
    if level >= 5:
        out = [
            s
            for s in out
            if s[1] not in (SegmentType.NUMBER, SegmentType.WORD_WITH_NUMBER)
        ]
    if mergetypes:
        merged: list[tuple[str, SegmentType]] = []
        last_type: SegmentType | None = None
        for s in out:
            st = s[1]
            if last_type is not None and st == last_type and not (
                st in WORDLIKE or st == SegmentType.WORD_WITH_NUMBER
            ):
                continue  # drop consecutive same-type non-word segments
            last_type = st
            merged.append(s)
        out = merged
    return out


def filtered_normalized_tokens(
    text: str,
    level_filter: int = 5,
    level_normalize: int = 2,
    mergetypes: bool = True,
    mergetokens: bool = False,
) -> list[str]:
    """The LM tokenization used throughout the reference at its defaults
    (``Properties``: tokenfilter=5, tokennormalize=2, merge=1)."""
    if level_filter >= 5:
        # only word segments pass, and merging keeps every one of them
        tokens = word_tokens(text)
        if level_normalize >= 4:
            tokens = [t.lower() for t in tokens]
    else:
        segs = filtered_segments(diff_tokenize(text), level_filter, mergetypes)
        tokens = [normalize_segment(t, st, level_normalize) for t, st in segs]
    if mergetokens:
        merged: list[str] = []
        for t in tokens:
            if not merged or merged[-1] != t:
                merged.append(t)
        tokens = merged
    return tokens
