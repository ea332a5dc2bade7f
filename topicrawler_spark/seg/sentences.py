"""Sentence splitting (lt.seg ``LineSplitter`` + ``RuleSplitter`` semantics)
and the two sentence pipelines built on them:

- ``SentenceMaker``  — the crawler writer/scorer variant
  (``lt.ltbot/.../writer/SentenceMakerJava8.java:64-86``): line split ->
  rule split -> re-join readable tokens verbatim (spaces for EMPTY_SPACE),
  drop sentences with fewer than ``min_length`` words.
- ``provider_sentences`` — the LM provider variant
  (``lt.lm/.../service/LtSegProvider.java:94-123``): whitespace-collapse the
  text, rule split, whitespace-collapse each sentence.
"""

from __future__ import annotations

import re

from topicrawler_spark.seg.rules import RuleSet, blank_empty_space, get_ruleset
from topicrawler_spark.seg.segtypes import LINE_SEPARATOR_CLASS, SegmentType
from topicrawler_spark.seg.tokenizer import word_count_and_readable

# lt.utilities StringUtils: [\s\u00a0]+ with Java \s (ASCII)
_EMPTYSPACE_RUN = re.compile("[ \\t\\n\\x0b\\f\\r\xa0]+")
_EMPTYSPACE_LEAD = re.compile("^[ \\t\\n\\x0b\\f\\r\xa0]+")
_EMPTYSPACE_TRAIL = re.compile("[ \\t\\n\\x0b\\f\\r\xa0]+$")
# text that whitespace collapsing leaves as it is and in which the rule
# splitter starts no empty-space segment: single inner spaces only, no line
# separator, no NUL
_PLAIN = re.compile(
    f"[^ \\t\\x0b\\x00\xa0{LINE_SEPARATOR_CLASS}]+(?: [^ \\t\\x0b\\x00\xa0{LINE_SEPARATOR_CLASS}]+)*"
)
_LINE_RUN = re.compile(f"([{LINE_SEPARATOR_CLASS}]+)|[^{LINE_SEPARATOR_CLASS}]+")


def trim_and_replace_emptyspace(text: str, replacement: str = " ") -> str:
    """lt.utilities ``StringUtils.trim_and_replace_emptyspace``."""
    text = _EMPTYSPACE_LEAD.sub("", _EMPTYSPACE_TRAIL.sub("", text))
    return _EMPTYSPACE_RUN.sub(replacement, text)


def line_split(text: str) -> list[tuple[str, SegmentType]]:
    """Alternating runs of line-separators (EMPTY_SPACE) and line content
    (SENTENCE) — ``LineSplitter.java:35-73``."""
    return [
        (m.group(), SegmentType.EMPTY_SPACE if m.lastindex else SegmentType.SENTENCE)
        for m in _LINE_RUN.finditer(text)
    ]


def rule_split(text: str, rules: RuleSet | str = "default") -> list[tuple[str, SegmentType]]:
    """Boundary-rule sentence splitting — ``RuleSplitter.java:43-115``.

    A sentence ends after the first boundary entry at which the rules
    accept a split (``RuleSet.splits_at``), boundary included. Only the
    positions where a boundary entry ends are tested. A segment that starts
    with a line separator is EMPTY_SPACE and also ends where the run of line
    separators does. A NUL character terminates splitting, like the
    reference's read loop.
    """
    if isinstance(rules, str):
        rules = get_ruleset(rules)
    nul = text.find("\x00")
    if nul >= 0:
        text = text[:nul]
    n = len(text)
    ends = rules.boundary_ends(text, n)
    blanked = blank_empty_space(text) if ends else text
    out: list[tuple[str, SegmentType]] = []
    k = 0
    start = 0
    while start < n:
        run = _LINE_RUN.match(text, start)
        if run.lastindex:
            limit, kind = run.end(), SegmentType.EMPTY_SPACE
        else:
            limit, kind = n, SegmentType.SENTENCE
        # every candidate before ``start`` was tested by an earlier segment
        end = limit
        while k < len(ends) and ends[k] <= limit:
            i = ends[k]
            k += 1
            if rules.splits_at(text, blanked, start, i):
                end = i
                break
        out.append((text[start:end], kind))
        start = end
    return out


class SentenceMaker:
    """Crawler-side sentence production (SentenceMakerJava8 semantics).

    Per-line results are memoized (bounded, cleared wholesale at the cap):
    sentence production is a pure function of the line + ruleset, and web
    pages repeat whole boilerplate lines (site chrome) across a host, so
    the rule-split + tokenize work is skipped on repeats with results
    exactly identical.
    """

    def __init__(
        self, min_length: int = 2, language_code: str = "default", line_cache_max: int = 200_000
    ) -> None:
        self.min_length = min_length
        self.language_code = language_code
        self._line_cache_max = line_cache_max
        self._cache: dict[str, list[str]] = {}

    def __getstate__(self):
        state = dict(self.__dict__)
        state["_cache"] = {}
        return state

    def sentences(self, text: str) -> list[str]:
        out: list[str] = []
        for line, lt in line_split(text):
            if lt != SegmentType.SENTENCE:
                continue
            hit = self._cache.get(line)
            if hit is None:
                hit = self._line_sentences(line)
                if len(self._cache) >= self._line_cache_max:
                    self._cache.clear()
                self._cache[line] = hit
            out.extend(hit)
        return out

    def _line_sentences(self, line: str) -> list[str]:
        out: list[str] = []
        for sent, st in rule_split(line, self.language_code):
            if st != SegmentType.SENTENCE:
                continue
            words, readable = word_count_and_readable(sent)
            joined = _java_trim(readable)
            if words < self.min_length or not joined:
                continue
            out.append(joined)
        return out


def provider_sentences(text: str, rules: RuleSet | str = "default", onedocperline: bool = False) -> list[str]:
    """LM-provider sentence splitting (LtSegProvider.splitSentences)."""
    if isinstance(rules, str):
        rules = get_ruleset(rules)
    out: list[str] = []

    def split_into(chunk: str) -> None:
        if _PLAIN.fullmatch(chunk) and not rules.boundary_ends(chunk, len(chunk) - 1):
            # collapsing leaves the chunk as it is and no boundary entry ends
            # before its last character: the splitter returns it whole
            out.append(chunk)
            return
        chunk = trim_and_replace_emptyspace(chunk, " ")
        for seg, st in rule_split(chunk, rules):
            if st != SegmentType.SENTENCE:
                continue
            s = trim_and_replace_emptyspace(seg, " ")
            if s:
                out.append(s)

    if onedocperline:
        for line in text.splitlines():
            split_into(line)
    else:
        split_into(text)
    return out


_JAVA_WHITESPACE = "".join(map(chr, range(0x21)))


def _java_trim(s: str) -> str:
    """Java ``String.trim()``: strip leading/trailing chars <= U+0020."""
    return s.strip(_JAVA_WHITESPACE)
