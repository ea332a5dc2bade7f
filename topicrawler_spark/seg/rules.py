"""Sentence-boundary rule sets (lt.seg RuleSet mechanism).

The mechanism is a faithful port of the reference rule engine
(``BoundaryList`` / ``PreBoundaryListProcessor`` / ``PreBoundaryRulesProcessor``
/ ``PostBoundaryListProcessor`` / ``PostBoundaryRulesProcessor``,
lt.seg/.../sentence/rules/): a suffix-matched boundary list, an
abbreviation exception list checked against the last whitespace-delimited
token, regex rules AND-ed over the last/first token.

The *default data* below is our own curated set covering the same semantic
space (sentence-final punctuation + closing quotes + whitespace variants;
common English/German abbreviations; the lowercase-continuation and
multi-dot-abbreviation regex rules). Richer lists in the reference's file
format (one entry per line, ``#`` comments, java escapes) can be loaded with
``RuleSet.from_files`` — the engine is data-driven, exactly like the
reference.

Deviation (documented): where several boundary entries match a suffix the
reference picks an arbitrary HashSet-iteration winner; we deterministically
pick the longest match.

The splitter does not test every character: one compiled pattern finds the
positions where a boundary entry ends, and the rules run only there.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

from topicrawler_spark import javachar as jc
from topicrawler_spark.seg.segtypes import EMPTY_SPACE_CLASS

# --- default boundary list ----------------------------------------------------

_FINAL_PUNCT = [".", "!", "?", "؟"]
_CLOSING_QUOTES = ['"', "'", "`", "»", "«", "“"]
_TRAILERS = [" ", "\n", "\t", "\r\n"]

DEFAULT_BOUNDARIES: frozenset[str] = frozenset(
    {"\t", "\x08", "\x0c", "\n\n", "\r\n\r\n"}
    | {p + q for p in _FINAL_PUNCT for q in _CLOSING_QUOTES}
    | {p + s for p in _FINAL_PUNCT for s in _TRAILERS}
)

# --- default abbreviation exception lists --------------------------------------

# words that must not END a sentence (checked against the last token,
# boundary included). Curated common English + German abbreviations.
DEFAULT_PRE_EXCEPTIONS: frozenset[str] = frozenset(
    """
    Mr. Mrs. Ms. Dr. Prof. Sr. Jr. St. Rev. Gen. Rep. Sen. Gov. Capt. Sgt.
    Lt. Col. Maj. Adm. Hon. Pres. Supt. Det. Insp. Mt. Ft. Co. Corp. Inc.
    Ltd. LLC. Dept. Univ. Assn. Bros. Ph.D. M.D. B.A. M.A. D.C. U.S. U.K.
    U.N. E.U. i.e. e.g. cf. al. etc. vs. v. viz. Jan. Feb. Mar. Apr. Jun.
    Jul. Aug. Sep. Sept. Oct. Nov. Dec. Mon. Tue. Tues. Wed. Thu. Thur.
    Thurs. Fri. Sat. Sun. approx. dept. est. min. max. misc. no. No. nos.
    pp. p. ca. cm. mm. km. kg. mg. lb. oz. sq. hr. hrs. sec. fig. Fig.
    figs. ed. eds. rev. vol. vols. op. cit. ibid. id. inst. pseud. trans.
    ch. chs. sec. secs. art. arts. par. pars. Abb. Abs. Abt. Anl. Anm.
    Art. Aufl. Bd. Bde. bzgl. bzw. ca. dgl. Dipl. Dr. einschl. entspr.
    evtl. exkl. geb. gegr. ggf. ggfs. Hr. Hrn. Hrsg. inkl. insb. Kap.
    Mio. Mrd. Nr. o.g. od. Pfd. S. s.o. s.u. sog. Str. Tel. u.a. u.U.
    usw. u.v.m. v.a. vgl. z.B. z.T. zzgl. zit. Zi. Ziff.
    """.split()
)

# words that must not FOLLOW a sentence ending (month names, file extensions
# and similar continuations; checked against the first following token).
DEFAULT_POST_EXCEPTIONS: frozenset[str] = frozenset(
    """
    TXT EXE PDF DOC HTML January February March April May June July August
    September October November December Januar Februar März Mai Juni Juli
    Oktober Dezember Jan. Feb. Mrz. Apr. Jun. Jul. Aug. Sep. Sept. Oct.
    Okt. Nov. Dec. Dez. Platz Spieltag Jahrzehnt Jahrhundert Jahrtausend Mal
    """.split()
)

# --- regex rules ----------------------------------------------------------------

# Java \p{M} / \P{M}: an explicit char class from the Java type tables so
# plain `re` can evaluate them (each codepoint by its own type).
_MARK_CLASS = jc.char_class({jc.NON_SPACING_MARK, jc.ENCLOSING_MARK, jc.COMBINING_SPACING_MARK})


def _translate_java_regex(pattern: str) -> str:
    """Translate the \\p{M}/\\P{M} constructs used by the reference rules."""
    mark = _MARK_CLASS
    pattern = pattern.replace(r"\p{M}", f"[{mark}]")
    pattern = pattern.replace(r"\P{M}", f"[^{mark}]")
    return pattern


def _compile_rules(rules: list[tuple[str, bool]]) -> list[tuple[re.Pattern, bool]]:
    return [(re.compile(_translate_java_regex(p)), d) for p, d in rules]


# Pre-boundary regex rules (decision False = "not a sentence end").
DEFAULT_PRE_RULES: list[tuple[str, bool]] = [
    (r"\P{M}\p{M}*", False),  # single letter before boundary (A. Miller)
    (r".*\P{M}\p{M}*\.\P{M}\p{M}*.*", False),  # multi-dot abbreviations (i.e., U.S.A.)
    (r"(http://)?www[a-zA-Z/\.]*", False),  # urls
    (r"[1-2][0-9][0-9][0-9]", True),  # years
    (r"[0-9\.-]+", False),  # digits with dots/hyphens
]

# Post-boundary regex rules.
DEFAULT_POST_RULES: list[tuple[str, bool]] = [
    (r"[a-z][a-zA-Z]*[\.!?]?", False),  # lowercase continuation
    (r"[\.!?,;:]+", False),  # more boundary chars
]


# --- rule evaluation -------------------------------------------------------------

# the look-ahead token: the EmptySpaceTokenizer's first segment of the next
# 1000 characters (a longer run is cut there)
_NEXT_TOKEN = re.compile(f"[{EMPTY_SPACE_CLASS}]+|[^{EMPTY_SPACE_CLASS}]+")
_NEXT_TOKEN_WINDOW = 1000
_EMPTY_SPACE_CHAR = re.compile(f"[{EMPTY_SPACE_CLASS}]")


def blank_empty_space(text: str) -> str:
    """``text`` with every empty-space character replaced by a plain space:
    same positions, so token bounds found in it index ``text`` itself."""
    return _EMPTY_SPACE_CHAR.sub(" ", text)


def token_span(blanked: str, start: int, end: int) -> tuple[int, int]:
    """(begin, end) of the last whitespace-delimited token of
    ``text[start:end]``, given ``blanked = blank_empty_space(text)``."""
    while end > start and blanked[end - 1] == " ":
        end -= 1
    return max(blanked.rfind(" ", start, end) + 1, start), end


def _rules_hold(rules: list[tuple[re.Pattern, bool]], token: str) -> bool:
    """The AND of the decisions of every rule that fully matches ``token``."""
    return all(decision for pat, decision in rules if pat.fullmatch(token))


@dataclass
class RuleSet:
    name: str = "default"
    boundaries: frozenset[str] = DEFAULT_BOUNDARIES
    pre_exceptions: frozenset[str] = DEFAULT_PRE_EXCEPTIONS
    post_exceptions: frozenset[str] = DEFAULT_POST_EXCEPTIONS
    pre_rules: list = field(default_factory=lambda: list(DEFAULT_PRE_RULES))
    post_rules: list = field(default_factory=lambda: list(DEFAULT_POST_RULES))

    def __post_init__(self) -> None:
        # boundaries by their final character, longest first
        by_last: dict[str, list[str]] = {}
        for b in self.boundaries:
            by_last.setdefault(b[-1], []).append(b)
        for v in by_last.values():
            v.sort(key=len, reverse=True)
        self._boundaries_by_last = by_last
        # every position where some boundary entry ends: the final character,
        # then a look-behind for each entry ending in it
        self._boundary_end = re.compile(
            "|".join(
                re.escape(c) + "(?:" + "|".join(f"(?<={re.escape(b)})" for b in bs) + ")"
                for c, bs in sorted(by_last.items())
            )
            or "(?!)"
        )
        self._pre_compiled = _compile_rules(self.pre_rules)
        self._post_compiled = _compile_rules(self.post_rules)

    # boundary list -----------------------------------------------------

    def boundary_ends(self, text: str, end: int) -> list[int]:
        """Sorted positions ``i <= end`` where a boundary entry ends."""
        return [m.end() for m in self._boundary_end.finditer(text, 0, end)]

    def suffix_as_boundary(self, text: str, start: int, end: int) -> str | None:
        """Longest boundary entry ending at ``end`` and starting at or after
        ``start`` (None if none)."""
        for b in self._boundaries_by_last.get(text[end - 1], ()):
            if end - len(b) >= start and text.startswith(b, end - len(b)):
                return b
        return None

    # the RuleSplitter decision ------------------------------------------

    def splits_at(self, text: str, blanked: str, start: int, end: int) -> bool:
        """Whether the sentence that starts at ``start`` ends at ``end``
        (``RuleSplitter.java:60-95``): a boundary entry ends there; the last
        token, boundary included, is not a pre-boundary exception; the
        pre-boundary rules accept the last token before the boundary; and
        the next approximate token is neither a post-boundary exception nor
        refused by the post-boundary rules. ``blanked`` is
        ``blank_empty_space(text)``."""
        suffix = self.suffix_as_boundary(text, start, end)
        if suffix is None:
            return False
        b, e = token_span(blanked, start, end)
        if text[b:e] in self.pre_exceptions:
            return False
        before = end - len(suffix)
        if before > start:
            b, e = token_span(blanked, start, before)
            if not _rules_hold(self._pre_compiled, text[b:e]):
                return False
        if end < len(text):
            nxt = _NEXT_TOKEN.match(text, end, end + _NEXT_TOKEN_WINDOW).group()
            if nxt in self.post_exceptions or not _rules_hold(self._post_compiled, nxt):
                return False
        return True

    # loading external rule files (reference file format) -------------------

    @staticmethod
    def from_files(name: str, directory: str) -> "RuleSet":
        def read_list(fname: str) -> frozenset[str]:
            path = os.path.join(directory, fname)
            entries = set()
            with open(path, encoding="utf-8-sig") as f:
                for line in f:
                    line = line.rstrip("\r\n")
                    if line and not line.startswith("#"):
                        entries.add(convert_escapes(line))
            return frozenset(entries)

        def read_rules(fname: str) -> list[tuple[str, bool]]:
            path = os.path.join(directory, fname)
            rules: list[tuple[str, bool]] = []
            with open(path, encoding="utf-8-sig") as f:
                for line in f:
                    line = line.rstrip("\r\n")
                    if not line or line.startswith("#"):
                        continue
                    if line[:2] in ("+ ", "- "):
                        rules.append((line[2:], line[0] == "+"))
            return rules

        return RuleSet(
            name=name,
            boundaries=read_list("boundaries.txt"),
            pre_exceptions=read_list("preBoundaryExceptions.txt"),
            post_exceptions=read_list("postBoundaryExceptions.txt"),
            pre_rules=read_rules("preBoundaryRules.txt"),
            post_rules=read_rules("postBoundaryRules.txt"),
        )


def convert_escapes(line: str) -> str:
    """Java-escape conversion used by the reference rule files
    (``SegmentationUtils.convert``): \\uXXXX, \\t, \\r, \\n, \\f, \\<other>."""
    out: list[str] = []
    i = 0
    while i < len(line):
        c = line[i]
        i += 1
        if c == "\\" and i < len(line):
            c = line[i]
            i += 1
            if c == "u":
                out.append(chr(int(line[i : i + 4], 16)))
                i += 4
            else:
                out.append({"t": "\t", "r": "\r", "n": "\n", "f": "\f"}.get(c, c))
        else:
            out.append(c)
    return "".join(out)


_DEFAULT_RULESET: RuleSet | None = None
_RULESETS: dict[str, RuleSet] = {}


def get_ruleset(name: str = "default") -> RuleSet:
    global _DEFAULT_RULESET
    if name in _RULESETS:
        return _RULESETS[name]
    if _DEFAULT_RULESET is None:
        _DEFAULT_RULESET = RuleSet()
    return _DEFAULT_RULESET


def register_ruleset(rs: RuleSet) -> None:
    _RULESETS[rs.name] = rs
