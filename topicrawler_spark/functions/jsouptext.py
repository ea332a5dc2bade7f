"""HTML -> plaintext extraction, byte-identical to the reference pipeline.

The reference converts a fetched page to scoring text as (studied, not copied):

1. ``UTF8Cleaner.clean(html)``                       (``TextExtractor.java:80-85``)
2. ``JSoupTextExtractor.getPlaintext``               (``JSoupTextExtractor.java:34-54``):
   a. ``(?i)</p>``  -> ``</p>br2nl``
   b. ``\\r?\\n``     -> ``br2nl``
   c. ``Jsoup.parse(html).text()``  (jsoup 1.7.3 whitespace-normalised text)
   d. ``br2nl`` -> ``\\n``
   e. ``trim()`` then ``(?m)\\s+$`` -> ""  (Java regex semantics)
3. ``UTF8Cleaner.clean(plaintext)``

Jsoup is a JVM library, so step (c) is re-derived here from the documented
jsoup 1.7.3 ``Element.text()`` behavior: depth-first traversal where text
nodes are appended with whitespace runs collapsed to single spaces (leading
whitespace dropped if the accumulator already ends in whitespace), an extra
single space is inserted at the *start* of any block-level element or ``<br>``
when the accumulator is non-empty and does not already end in whitespace,
``<script>``/``<style>`` bodies are data (excluded), whitespace is preserved
inside ``pre``/``plaintext``/``title``/``textarea``, and the result is
``String.trim()``-ed. Jsoup's whitespace set is ``{' ','\\t','\\n','\\f','\\r'}``
(NBSP is *not* whitespace).

Java regex/trim subtleties reproduced exactly:
- Java ``\\s`` is ASCII-only ``[ \\t\\n\\x0B\\f\\r]``.
- Java MULTILINE ``$`` matches before \\n, \\r\\n, \\r, \\x85, \\u2028, \\u2029.
- ``String.trim()`` strips codepoints <= U+0020 only.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

from topicrawler_spark.functions.cleaning import clean_min

# --- Java semantics helpers -------------------------------------------------

_JAVA_WS = " \t\n\x0b\f\r"
# Java (?m)\s+$ : ASCII \s run that ends right before a Java line terminator
# or at end of input.
_TRAILING_WS_EOL = re.compile("[ \\t\\n\\x0b\\f\\r]+(?=\\r\\n|[\\n\\r\\x85\\u2028\\u2029]|\\Z)")
_END_P = re.compile(r"(?i)</p>")
_NWLN = re.compile(r"\r?\n")
_JAVA_MULTI_SPACE = re.compile(r"[ \t\n\x0b\f\r]+")


def java_trim(s: str) -> str:
    """Java ``String.trim()``: strip leading/trailing chars <= U+0020."""
    i, j = 0, len(s)
    while i < j and ord(s[i]) <= 0x20:
        i += 1
    while j > i and ord(s[j - 1]) <= 0x20:
        j -= 1
    return s[i:j]


def abbreviate(s: str, max_width: int = 50) -> str:
    """commons-lang ``StringUtils.abbreviate``."""
    if s is None:
        return s
    if len(s) <= max_width:
        return s
    return s[: max_width - 3] + "..."


# --- jsoup 1.7.3 text() emulation -------------------------------------------

# Tags jsoup 1.7.3 registers as block-level (Tag.blockTags).
_BLOCK_TAGS = frozenset(
    """html head body frameset script noscript style meta link title frame
    noframes section nav aside hgroup header footer p h1 h2 h3 h4 h5 h6 ul ol
    pre div blockquote hr address figure figcaption form fieldset ins del s dl
    dt dd li table caption thead tfoot tbody colgroup col tr th td video audio
    canvas details menu plaintext template article main svg math""".split()
)
_PRESERVE_WS_TAGS = frozenset({"pre", "plaintext", "title", "textarea"})
_DATA_TAGS = frozenset({"script", "style"})  # DataNode content: excluded from text()
_VOID_TAGS = frozenset(
    "area base br col command device embed hr img input keygen link meta param source track wbr".split()
)
_JSOUP_WS = frozenset(" \t\n\f\r")


def _normalise_ws(text: str) -> str:
    """jsoup StringUtil.normaliseWhitespace: collapse ws runs to one ' '."""
    out = []
    last_white = False
    for ch in text:
        if ch in _JSOUP_WS:
            if not last_white:
                out.append(" ")
                last_white = True
        else:
            out.append(ch)
            last_white = False
    return "".join(out)


class _TextVisitor(HTMLParser):
    """Streaming emulation of jsoup's text() NodeTraversor.

    We don't need a materialized DOM: jsoup's text() only consults (a) the
    document-order sequence of text nodes and element starts, and (b) whether
    an open ancestor preserves whitespace / is a data tag. A tag stack
    suffices and keeps this one O(n) pass per page.
    """

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.accum: list[str] = []
        self._acc_last = ""  # last char of accum, "" if empty
        self._preserve_depth = 0
        self._data_depth = 0
        self._stack: list[str] = []

    # -- accumulation ---------------------------------------------------

    def _append(self, s: str) -> None:
        if s:
            self.accum.append(s)
            self._acc_last = s[-1]

    def _last_is_ws(self) -> bool:
        return self._acc_last == " "

    # -- parser events ----------------------------------------------------

    def handle_starttag(self, tag: str, attrs) -> None:
        # element head: maybe insert a separating space
        if self.accum and (tag in _BLOCK_TAGS or tag == "br") and not self._last_is_ws():
            self._append(" ")
        if tag in _VOID_TAGS:
            return
        self._stack.append(tag)
        if tag in _PRESERVE_WS_TAGS:
            self._preserve_depth += 1
        if tag in _DATA_TAGS:
            self._data_depth += 1

    def handle_startendtag(self, tag: str, attrs) -> None:
        if self.accum and (tag in _BLOCK_TAGS or tag == "br") and not self._last_is_ws():
            self._append(" ")

    def handle_endtag(self, tag: str) -> None:
        if tag in _VOID_TAGS:
            return
        # pop to the matching open tag (lenient, like jsoup's error recovery)
        if tag in self._stack:
            while self._stack:
                top = self._stack.pop()
                if top in _PRESERVE_WS_TAGS:
                    self._preserve_depth -= 1
                if top in _DATA_TAGS:
                    self._data_depth -= 1
                if top == tag:
                    break

    def handle_data(self, data: str) -> None:
        if self._data_depth > 0:
            return  # DataNode (script/style): not part of text()
        if self._preserve_depth > 0:
            self._append(data)
            return
        text = _normalise_ws(data)
        if self._last_is_ws() and text.startswith(" "):
            text = text[1:]
        if not self.accum and text == " ":
            # whitespace-only text before any content: jsoup's tree builder
            # ignores whitespace-only tokens outside body; inside body they
            # normalise to " " which the final trim removes anyway. Skipping
            # keeps accum-emptiness semantics aligned for block-space checks.
            return
        self._append(text)


def soup_text(html: str) -> str:
    """Equivalent of ``Jsoup.parse(html).text()`` (jsoup 1.7.3 semantics)."""
    v = _TextVisitor()
    try:
        v.feed(html)
        v.close()
    except Exception:
        # html.parser is already lenient; never fail extraction on bad markup
        pass
    return java_trim("".join(v.accum))


# --- the full reference pipeline ---------------------------------------------


def get_plaintext(htmltext: str) -> str:
    """``JSoupTextExtractor.getPlaintext`` (newline preservation via br2nl)."""
    try:
        h = _END_P.sub("</p>br2nl", htmltext)
        h = _NWLN.sub("br2nl", h)
        plaintext = soup_text(h)
        plaintext = plaintext.replace("br2nl", "\n")
        plaintext = _TRAILING_WS_EOL.sub("", java_trim(plaintext))
        return plaintext
    except Exception:
        return "Failed to get plaintext content \n" + htmltext


def extract_text(html_utf8: str, cleaner=clean_min) -> str:
    """``TextExtractor.getCleanedUtf8PlainText``: clean -> soup -> clean."""
    cleaned_html = cleaner(html_utf8)
    plain = get_plaintext(cleaned_html)
    return cleaner(plain)


def abbreviated_plaintext(cleaned_plaintext: str) -> str:
    """``plain-abbrv`` extra-info: abbreviate(text,50) + collapse ASCII ws."""
    return _JAVA_MULTI_SPACE.sub(" ", abbreviate(cleaned_plaintext, 50))
