"""Pin the segmentation and scoring output as a digest file.

For each corpus seed 0-15 the digest covers the first 50 sorted
non-robots pages of the crawl-benchmark-shaped corpus
(``generate_corpus(n_pages=1500, n_hosts=15, n_seeds=150, seed=s,
links_per_page=12)``) and the LM ``LocalLM.from_texts([topic_corpus(s, 800)],
order=3)``. For each page's ``java_trim(extract_text(html, clean_ext))`` it
hashes:

- the ``SentenceMaker(2).sentences`` list;
- ``provider_ngrams`` (order 3) of each of those sentences and of the text;
- ``provider_sentences`` of the text;
- ``float.hex`` of ``DocumentScorer(lm).score_page_text``;

plus one hash per seed of the sorted LM counts. A list of Unicode stress
strings (astral characters, NUL, NBSP, line and paragraph separators,
``\\r\\n``, form feeds, tabs, combining marks, abbreviations, years, URLs)
is pinned with its literal outputs.

The digest is regenerated only on purpose, from a commit whose
segmentation is known good; ``tests/test_seg_digest.py`` checks that the
current code reproduces the committed file byte for byte.

Usage::

    python scripts/pin_seg_digest.py            # write tests/golden/seg/digest.json
    python scripts/pin_seg_digest.py --check    # exit 1 if the file differs
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

DIGEST_PATH = os.path.join(ROOT, "tests", "golden", "seg", "digest.json")
SEEDS = range(16)
PAGES_PER_SEED = 50
ORDER = 3
# two processes keep a full check well under 30 s on a 4-core host
WORKERS = 2

STRESS = [
    # the reference TokenizerTest stress string
    "0815 4711, 007 done. "
    "\ufeffHello World... The answer is 42, but what is the question? "
    "I told this joke 3times.h3ll0 w0rld!!! "
    "4711Today is the 1st of Dec. 2014. "
    "Today is the aniversary of Prof. Dr. Stephen W. Hawking. "
    "Is this state-of-the-art? Could this b\ne state-\nof-\r\nthe-art ? "
    "Today is 2014/01/12 or 1.12.14. "
    "\t\n\t\r\n\f\n\t :-) ^^ \u03b1 \u03b1  ",
    "Hello, 42 world w0rld!",
    "one\ntwo\n\nthree",
    "One sentence. Another one! A third? ",
    "Mr. Smith met A. Miller. They talked. and left. The end.",
    "See the U.S.A. later. It was 1.12.14. Next one.",
    "It happened in 1999. Next sentence came.",
    "It was the 5th. December was cold.",
    "Hello World. This is nice.\nOk.",
    "A  B   C. ",
    "  The quick\tfox. The end.  ",
    "a  b  c",
    "",
    " ",
    ".",
    "\n",
    "\n\n\n",
    "word",
    # astral characters: two SURROGATE units each, never split inside
    "a\U0001f600b c\U0001f600. Next \U0001d518\U0001d52b\U0001d526 word here. "
    "\U0001f600\U0001f600 end of it.",
    "Emoji ends it \U0001f600. Then more words follow.",
    # NUL terminates splitting and tokenizing
    "First sentence here. Second\x00 hidden part. More text",
    "\x00leading nul text here.",
    # NBSP: a SPACE_SEPARATOR to Java, not whitespace to the collapse regex
    "The cat\xa0sat down. Then\xa0\xa0it slept well.\xa0Done now here.",
    "Ends with nbsp.\xa0 Next one comes.",
    # U+2028 is a line separator, U+2029 a paragraph separator
    "Line one here.\u2028Line two here.\u2029Para three here.",
    "Two words\u2028\u2028more words here.\u2029\u2029last words.",
    # \r\n, \f, tabs, vertical tab, NEL
    "Alpha beta.\r\nGamma delta.\r\n\r\nEpsilon zeta eta.",
    "Form feed\fnext page here. Tab\tsplit here now.",
    "Back\x08space boundary here. Vertical\x0btab here. Next\x85line here.",
    "a b.\n   \nc d.\n \t \ne f.",
    "Tabs\t\tbetween\twords here.\t",
    # combining marks: \p{M} in the pre-boundary rules
    "Cafe\u0301 au lait. A\u0301. Next e\u0301\u0301 one here. x\u0301.y\u0301. z end.",
    "He said \u0301. Then it went on.",
    # abbreviations, years and urls
    "He lives in the U.S. today. See z.B. the list. Dr. Who came home.",
    "It was 1999. The end came. In 2014.Later text came. Year 3000. Next one.",
    "Visit www.example.com. Then http://www.foo.org/bar. Next one here.",
    "Price 3.50 USD. Call 555-1234. Room 12b. Done here.",
    # closing quotes, Arabic question mark, exceptions after a boundary
    "Ends with quote.\" Next one!' Another?\u00bb Yes it is. Arabic\u061f Next one.",
    "See file. PDF attached here. The test. and more. Okay then!? Sure.",
    "Call me Mr. Smith. I met ca. 20 people. Nr. 5 won the prize.",
    "A. B. C. D. E. Multiple initials here.",
    "Trailing dots... more words... The end...",
    "Question? Answer! Statement. \"Quoted.\" 'Single.' `Tick.` \u201cCurly.\u201d",
    # format, private use, zero width and other odd types
    "Zero\u200bwidth space here. Bom\ufeff here. Private\ue000use here.",
    "Math \u2211 x = 5. Money $5 \u20ac3. Symbols \u00a9 \u2122 here.",
    "UPPER CASE WORDS. lower case words. MiXeD CaSe WoRdS.",
    "h3ll0 w0rld 42 007 \u0661\u0662\u0663 digits. \u2160\u2161 roman here.",
    "\u0645\u0631\u062d\u0628\u0627 \u0628\u0643. \u4f60\u597d\u4e16\u754c\u3002 \u65e5\u672c\u8a9e\u3067\u3059.",
    "Ok.",
    "   \t  ",
    "!!! ??? ... ,,, ;;;",
    "a.b.c.d e.f.g. Next one here.",
]


def _sha(obj) -> str:
    blob = json.dumps(obj, ensure_ascii=True, separators=(",", ":"))
    return hashlib.sha256(blob.encode("ascii")).hexdigest()


def _seed_entry(seed: int) -> dict:
    from topicrawler_spark.datagen import generate_corpus, topic_corpus
    from topicrawler_spark.functions.cleaning import clean_ext
    from topicrawler_spark.functions.jsouptext import extract_text, java_trim
    from topicrawler_spark.lm.local import LocalLM
    from topicrawler_spark.lm.ngrams import provider_ngrams
    from topicrawler_spark.lm.perplexity import DocumentScorer
    from topicrawler_spark.seg.sentences import provider_sentences

    corpus = generate_corpus(
        n_pages=1500, n_hosts=15, n_seeds=150, seed=seed, links_per_page=12
    )
    lm = LocalLM.from_texts([topic_corpus(seed, 800)], order=ORDER)
    scorer = DocumentScorer(lm)
    # the scorer's own SentenceMaker(2): scoring then reuses its line memo
    sm = scorer.sentence_maker
    assert (sm.min_length, sm.language_code) == (2, "default")
    urls = sorted(u for u in corpus.pages if not u.endswith("/robots.txt"))
    parts: dict[str, list] = {
        "sentences": [], "sentence_ngrams": [], "text_ngrams": [],
        "provider_sentences": [], "scores": [],
    }
    n_sentences = 0
    # a pure function of the sentence; pages of a host repeat their chrome
    memo: dict[str, list] = {}

    def sentence_ngrams(s: str) -> list:
        hit = memo.get(s)
        if hit is None:
            hit = memo[s] = provider_ngrams(s, ORDER)
        return hit

    for url in urls[:PAGES_PER_SEED]:
        html = corpus.pages[url].decode("utf-8", "replace")
        text = java_trim(extract_text(html, clean_ext))
        sents = sm.sentences(text)
        n_sentences += len(sents)
        parts["sentences"].append(sents)
        parts["sentence_ngrams"].append([sentence_ngrams(s) for s in sents])
        parts["text_ngrams"].append(provider_ngrams(text, ORDER))
        parts["provider_sentences"].append(provider_sentences(text))
        parts["scores"].append(float.hex(scorer.score_page_text(text)))
    entry = {"pages": PAGES_PER_SEED, "sentences_total": n_sentences}
    entry.update({k: _sha(v) for k, v in parts.items()})
    entry["lm_counts"] = _sha(sorted(lm.counts.items()))
    return entry


def _stress_entry(text: str) -> dict:
    from topicrawler_spark.lm.ngrams import provider_ngrams
    from topicrawler_spark.seg.sentences import (
        SentenceMaker,
        line_split,
        provider_sentences,
        rule_split,
    )
    from topicrawler_spark.seg.tokenizer import (
        diff_tokenize,
        empty_space_tokenize,
        filtered_normalized_tokens,
    )

    return {
        "text": text,
        "sentences": SentenceMaker(2).sentences(text),
        "sentences_min1": SentenceMaker(1).sentences(text),
        "provider_sentences": provider_sentences(text),
        "provider_ngrams": provider_ngrams(text, ORDER),
        "line_split": [[s, t.name] for s, t in line_split(text)],
        "rule_split": [[s, t.name] for s, t in rule_split(text)],
        "diff_tokenize": [[s, t.name] for s, t in diff_tokenize(text)],
        "empty_space_tokenize": [[s, t.name] for s, t in empty_space_tokenize(text)],
        "filtered_tokens": filtered_normalized_tokens(text),
    }


def build_digest() -> str:
    """The digest file's exact text; the corpus seeds are spread over
    ``WORKERS`` fresh interpreter processes."""
    import multiprocessing
    from concurrent.futures import ProcessPoolExecutor

    ctx = multiprocessing.get_context("spawn")
    with ProcessPoolExecutor(max_workers=WORKERS, mp_context=ctx) as pool:
        entries = list(pool.map(_seed_entry, SEEDS))
    doc = {
        "corpus": {str(s): e for s, e in zip(SEEDS, entries)},
        "stress": [_stress_entry(t) for t in STRESS],
    }
    return json.dumps(doc, ensure_ascii=True, indent=1, sort_keys=True) + "\n"


def main(argv: list[str]) -> int:
    text = build_digest()
    if "--check" in argv:
        with open(DIGEST_PATH, encoding="ascii") as f:
            same = f.read() == text
        print("digest matches" if same else "digest DIFFERS")
        return 0 if same else 1
    os.makedirs(os.path.dirname(DIGEST_PATH), exist_ok=True)
    with open(DIGEST_PATH, "w", encoding="ascii", newline="\n") as f:
        f.write(text)
    print(f"wrote {DIGEST_PATH}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
