"""Per-layer kernel ceilings on a sample of the workload's own pages.

The Python kernels the Arrow pass runs, timed without Spark: extraction,
outlinks, sentence split + tokenize, and page scoring with a fresh scorer
(cold memos) and again on a second pass (warm memos). Canonicalization is
a Spark column expression, timed as a ``noop`` write over the sample's
outlinks. The relational LM is timed as the crawl driver uses it: a
join-scorer build from the topic counts, and a refresh (the sample's text
folded in with ``extend_lm_counts``, then the scorer rebuilt).
"""

from __future__ import annotations

import pickle
import time

SAMPLE_PAGES = 200
CANON_ROWS = 200_000


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def python_kernels(corpus, scorer) -> dict:
    """Ceilings of the Arrow-pass kernels; ``_outlinks`` and ``_texts``
    carry the sample's outlinks and page texts to the Spark-side timings."""
    from topicrawler_spark.functions.cleaning import clean_ext
    from topicrawler_spark.functions.jsouptext import extract_text, java_trim
    from topicrawler_spark.functions.outlinks import extract_outlinks
    from topicrawler_spark.seg.sentences import SentenceMaker

    urls = sorted(u for u in corpus.pages if not u.endswith("/robots.txt"))[:SAMPLE_PAGES]
    htmls = [corpus.pages[u].decode("utf-8", "replace") for u in urls]
    mb = sum(len(corpus.pages[u]) for u in urls) / 1e6

    texts, t_ext = _timed(lambda: [java_trim(extract_text(h, clean_ext)) for h in htmls])
    links, t_out = _timed(lambda: [extract_outlinks(h, u) for h, u in zip(htmls, urls)])
    sm = SentenceMaker(scorer.sentence_maker.min_length, scorer.language_code)
    sents, t_seg = _timed(lambda: [s for t in texts for s in sm.sentences(t)])
    # an unpickled copy has empty memos, as on a fresh executor worker
    fresh = pickle.loads(pickle.dumps(scorer))
    cold, t_cold = _timed(lambda: [fresh.score_page_text(t) for t in texts])
    warm, t_warm = _timed(lambda: [fresh.score_page_text(t) for t in texts])
    if cold != warm:
        raise AssertionError("warm-memo scores differ from cold-memo scores")
    return {
        "functions.extract_mb_per_s": mb / t_ext,
        "functions.outlinks_pages_per_s": len(htmls) / t_out,
        "seg.sentences_per_s": len(sents) / t_seg,
        "seg.sentence_share_ratio": len(set(sents)) / max(len(sents), 1),
        "lm.score_pages_per_s_cold": len(texts) / t_cold,
        "lm.score_pages_per_s_warm": len(texts) / t_warm,
        "_outlinks": [u for page in links for u, _ in page],
        "_texts": texts,
    }


def canon_rows_per_s(spark, outlinks: list[str]) -> float:
    from pyspark.sql import functions as F

    from topicrawler_spark.functions.canonicalize import canonical_url

    reps = -(-CANON_ROWS // max(len(outlinks), 1))
    df = (
        spark.createDataFrame([(u,) for u in outlinks], "url string")
        .select(F.explode(F.array_repeat("url", reps)).alias("url"))
        .localCheckpoint(eager=True)
    )
    n = df.count()
    sink = df.select(canonical_url(F.col("url")).alias("canon"))
    for _ in range(2):  # the first pass compiles the expression; keep the second
        _, t = _timed(lambda: sink.write.format("noop").mode("overwrite").save())
    return n / t


def join_lm_times(spark, lm, texts: list[str], order: int) -> dict:
    """Seconds to build the relational KN scorer from the topic counts, and
    to refresh it: ``extend_lm_counts`` over the sample's text, the grown
    table materialized, and the scorer rebuilt from it."""
    from topicrawler_spark.lm.counting import extend_lm_counts
    from topicrawler_spark.lm.perplexity import build_join_scorer

    counts = spark.createDataFrame(
        [(g, len(g.split(" ")), c) for g, c in sorted(lm.counts.items())],
        "ngram string, n int, cnt long",
    ).localCheckpoint(eager=True)
    text_df = spark.createDataFrame([(t,) for t in texts], "text string").localCheckpoint(eager=True)
    scorer, t_build = _timed(lambda: build_join_scorer(spark, counts, order))

    def refresh():
        grown = extend_lm_counts(counts, text_df, order).localCheckpoint(eager=True)
        return build_join_scorer(spark, grown, order)

    refreshed, t_refresh = _timed(refresh)
    scorer.stats.unpersist()
    refreshed.stats.unpersist()
    return {"lm.join_scorer_build_s": t_build, "lm.refresh_s": t_refresh}
