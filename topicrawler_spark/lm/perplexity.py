"""Perplexity computation (``ModelPerplexity`` + the crawler's gates).

perp = 10^(-(sum log10 p(ngram)) / N) over the n-grams of a document;
N == 0 or a non-finite sum yields the model's *base perplexity* (the
perplexity of a single all-``<unk>`` n-gram, computed through the same
accumulator; models assigning -inf to it fall back to 0.0 exactly like the
reference's uninitialized field).

The crawler scorer (``DecesiveValueProducerPerplexity.computePerplexity`` +
``getPerplexity``) adds per-sentence gates: a sentence contributes only if it
produced at least one n-gram and its last n-gram has full LM order; an empty
extraction or a non-finite / <=1 perplexity becomes the sentinel -1.
"""

from __future__ import annotations

import math
from collections.abc import Callable

from topicrawler_spark.lm.local import LocalLM
from topicrawler_spark.lm.ngrams import provider_ngrams
from topicrawler_spark.seg.sentences import SentenceMaker

Log10Scorer = Callable[[list[str]], float]


def base_perplexity(lm: LocalLM, score: Log10Scorer) -> float:
    lp = score(lm.unk_ngram())
    if not math.isfinite(lp):
        return 0.0  # reference: uninitialized field fallback
    return math.pow(10.0, -lp)


def perplexity_of_sums(sum_log10: float, n: int, base: float) -> float:
    if n == 0 or not math.isfinite(sum_log10):
        return base
    return math.pow(10.0, -(sum_log10 / n))


def sequence_perplexity(
    lm: LocalLM,
    score: Log10Scorer,
    ngrams: list[list[str]],
    skip_oov: bool = False,
    ref_vocab: set[str] | None = None,
    skip_oov_reflm: bool = False,
) -> float:
    """``ModelPerplexity.calculatePerplexity`` with the PerplexityClient
    skip rule (PerplexityClient.java:257-274, ``--skipoov`` /
    ``--skipoovreflm`` / ``--oovreflm``): an n-gram is skipped iff it ends
    OOV w.r.t. the oov-reference vocabulary AND (skip_oov_reflm OR
    (skip_oov AND it also ends OOV in the scoring LM)). With no reference
    vocabulary the scoring LM's own vocab is the reference (the CLI
    default), reducing to the plain skip-oov rule. N==0 -> Integer.MAX_VALUE."""
    total = 0.0
    n_skipped = 0
    for ng in ngrams:
        ends_oov = lm.ends_with_oov(ng)
        ends_ref_oov = (
            ends_oov if ref_vocab is None else (not ng or ng[-1] not in ref_vocab)
        )
        if ends_ref_oov and (skip_oov_reflm or (skip_oov and ends_oov)):
            n_skipped += 1
            continue
        total += score(ng)
    n = len(ngrams) - n_skipped
    if n == 0 or not math.isfinite(total):
        return float(2**31 - 1)
    return math.pow(10.0, -(total / n))


class DocumentScorer:
    """The crawler's text -> perplexity function (sentence gates included).

    Build once on the driver, broadcast, call per page inside a pandas UDF.
    """

    def __init__(
        self,
        lm: LocalLM,
        kind: str = "kneser-ney",
        min_sentence_words: int = 2,
        language_code: str = "default",
        sentence_cache_max: int = 200_000,
        ngram_cache_max: int = 500_000,
        **scorer_kw,
    ) -> None:
        self.lm = lm
        self.order = lm.order
        self.kind = kind
        self.scorer_kw = scorer_kw
        self._score: Log10Scorer | None = None
        self.sentence_maker = SentenceMaker(min_sentence_words, language_code)
        self.language_code = language_code
        self.base = base_perplexity(lm, self.score)
        # per-process memo of a sentence's (sum log10 p, #ngrams) contribution.
        # Web text repeats site chrome (nav/footer sentences) on every page of
        # a host, so the same sentence is scored over and over; the memo keeps
        # results exactly identical while skipping the re-tokenize + re-score.
        # Bounded: cleared wholesale at the cap (no LRU bookkeeping in the hot
        # path). Not pickled — each executor worker builds its own.
        self._sentence_cache_max = sentence_cache_max
        self._sent_cache: dict[str, tuple[float, int]] = {}
        # distinct-ngram score memo, one level below the sentence memo: web
        # pages share most of their n-grams even when whole sentences differ,
        # so each distinct ngram pays the smoothing-chain lookups once per
        # worker process instead of once per occurrence. Same bounded
        # clear-at-cap policy; exactly identical results (pure function).
        self._ngram_cache_max = ngram_cache_max
        self._ng_cache: dict[tuple, float] = {}

    @property
    def score(self) -> Log10Scorer:
        # built lazily (and rebuilt after unpickling on executors): scorer
        # closures are not picklable, the LM tables are
        if self._score is None:
            self._score = self.lm.scorer(self.kind, **self.scorer_kw)
        return self._score

    def __getstate__(self):
        state = dict(self.__dict__)
        state["_score"] = None
        state["_sent_cache"] = {}
        state["_ng_cache"] = {}
        return state

    def score_ngram(self, ng: list[str]) -> float:
        """Memoized ``score(ng)`` — the per-distinct-ngram fast path."""
        key = tuple(ng)
        v = self._ng_cache.get(key)
        if v is None:
            v = self.score(ng)
            if len(self._ng_cache) >= self._ngram_cache_max:
                self._ng_cache.clear()
            self._ng_cache[key] = v
        return v

    def _sentence_contribution(self, sentence: str) -> tuple[float, int]:
        """(sum log10 p, n) of one sentence, with the reference's gates:
        zero contribution unless it produced >=1 ngram and the last ngram
        has full LM order."""
        hit = self._sent_cache.get(sentence)
        if hit is not None:
            return hit
        ngrams = provider_ngrams(sentence, self.order, self.language_code)
        if len(ngrams) < 1 or len(ngrams[-1]) < self.order:
            hit = (0.0, 0)
        else:
            score = self.score_ngram
            total = 0.0
            for ng in ngrams:
                total += score(ng)
            hit = (total, len(ngrams))
        if len(self._sent_cache) >= self._sentence_cache_max:
            self._sent_cache.clear()
        self._sent_cache[sentence] = hit
        return hit

    def perplexity(self, text: str) -> float:
        """computePerplexity: accumulate over gated sentences."""
        total = 0.0
        n = 0
        for sentence in self.sentence_maker.sentences(text):
            s, k = self._sentence_contribution(sentence)
            total += s
            n += k
        return perplexity_of_sums(total, n, self.base)

    def score_page_text(self, cleaned_plaintext_trimmed: str) -> float:
        """getPerplexity: empty text / non-finite / <=1 -> sentinel -1."""
        if not cleaned_plaintext_trimmed:
            return -1.0  # reference maps the +inf of empty text to -1
        p = self.perplexity(cleaned_plaintext_trimmed)
        if not math.isfinite(p) or p <= 1.0:
            return -1.0
        return p


class JoinScorer:
    """Corpus-scale crawl scoring: the page-perplexity decision variable
    computed RELATIONALLY against a count-table DataFrame instead of a
    broadcast in-memory LM — the path a 10^10-URL crawl takes once the
    topic LM outgrows a driver broadcast (order-n KN join scorer over the
    ``build_kn_stats`` dimension; lucenebased/KneserNeyLM at corpus scale).

    Built once per crawl (``build_join_scorer``): the stats dimension is
    cached/persisted, the histogram constants and the base perplexity (the
    all-<unk> n-gram through the same accumulator, ModelPerplexity's
    uninitialized-field fallback included) are two tiny setup jobs."""

    def __init__(
        self, stats, order: int, base: float, lookup, kn_log10, perp_col
    ) -> None:
        self.stats = stats
        self.order = order
        self.base = base
        # The Spark plan fragments below are round-invariant and built once
        # per campaign: rebuilding them per round is serial driver py4j time
        # (~1,100 round trips, ~0.5 s, for the lookup; ~0.5-1 s for the KN
        # when-chain) that scales with rounds, not executors.
        # build_stats_lookup result over ``stats``: scoring reads the
        # dimension only through it (``stats`` is kept to unpersist)
        self.lookup = lookup
        # kn_join_exprs probability column
        self.kn_log10 = kn_log10
        # join_perp_column tree over the fixed (text, _perp_s, _perp_n) names
        self.perp_col = perp_col


def build_join_scorer(spark, lm_counts, order: int, discount: float = -1.0) -> JoinScorer:
    from pyspark.sql import functions as F

    from topicrawler_spark.lm.counting import (
        KN_STAT_COLS,
        build_stats_lookup,
        kn_join_exprs,
        kn_join_setup,
        score_unique,
    )
    from topicrawler_spark.lm.ngrams import UNKNOWN_WORD

    stats, consts = kn_join_setup(lm_counts, order, discount)
    stats = stats.cache()
    # cache prefill: the dimension lives for the whole campaign, and the
    # first round should scan it from memory, not race its fill
    stats.count()
    keys, kn_log10 = kn_join_exprs(order, consts)
    lookup = build_stats_lookup(stats, keys, KN_STAT_COLS)
    unk = spark.createDataFrame([(" ".join([UNKNOWN_WORD] * order),)], "ngram string")
    lp = score_unique(unk, lookup, kn_log10).collect()[0]["kn_log10"]
    base = math.pow(10.0, -lp) if lp is not None and math.isfinite(lp) else 0.0
    perp_col = join_perp_column(
        F.col("text"), F.col("_perp_s"), F.col("_perp_n"), base
    )
    return JoinScorer(stats, order, base, lookup, kn_log10, perp_col)


def score_pages_join(pages, js: JoinScorer, id_col: str = "canon", ngrams_col: str = "ngrams"):
    """(id, ngrams) -> (id, _perp_s, _perp_n): per-page Σlog10 p and N via
    the join scorer, scoring each DISTINCT n-gram once per batch (web pages
    share most n-grams — the relational twin of the broadcast scorer's
    distinct-ngram memo) then re-joining multiplicity. Pages whose gated
    n-gram list is empty simply have no row (callers left-join and apply
    ``join_perp_column``)."""
    from pyspark.sql import functions as F

    from topicrawler_spark.lm.counting import score_unique

    expl = pages.select(F.col(id_col).alias("_pid"), F.explode(ngrams_col).alias("ngram"))
    scored = score_unique(expl.select("ngram").distinct(), js.lookup, js.kn_log10)
    return (
        expl.join(scored, "ngram")
        .groupBy("_pid")
        .agg(
            F.sum(F.col("kn_log10")).alias("_perp_s"),
            F.count(F.lit(1)).alias("_perp_n"),
        )
        .select(F.col("_pid").alias(id_col), "_perp_s", "_perp_n")
    )


def join_perp_column(text_col, s_col, n_col, base: float):
    """The crawler gate as a column expression — ``score_page_text``
    branch-for-branch: empty extraction -> -1; zero gated n-grams or a
    non-finite sum -> the base perplexity; then the non-finite / <=1
    sentinel. Column twin of ``perplexity_of_sums`` + ``score_page_text``."""
    from pyspark.sql import functions as F

    bad_sum = s_col.isNull() | F.isnan(s_col) | (F.abs(s_col) == float("inf"))
    raw = F.when(
        n_col.isNull() | (n_col == 0) | bad_sum, F.lit(float(base))
    ).otherwise(F.pow(F.lit(10.0), -(s_col / n_col)))
    gated = F.when(
        F.isnan(raw) | (F.abs(raw) == float("inf")) | (raw <= 1.0), F.lit(-1.0)
    ).otherwise(raw)
    return F.when(text_col.isNull() | (text_col == ""), F.lit(-1.0)).otherwise(gated)
