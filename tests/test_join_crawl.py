"""Parity: a crawl scored RELATIONALLY against the count-table DataFrame
(cfg.score_mode='join' — the corpus-scale path once the topic LM outgrows a
driver broadcast) must reproduce the broadcast-LM crawl: same admissions,
same discoveries, same frontier ordering, same priority directives, and
per-round perplexity stats equal to float tolerance."""

from __future__ import annotations

from dataclasses import replace

import pytest

from topicrawler_spark.crawl.config import CrawlConfig
from topicrawler_spark.crawl.driver import run_crawl
from topicrawler_spark.datagen import generate_corpus, pages_dataframe, topic_corpus
from topicrawler_spark.lm.local import LocalLM
from topicrawler_spark.lm.perplexity import DocumentScorer


def _lm_counts_df(spark, lm: LocalLM):
    return spark.createDataFrame(
        [(g, len(g.split(" ")), c) for g, c in lm.counts.items()],
        "ngram string, n int, cnt long",
    )


def _frontier_rows(run):
    return sorted(
        (r["canon"], r["host"], r["directive"], r["precedence"],
         r["ord_r"], r["ord_k"], r["hops"])
        for r in run.state.frontier.collect()
    )


def test_join_scored_crawl_matches_broadcast(spark):
    corpus = generate_corpus(n_pages=600, n_hosts=12, n_seeds=6, seed=11)
    lm = LocalLM.from_texts([topic_corpus(11, 400)], order=3)
    scorer = DocumentScorer(lm, "kneser-ney")
    pages = pages_dataframe(spark, corpus)
    cfg_b = CrawlConfig(order=3, per_host_quota=50, max_hops=10)
    cfg_j = replace(cfg_b, score_mode="join")

    run_b = run_crawl(spark, pages, corpus.seeds, scorer, 3, cfg_b)
    run_j = run_crawl(
        spark, pages, corpus.seeds, scorer, 3, cfg_j,
        lm_counts=_lm_counts_df(spark, lm),
    )
    assert _frontier_rows(run_b) == _frontier_rows(run_j)
    assert len(run_b.metrics) == len(run_j.metrics) == 3
    for mb, mj in zip(run_b.metrics, run_j.metrics):
        assert mb["admitted"] == mj["admitted"]
        assert mb["fetched"] == mj["fetched"]
        assert mb["urls_new"] == mj["urls_new"]
        for k in ("perp_min", "perp_max", "perp_avg"):
            if mb[k] is None:
                assert mj[k] is None
            else:
                assert mj[k] == pytest.approx(mb[k], rel=1e-9), (k, mb[k], mj[k])


def test_join_mode_requires_lm_counts(spark):
    cfg = CrawlConfig(order=3, score_mode="join")
    with pytest.raises(ValueError, match="lm_counts"):
        run_crawl(spark, None, ["http://x/"], None, 1, cfg)
