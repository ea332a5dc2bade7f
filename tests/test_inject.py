"""inject_urls (importUris / forceFetch analogue): normal injection
respects the URL-seen filter; force_fetch bypasses it; the frontier and
seen set stay duplicate-free either way."""

from __future__ import annotations

import pytest

from topicrawler_spark.crawl.config import CrawlConfig
from topicrawler_spark.crawl.driver import run_crawl
from topicrawler_spark.crawl.robots import build_robots_table
from topicrawler_spark.crawl.round import build_round_ops, inject_urls, prepare_pages, run_round
from topicrawler_spark.datagen import generate_corpus, pages_dataframe, topic_corpus
from topicrawler_spark.lm.local import LocalLM
from topicrawler_spark.lm.perplexity import DocumentScorer


@pytest.fixture(scope="module")
def setup(spark):
    corpus = generate_corpus(n_pages=80, n_hosts=5, n_seeds=2, seed=11)
    pages = pages_dataframe(spark, corpus)
    lm = LocalLM.from_texts([topic_corpus(11)], order=3)
    scorer = DocumentScorer(lm, "kneser-ney")
    cfg = CrawlConfig(order=3, per_host_quota=5, max_hops=8)
    run = run_crawl(spark, pages, corpus.seeds, scorer, 2, cfg)
    return corpus, pages, scorer, cfg, run


def test_normal_injection_respects_seen(spark, setup):
    corpus, pages, scorer, cfg, run = setup
    state = run.state
    fetched_canon = sorted({r["canon"] for r in state.seen.collect()})[0]
    before = state.frontier.count()
    after = inject_urls(spark, state, [fetched_canon], cfg, force_fetch=False)
    assert after.frontier.count() == before  # seen URL dropped


def test_force_fetch_bypasses_seen(spark, setup):
    corpus, pages, scorer, cfg, run = setup
    state = run.state
    seen_before = {r["url_hash"] for r in state.seen.collect()}
    fetched_canon = sorted({r["canon"] for r in state.seen.collect()})[0]
    after = inject_urls(spark, state, [fetched_canon], cfg, force_fetch=True)
    got = [r for r in after.frontier.collect() if r["canon"] == fetched_canon]
    assert len(got) == 1
    assert got[0]["ord_k"] < 0  # arrival ordinal ahead of round discoveries
    # seen set unchanged (no duplicate row for an already-seen hash)
    assert {r["url_hash"] for r in after.seen.collect()} == seen_before
    assert after.seen.count() == len(seen_before)
    # and the forced URL actually gets fetched again next round
    scorer_bc = spark.sparkContext.broadcast(scorer)
    robots = build_robots_table(spark, pages, cfg)
    ops = build_round_ops(cfg, scorer_bc)
    pp = prepare_pages(pages).localCheckpoint(eager=True)
    _, result = run_round(
        spark, after, pp, scorer_bc, robots, cfg,
        frontier_size_hint=0, ops=ops,
    )
    logged = {r["canon"] for r in result.fetch_log.collect()}
    assert fetched_canon in logged


def test_durable_injection_roundtrips_checkpoint(spark, setup, tmp_path):
    """With a store, the injection commits as its own atomic round: resume
    replays the post-injection frontier AND seen additions."""
    from topicrawler_spark.crawl.checkpoint import CheckpointStore

    corpus, pages, scorer, cfg, _ = setup
    ckpt = str(tmp_path / "ck")
    run = run_crawl(spark, pages, corpus.seeds, scorer, 2, cfg, checkpoint_dir=ckpt)
    store = CheckpointStore(ckpt)
    url = "http://injected.example/durable"
    after = inject_urls(spark, run.state, [url], cfg, store=store)
    assert after.round_no == run.state.round_no + 1
    resumed = store.resume(spark)
    assert resumed.round_no == after.round_no
    assert [r for r in resumed.frontier.collect() if r["url"] == url]
    assert resumed.seen.filter(resumed.seen.canon == url).count() == 1
    # seen set has no duplicate fingerprints after the injection segment
    assert resumed.seen.count() == resumed.seen.select("url_hash").distinct().count()


def test_unseen_injection_enqueues_and_marks_seen(spark, setup):
    corpus, pages, scorer, cfg, run = setup
    state = run.state
    url = "http://injected.example/new-page"
    after = inject_urls(spark, state, [url], cfg)
    assert [r for r in after.frontier.collect() if r["url"] == url]
    assert after.seen.filter(after.seen.canon == url).count() == 1
    # injecting the same URL again is a no-op (now seen)
    again = inject_urls(spark, after, [url], cfg)
    assert again.frontier.count() == after.frontier.count()
    assert again.seen.count() == after.seen.count()
