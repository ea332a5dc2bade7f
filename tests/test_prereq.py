"""Prerequisite scheduling (PreconditionEnforcer mapping): robots rules
start unknown and are discovered by fetching /robots.txt prerequisites.
Invariants pinned here:

- per host, the robots fetch strictly precedes every content fetch;
- robots-disallowed URLs are never fetched;
- with generous budgets, the crawl converges to the same content seen set
  as the out-of-band (up-front parse) mode — the same reachable allowed
  set, discovered one robots round later;
- the discovered rules state round-trips through the checkpoint."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from topicrawler_spark.crawl.checkpoint import CheckpointStore
from topicrawler_spark.crawl.config import CrawlConfig
from topicrawler_spark.crawl.driver import run_crawl
from topicrawler_spark.datagen import generate_corpus, pages_dataframe, topic_corpus
from topicrawler_spark.lm.local import LocalLM
from topicrawler_spark.lm.perplexity import DocumentScorer

ROUNDS = 12  # enough to exhaust the 100-page corpus in both modes


@pytest.fixture(scope="module")
def corpus():
    return generate_corpus(n_pages=100, n_hosts=8, n_seeds=3, seed=42)


@pytest.fixture(scope="module")
def scorer():
    lm = LocalLM.from_texts([topic_corpus(42)], order=3)
    return DocumentScorer(lm, "kneser-ney")


def _cfg(**kw):
    return CrawlConfig(order=3, per_host_quota=50, max_hops=10,
                       queue_total_budget=4096, **kw)


@pytest.fixture(scope="module")
def prereq_run(spark, corpus, scorer, tmp_path_factory):
    pages = pages_dataframe(spark, corpus)
    ckpt = str(tmp_path_factory.mktemp("prereq_ckpt"))
    run = run_crawl(
        spark, pages, corpus.seeds, scorer, ROUNDS,
        _cfg(schedule_robots_prereqs=True), checkpoint_dir=ckpt,
    )
    return run, ckpt


def _fetch_log(spark, run, ckpt):
    store = CheckpointStore(ckpt)
    rows = []
    for r in range(1, run.state.round_no + 1):
        rows.extend(
            (x["round"], x["host"], x["canon"])
            for x in store.read(spark, r, "fetch_log").collect()
        )
    return rows


def test_robots_fetched_before_content(spark, prereq_run):
    run, ckpt = prereq_run
    log = _fetch_log(spark, run, ckpt)
    robots_round = {}
    first_content_round = {}
    for rnd, host, canon in log:
        if canon.endswith("/robots.txt"):
            robots_round[host] = min(robots_round.get(host, rnd), rnd)
        else:
            first_content_round[host] = min(first_content_round.get(host, rnd), rnd)
    assert first_content_round, "no content was fetched"
    for host, rnd in first_content_round.items():
        assert host in robots_round, f"content fetched from {host} without robots"
        assert robots_round[host] < rnd, (host, robots_round[host], rnd)


def test_disallowed_never_fetched(spark, corpus, prereq_run):
    from topicrawler_spark.crawl.robots import parse_robots
    from topicrawler_spark.functions.canonicalize import canonicalize_py, host_classkey_py

    run, ckpt = prereq_run
    rules = {}
    for url, body in corpus.pages.items():
        if url.endswith("/robots.txt"):
            host = host_classkey_py(canonicalize_py(url))
            rules[host] = parse_robots(body.decode("utf-8", "replace"), "ltbot")
    log = _fetch_log(spark, run, ckpt)
    for _, host, canon in log:
        if canon.endswith("/robots.txt") or host not in rules:
            continue
        rest = canon.split("://", 1)[-1]
        path = "/" + rest.split("/", 1)[1] if "/" in rest else "/"
        assert rules[host].allows_path(path), (host, canon)


def test_converges_to_out_of_band_content_set(spark, corpus, scorer, prereq_run):
    run, _ = prereq_run
    pages = pages_dataframe(spark, corpus)
    oob = run_crawl(spark, pages, corpus.seeds, scorer, ROUNDS, _cfg())
    not_robots = ~F.col("canon").endswith("/robots.txt")
    prereq_seen = {r["canon"] for r in run.state.seen.filter(not_robots).collect()}
    oob_seen = {r["canon"] for r in oob.state.seen.filter(not_robots).collect()}
    assert prereq_seen == oob_seen


def test_rules_state_checkpoints_and_resumes(spark, corpus, scorer, prereq_run):
    run, ckpt = prereq_run
    store = CheckpointStore(ckpt)
    resumed = store.resume(spark)
    assert resumed.robots is not None
    # EVERYTHING ever scheduled — including the synthesized robots
    # prerequisites — must survive resume in the seen set (a lost robots
    # hash would let the URL re-enqueue as a content candidate later)
    log_all = _fetch_log(spark, run, ckpt)
    resumed_seen = {r["canon"] for r in resumed.seen.collect()}
    assert {c for _, _, c in log_all} <= resumed_seen
    hosts_known = {r["host"] for r in resumed.robots.collect()}
    # every host that had anything fetched must be known by crawl end
    log = _fetch_log(spark, run, ckpt)
    assert {h for _, h, _ in log} <= hosts_known
    # discovered crawl-delays match the corpus robots
    from topicrawler_spark.crawl.robots import effective_delay_ms, parse_robots
    from topicrawler_spark.functions.canonicalize import canonicalize_py, host_classkey_py

    want = {}
    for url, body in corpus.pages.items():
        if url.endswith("/robots.txt"):
            host = host_classkey_py(canonicalize_py(url))
            r = parse_robots(body.decode("utf-8", "replace"), "ltbot")
            want[host] = effective_delay_ms(r.crawl_delay, 100, 180.0)
    got = {r["host"]: r["delay_ms"] for r in resumed.robots.collect()}
    for host, d in want.items():
        if host in got and host in {h for _, h, _ in log}:
            assert got[host] == d, host
    # resuming and extending keeps working
    pages = pages_dataframe(spark, corpus)
    more = run_crawl(
        spark, pages, corpus.seeds, scorer, run.state.round_no + 1,
        _cfg(schedule_robots_prereqs=True), checkpoint_dir=ckpt,
    )
    assert more.state.round_no >= run.state.round_no


def test_prereq_ordinal_distributed_regime_parity(
    spark, corpus, scorer, prereq_run, tmp_path_factory
):
    """Forcing the at-scale strategies (ordinal_single_max=0 routes the
    prereq-host rank AND the enqueue ordinal through the two-phase
    zip_with_order instead of an unpartitioned window) must reproduce the
    default prereq crawl exactly, fetch for fetch. This is the mass
    seed-injection scenario: every host is new at once, and the prereq
    ordinal must not funnel the host universe through one reducer."""
    from dataclasses import replace

    base_run, base_ckpt = prereq_run
    ckpt = str(tmp_path_factory.mktemp("prereq_dist_ckpt"))
    pages = pages_dataframe(spark, corpus)
    cfg = replace(
        _cfg(schedule_robots_prereqs=True),
        ordinal_single_max=0,
        salt_min_frontier=0,
        broadcast_max=0,
        n_salt=4,
    )
    run = run_crawl(
        spark, pages, corpus.seeds, scorer, ROUNDS, cfg, checkpoint_dir=ckpt
    )
    assert sorted(_fetch_log(spark, run, ckpt)) == sorted(
        _fetch_log(spark, base_run, base_ckpt)
    )
