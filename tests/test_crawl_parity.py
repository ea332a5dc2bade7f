"""The crawl-ordering ground-truth test: the distributed engine must produce
the exact per-round, per-host fetch order and the exact final URL-seen set
that the pure-Python reference simulator produces on the same corpus, seeds
and politeness budget — the batch analogue of 'matches the reference crawler
under the same seed list and politeness budget'."""

from __future__ import annotations

from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from topicrawler_spark.crawl.checkpoint import CheckpointStore
from topicrawler_spark.crawl.config import CrawlConfig
from topicrawler_spark.crawl.driver import run_crawl
from topicrawler_spark.crawl.simulator import CrawlSimulator
from topicrawler_spark.datagen import generate_corpus, pages_dataframe, topic_corpus
from topicrawler_spark.lm.local import LocalLM
from topicrawler_spark.lm.perplexity import DocumentScorer


@pytest.fixture(scope="module")
def corpus():
    return generate_corpus(n_pages=120, n_hosts=8, n_seeds=3, seed=42)


@pytest.fixture(scope="module")
def scorer():
    lm = LocalLM.from_texts([topic_corpus(42)], order=3)
    return DocumentScorer(lm, "kneser-ney")


@pytest.fixture(scope="module")
def cfg():
    return CrawlConfig(order=3, per_host_quota=3, max_hops=10, round_ms=1000)


ROUNDS = 4


@pytest.fixture(scope="module")
def sim_state(corpus, scorer, cfg):
    sim = CrawlSimulator(corpus.pages, scorer, cfg)
    return sim.run(corpus.seeds, ROUNDS)


@pytest.fixture(scope="module")
def engine_run(spark, corpus, scorer, cfg, tmp_path_factory):
    pages = pages_dataframe(spark, corpus)
    ckpt = str(tmp_path_factory.mktemp("crawl_ckpt"))
    return run_crawl(spark, pages, corpus.seeds, scorer, ROUNDS, cfg, checkpoint_dir=ckpt), ckpt


def test_fetch_order_matches_simulator(spark, engine_run, sim_state):
    run, ckpt = engine_run
    from topicrawler_spark.crawl.checkpoint import CheckpointStore

    store = CheckpointStore(ckpt)
    engine_log = []
    for r in range(1, run.state.round_no + 1):
        rows = store.read(spark, r, "fetch_log").collect()
        engine_log.extend((x["round"], x["host"], x["host_rank"], x["canon"]) for x in rows)
    sim_log = list(sim_state.fetch_log)
    assert sorted(engine_log) == sorted(sim_log)


def test_seen_set_matches_simulator(engine_run, sim_state):
    run, _ = engine_run
    engine_seen = {r["canon"] for r in run.state.seen.collect()}
    assert engine_seen == sim_state.seen


def test_frontier_matches_simulator(engine_run, sim_state):
    run, _ = engine_run
    engine_frontier = {r["canon"] for r in run.state.frontier.collect()}
    sim_frontier = {e.canon for e in sim_state.frontier}
    assert engine_frontier == sim_frontier


def test_perplexities_match_simulator(spark, engine_run, sim_state):
    run, ckpt = engine_run
    from topicrawler_spark.crawl.checkpoint import CheckpointStore

    store = CheckpointStore(ckpt)
    engine_perp = {}
    for r in range(1, run.state.round_no + 1):
        for x in store.read(spark, r, "results").collect():
            engine_perp[x["canon"]] = x["perp"]
    assert set(engine_perp) == set(sim_state.page_perp)
    for canon, p in sim_state.page_perp.items():
        assert engine_perp[canon] == pytest.approx(p, rel=1e-12), canon


def test_resume_from_checkpoint(spark, corpus, scorer, cfg, engine_run):
    """Re-running with the same checkpoint dir resumes, not recomputes: the
    state after resume equals the committed state."""
    run, ckpt = engine_run
    pages = pages_dataframe(spark, corpus)
    resumed = run_crawl(
        spark, pages, corpus.seeds, scorer, run.state.round_no, cfg, checkpoint_dir=ckpt
    )
    assert resumed.state.round_no == run.state.round_no
    assert resumed.metrics == []  # nothing re-executed
    a = {r["canon"] for r in resumed.state.frontier.collect()}
    b = {r["canon"] for r in run.state.frontier.collect()}
    assert a == b


def test_determinism_two_runs(spark, corpus, scorer, cfg, tmp_path_factory):
    pages = pages_dataframe(spark, corpus)
    r1 = run_crawl(spark, pages, corpus.seeds, scorer, 2, cfg,
                   checkpoint_dir=str(tmp_path_factory.mktemp("d1")))
    r2 = run_crawl(spark, pages, corpus.seeds, scorer, 2, cfg,
                   checkpoint_dir=str(tmp_path_factory.mktemp("d2")))
    s1 = sorted((x["canon"], x["directive"], x["precedence"], x["ord_r"], x["ord_k"])
                for x in r1.state.frontier.collect())
    s2 = sorted((x["canon"], x["directive"], x["precedence"], x["ord_r"], x["ord_k"])
                for x in r2.state.frontier.collect())
    assert s1 == s2


def test_large_regime_strategies_match_small(spark, corpus, scorer, cfg):
    """Forcing every at-scale physical strategy (sort-merge co-partitioned
    fetch, shuffle seen anti-join, salted politeness, two-phase ordinal)
    must produce the exact same crawl as the small-regime broadcast paths."""
    from dataclasses import replace

    pages = pages_dataframe(spark, corpus)
    small = run_crawl(spark, pages, corpus.seeds, scorer, 3, cfg)
    big_cfg = replace(
        cfg,
        salt_min_frontier=0,      # salted pre-rank always on
        broadcast_max=0,          # SMJ fetch, shuffle seen anti-join
        ordinal_single_max=0,     # two-phase ordinal
        n_salt=4,
    )
    big = run_crawl(spark, pages, corpus.seeds, scorer, 3, big_cfg)
    key = lambda x: (x["canon"], x["directive"], x["precedence"], x["ord_r"], x["ord_k"])
    assert sorted(map(key, small.state.frontier.collect())) == sorted(
        map(key, big.state.frontier.collect())
    )
    assert {r["url_hash"] for r in small.state.seen.collect()} == {
        r["url_hash"] for r in big.state.seen.collect()
    }


def test_retry_parity_with_simulator(spark, corpus, scorer, tmp_path):
    """Failed fetches must retry with ordinal intact (snoozed one window at
    this config) and drop after max_retries — identically in the engine and
    the simulator, down to the per-round fetch log."""
    from topicrawler_spark.crawl.checkpoint import CheckpointStore

    cfg = CrawlConfig(order=3, per_host_quota=3, max_hops=10, round_ms=1000,
                      retry_delay_s=0.5, max_retries=2)
    assert cfg.retry_delay_rounds() == 1
    rounds = 5
    sim = CrawlSimulator(corpus.pages, scorer, cfg)
    sim_state = sim.run(corpus.seeds, rounds)
    pages = pages_dataframe(spark, corpus)
    ckpt = str(tmp_path / "ck")
    run = run_crawl(spark, pages, corpus.seeds, scorer, rounds, cfg, checkpoint_dir=ckpt)
    store = CheckpointStore(ckpt)
    engine_log = []
    for r in range(1, run.state.round_no + 1):
        engine_log.extend(
            (x["round"], x["host"], x["host_rank"], x["canon"])
            for x in store.read(spark, r, "fetch_log").collect()
        )
    assert sorted(engine_log) == sorted(sim_state.fetch_log)
    # the corpus has dangling links: retries must actually occur
    from collections import Counter

    attempts = Counter(c for _, _, _, c in engine_log)
    assert any(v > 1 for v in attempts.values()), "no retry was exercised"
    engine_frontier = {
        (x["canon"], x["retries"], x["not_before"])
        for x in run.state.frontier.collect()
    }
    sim_frontier = {(e.canon, e.retries, e.not_before) for e in sim_state.frontier}
    assert engine_frontier == sim_frontier


def test_binding_budget_resume_matches_simulator(spark, corpus, scorer, cfg, tmp_path):
    """A lifetime budget below what the crawl would fetch retires hosts. A
    crawl stopped after round 2 and resumed to the last round must fetch and
    mark seen exactly what the simulator does: resume restores the per-host
    fetch totals, so a retired host never regains a quota."""
    c = replace(cfg, queue_total_budget=4)
    sim = CrawlSimulator(corpus.pages, scorer, c).run(corpus.seeds, ROUNDS)
    unbounded = CrawlSimulator(corpus.pages, scorer, cfg).run(corpus.seeds, ROUNDS)
    # the budget binds after the stop
    assert [x for x in sim.fetch_log if x[0] > 2] != [
        x for x in unbounded.fetch_log if x[0] > 2
    ]
    pages = pages_dataframe(spark, corpus)
    ckpt = str(tmp_path / "ck")
    run_crawl(spark, pages, corpus.seeds, scorer, 2, c, checkpoint_dir=ckpt)
    run = run_crawl(spark, pages, corpus.seeds, scorer, ROUNDS, c, checkpoint_dir=ckpt)
    assert [m["round"] for m in run.metrics] == list(range(3, ROUNDS + 1))
    store = CheckpointStore(ckpt)
    engine_log = [
        (x["round"], x["host"], x["host_rank"], x["canon"])
        for r in range(1, ROUNDS + 1)
        for x in store.read(spark, r, "fetch_log").collect()
    ]
    assert sorted(engine_log) == sorted(sim.fetch_log)
    assert {r["canon"] for r in run.state.seen.collect()} == sim.seen


def test_seen_segment_compaction_matches_full_checkpoint(spark, corpus, scorer, cfg):
    """Memory-mode seen checkpointing writes per-round SEGMENTS and carries
    the set as a union of leaves, compacting every N rounds. Forcing
    compaction every round (the old full-copy behavior) and never compacting
    (pure segment unions) must both produce the exact same seen set and
    frontier — the checkpoint strategy is invisible to crawl semantics."""
    from dataclasses import replace

    pages = pages_dataframe(spark, corpus)
    seg = run_crawl(spark, pages, corpus.seeds, scorer, 4,
                    replace(cfg, seen_compact_every=100))
    cmp_ = run_crawl(spark, pages, corpus.seeds, scorer, 4,
                     replace(cfg, seen_compact_every=1))
    assert {r["url_hash"] for r in seg.state.seen.collect()} == {
        r["url_hash"] for r in cmp_.state.seen.collect()
    }
    key = lambda x: (x["canon"], x["directive"], x["precedence"], x["ord_r"], x["ord_k"])
    assert sorted(map(key, seg.state.frontier.collect())) == sorted(
        map(key, cmp_.state.frontier.collect())
    )
    # no duplicate rows may accumulate across segment unions
    assert seg.state.seen.count() == seg.state.seen.select("url_hash").distinct().count()


# Per-round metrics of crawls of this corpus as reported by the engine's
# earlier metrics path, which counted each figure with its own Spark action.
# The observed metrics must reproduce them.
_BROADCAST_METRICS = [
    dict(round=1, admitted=3, fetched=3, scored=3, perp_min=91.35743044327607,
         perp_max=36405.2629058253, perp_avg=24170.794426721182, n_rejected_pages=0,
         urls_new=9, n_directive_1=3, n_directive_3=6),
    dict(round=2, admitted=6, fetched=5, scored=5, perp_min=138.9491056711309,
         perp_max=69800.96118582178, perp_avg=22548.628672009654, n_rejected_pages=0,
         urls_new=19, n_directive_1=6, n_directive_2=5, n_directive_3=8),
    dict(round=3, admitted=10, fetched=8, scored=8, perp_min=147.9226914490065,
         perp_max=41357.082422377156, perp_avg=9308.999166640886, n_rejected_pages=0,
         urls_new=15, n_directive_1=10, n_directive_2=3, n_directive_3=2),
]
_JOIN_REFRESH_METRICS = [
    dict(round=1, admitted=3, fetched=3, scored=3, perp_min=91.35743044327621,
         perp_max=36405.26290582493, perp_avg=24170.794426720928, n_rejected_pages=0,
         urls_new=9, n_directive_1=3, n_directive_3=6),
    dict(round=2, admitted=6, fetched=5, scored=5, perp_min=138.9491056711309,
         perp_max=69800.96118582122, perp_avg=22548.628672009403, n_rejected_pages=0,
         urls_new=19, n_directive_1=6, n_directive_2=5, n_directive_3=8),
    dict(round=3, admitted=10, fetched=8, scored=8, perp_min=31.498653516326563,
         perp_max=73.80489697817805, perp_avg=46.4283737887307, n_rejected_pages=0,
         urls_new=15, n_directive_1=15),
]
_PREREQ_METRICS = [
    dict(round=1, admitted=3, fetched=1, scored=0, perp_min=None, perp_max=None,
         perp_avg=None, n_rejected_pages=0, urls_new=0),
    dict(round=2, admitted=3, fetched=3, scored=3, perp_min=91.35743044327607,
         perp_max=36405.2629058253, perp_avg=24170.794426721182, n_rejected_pages=0,
         urls_new=9, n_directive_1=3, n_directive_3=6),
    dict(round=3, admitted=5, fetched=3, scored=3, perp_min=138.9491056711309,
         perp_max=69800.96118582178, perp_avg=23796.843782930766, n_rejected_pages=0,
         urls_new=13, n_directive_1=6, n_directive_2=5, n_directive_3=2),
]
PINNED_METRICS = {
    "broadcast": _BROADCAST_METRICS,
    # the same crawl in a store, stopped after round 1 and resumed
    "resumed": _BROADCAST_METRICS,
    "bloom": [
        dict(m, bloom_fresh=fresh, bloom_suspect=suspect)
        for m, (fresh, suspect) in zip(_BROADCAST_METRICS, [(9, 0), (19, 0), (15, 10)])
    ],
    "join_refresh": _JOIN_REFRESH_METRICS,
    "prereq": _PREREQ_METRICS,
}


def _assert_metrics_equal(got: dict, want: dict) -> None:
    extra = {k: v for k, v in got.items() if k not in want}
    # directive counters are reported for every directive, zeros included
    assert all(k.startswith("n_directive_") and v == 0 for k, v in extra.items()), extra
    for k, v in want.items():
        if k == "perp_avg" and v is not None:
            assert got[k] == pytest.approx(v, rel=1e-9), k
        else:
            assert got[k] == v, k


def _assert_manifests_match_tables(spark, run, ckpt: str) -> None:
    """Each committed round's manifest metrics equal the run's metrics and
    the counts over that round's committed tables."""
    store = CheckpointStore(ckpt)

    def fetched_total(r):
        return store.read(spark, r, "host_fetched").agg(F.sum("fetched")).collect()[0][0] or 0

    for m in run.metrics:
        r = m["round"]
        assert store.metrics(r) == m
        seen = store.read(spark, r, "seen_delta")
        prereqs = seen.filter(F.col("canon").endswith("/robots.txt")).count()
        assert m["admitted"] == store.read(spark, r, "fetch_log").count()
        assert m["scored"] == store.read(spark, r, "results").count()
        assert m["urls_new"] == seen.count() - prereqs
        assert m["fetched"] == fetched_total(r) - fetched_total(r - 1)


@pytest.mark.parametrize("crawl", sorted(PINNED_METRICS))
def test_round_metrics_match_pinned(spark, corpus, scorer, cfg, tmp_path, crawl):
    pages = pages_dataframe(spark, corpus)
    ckpt = str(tmp_path / "ck") if crawl in ("resumed", "prereq") else None
    kw = {}
    if crawl == "bloom":
        cfg = replace(cfg, bloom_min_seen=0)
    elif crawl == "join_refresh":
        cfg = replace(cfg, score_mode="join", lm_refresh_every=2)
        kw["lm_counts"] = spark.createDataFrame(
            [(g, len(g.split(" ")), c) for g, c in scorer.lm.counts.items()],
            "ngram string, n int, cnt long",
        )
    elif crawl == "prereq":
        cfg = replace(cfg, schedule_robots_prereqs=True)
    runs = []
    if crawl == "resumed":
        runs.append(run_crawl(spark, pages, corpus.seeds, scorer, 1, cfg, checkpoint_dir=ckpt))
    runs.append(run_crawl(spark, pages, corpus.seeds, scorer, 3, cfg, checkpoint_dir=ckpt, **kw))
    got = [m for run in runs for m in run.metrics]
    want = PINNED_METRICS[crawl]
    assert len(got) == len(want)
    for g, w in zip(got, want):
        _assert_metrics_equal(g, w)
    if ckpt is not None:
        for run in runs:
            _assert_manifests_match_tables(spark, run, ckpt)


def test_round_admitting_nothing_under_aqe_reports_zeros(
    spark, corpus, scorer, cfg, tmp_path, monkeypatch
):
    """A resumed round runs under AQE. When it admits nothing, AQE prunes the
    joins above the empty admitted set at runtime, and with them the
    observers below; the round must still finish and report zeros."""
    from topicrawler_spark.crawl import driver

    aqe = []
    real_round = driver.run_round

    def spy(spark_, *args, **kwargs):
        aqe.append(spark_.conf.get("spark.sql.adaptive.enabled"))
        return real_round(spark_, *args, **kwargs)

    monkeypatch.setattr(driver, "run_round", spy)
    # a lifetime budget of one page per host leaves round 3 nothing to admit;
    # salt_min_frontier=0 keeps the Bloom-sized resume in the at-scale regime
    c = replace(cfg, queue_total_budget=1, bloom_min_seen=0, salt_min_frontier=0)
    pages = pages_dataframe(spark, corpus)
    ckpt = str(tmp_path / "ck")
    run_crawl(spark, pages, corpus.seeds, scorer, 2, c, checkpoint_dir=ckpt)
    run = run_crawl(spark, pages, corpus.seeds, scorer, 3, c, checkpoint_dir=ckpt)
    assert aqe[-1] == "true"
    (m,) = run.metrics
    assert m["round"] == 3
    assert m["admitted"] == m["fetched"] == m["urls_new"] == 0
    assert m["bloom_fresh"] == m["bloom_suspect"] == 0
    assert m["perp_min"] is None
