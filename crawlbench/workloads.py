"""The crawl workloads: inputs from a seed, and the crawl calls.

Each workload builds its inputs with the public ``datagen`` generators and
crawls them with ``run_crawl`` the way a user does: default
``collect_metrics`` and ``pages_prepared``, and only semantic
``CrawlConfig`` fields. No regime threshold is set here.

A crawl is split into an untimed head and a timed tail. A stop-and-resume
workload's head is the crawl stopped after ``stop_after`` rounds, and its
tail is the ``run_crawl`` call that resumes it, so the first head warms up
the process (code generation, Python workers) before any timing. An
in-memory workload has no head; ``warm_up`` crawls a small corpus of the
same shape for it instead, untimed. Both workloads crawl two rounds.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from topicrawler_spark.crawl.config import CrawlConfig
from topicrawler_spark.datagen import generate_corpus, pages_dataframe, topic_corpus
from topicrawler_spark.lm.local import LocalLM
from topicrawler_spark.lm.perplexity import DocumentScorer

ORDER = 3


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    n_pages: int
    n_hosts: int
    n_seeds: int
    rounds: int
    quota: int
    crawl: dict = field(default_factory=dict)  # extra semantic CrawlConfig fields
    # checkpointed crawls stop after this round and resume in a fresh
    # run_crawl call; None = one in-memory run_crawl call
    stop_after: int | None = None
    # the traced run also crawls once at local[1] (scaling efficiency), or
    # times the relational LM build and refresh; one traced run does each,
    # so that neither passes the run-time limit
    single_core: bool = False
    join_lm: bool = False

    def config(self) -> CrawlConfig:
        return CrawlConfig(order=ORDER, per_host_quota=self.quota, max_hops=15, **self.crawl)


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "broadcast-wide",
            "broadcast KN scoring at a high per-host quota, in memory: the Arrow pass "
            "(extraction, outlinks, segmentation, DocumentScorer memos) is largest here",
            n_pages=1500, n_hosts=15, n_seeds=150, rounds=2, quota=100, single_core=True,
        ),
        Workload(
            "deep-resume",
            "low quota, Bloom from round 1, a checkpoint store, stopped and resumed: "
            "driver plan build, job launches, seen probe, parquet commit and resume",
            n_pages=600, n_hosts=20, n_seeds=60, rounds=2, quota=4,
            crawl={"bloom_min_seen": 0}, stop_after=1, join_lm=True,
        ),
    )
}


@dataclass
class Inputs:
    corpus: object  # datagen.SyntheticCorpus
    lm: LocalLM
    scorer: DocumentScorer
    pages: object  # the pages DataFrame


def build_corpus(w: Workload, corpus_seed: int):
    corpus = generate_corpus(
        n_pages=w.n_pages, n_hosts=w.n_hosts, n_seeds=w.n_seeds,
        seed=corpus_seed, links_per_page=12,
    )
    lm = LocalLM.from_texts([topic_corpus(corpus_seed, 800)], order=ORDER)
    return corpus, lm


def build_inputs(spark, corpus, lm: LocalLM) -> Inputs:
    return Inputs(corpus, lm, DocumentScorer(lm, "kneser-ney"), pages_dataframe(spark, corpus))


def warm_up(spark, w: Workload, inp: Inputs, corpus_seed: int) -> None:
    """For a workload without a head: crawl a tenth of its corpus shape
    for all its rounds, so that its timed crawl finds the session's code
    generated and its Python workers started."""
    if w.stop_after is not None:
        return
    small = generate_corpus(
        n_pages=w.n_pages // 10, n_hosts=w.n_hosts, n_seeds=w.n_seeds // 10,
        seed=corpus_seed, links_per_page=12,
    )
    _run_crawl(spark, Inputs(small, inp.lm, inp.scorer, pages_dataframe(spark, small)),
               w.rounds, w.config())


# run_crawl is looked up on its module at call time so that a tracer that
# patched it sees the call
def _run_crawl(spark, inp: Inputs, rounds: int, cfg, store: str | None = None):
    from topicrawler_spark.crawl import driver

    return driver.run_crawl(spark, inp.pages, inp.corpus.seeds, inp.scorer, rounds, cfg,
                            checkpoint_dir=store)


def head(spark, w: Workload, inp: Inputs, store: str) -> list:
    """The untimed start of a crawl: the ``CrawlRun`` of the call that
    stops after ``stop_after`` rounds, or nothing."""
    if w.stop_after is None:
        return []
    os.makedirs(store, exist_ok=True)
    return [_run_crawl(spark, inp, w.stop_after, w.config(), store)]


def tail(spark, w: Workload, inp: Inputs, store: str) -> list:
    """The timed part of a crawl: the call that runs (or resumes) it to
    ``rounds``."""
    return [_run_crawl(spark, inp, w.rounds, w.config(),
                       store if w.stop_after is not None else None)]
