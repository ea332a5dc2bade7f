"""Crawl output checks: invariants and a digest compared with a reference.

The digest is the per-round fetched counts plus hashes of the final seen
set and frontier. References live in ``references.json`` beside this file
(regenerate with ``pin_references.py``): the reference simulator's digest
of every workload and corpus seed.
"""

from __future__ import annotations

import hashlib
import json
import os
from collections import Counter

REFERENCES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "references.json")
FRONTIER_KEY = ("canon", "directive", "precedence", "hops", "retries", "not_before")


def _sha(items) -> str:
    return hashlib.sha256(json.dumps(items).encode()).hexdigest()[:16]


def digest(fetched: list[int], seen_canons, frontier_rows) -> dict:
    return {
        "fetched": [int(x) for x in fetched],
        "seen": _sha(sorted(seen_canons)),
        "frontier": _sha(sorted(list(r) for r in frontier_rows)),
    }


def engine_digest(runs, seen_rows=None) -> dict:
    """Digest of one workload crawl (the ``CrawlRun`` of each call)."""
    metrics = [m for r in runs for m in r.metrics]
    state = runs[-1].state
    if seen_rows is None:
        seen_rows = state.seen.select("url_hash", "canon").collect()
    return digest(
        [m["fetched"] for m in metrics],
        [r["canon"] for r in seen_rows],
        [tuple(r) for r in state.frontier.select(*FRONTIER_KEY).collect()],
    )


def simulator_digest(corpus, scorer, cfg, rounds: int) -> dict:
    from topicrawler_spark.crawl.simulator import CrawlSimulator

    sim = CrawlSimulator(corpus.pages, scorer, cfg)
    sim.seed(corpus.seeds)
    ran = 0
    for r in range(1, rounds + 1):
        if not sim.state.frontier:
            break
        sim.run_round(r)
        ran = r
    st = sim.state
    ok = Counter(rn for rn, _, _, canon in st.fetch_log if canon in sim.pages_by_canon)
    return digest(
        [ok.get(r, 0) for r in range(1, ran + 1)],
        st.seen,
        [tuple(getattr(e, k) for k in FRONTIER_KEY) for e in st.frontier],
    )


def load_references() -> dict:
    with open(REFERENCES) as f:
        return json.load(f)


def invariants(runs, seeds: list[str], quota: int, host_fetched_before: list,
               seen_rows) -> list[str]:
    """Engine invariants; returns the violated ones as messages.

    ``host_fetched_before``: each round's input per-host fetched totals, as
    DataFrames captured at ``run_round`` entry (collected here, after the
    timed crawl). ``seen_rows``: the final seen set's (url_hash, canon)."""
    from topicrawler_spark.functions.canonicalize import canonicalize_py

    bad = []
    state = runs[-1].state
    metrics = [m for r in runs for m in r.metrics]
    hashes = [r["url_hash"] for r in seen_rows]
    if len(hashes) != len(set(hashes)):
        bad.append(f"seen has {len(hashes) - len(set(hashes))} duplicate url_hash rows")
    expect = len({canonicalize_py(s) for s in seeds}) + sum(m["urls_new"] for m in metrics)
    if len(hashes) != expect:
        bad.append(f"|seen|={len(hashes)} but seeds + sum(urls_new) = {expect}")
    totals = [
        {r["host"]: r["fetched"] for r in df.collect()} for df in host_fetched_before
    ] + [{r["host"]: r["fetched"] for r in state.host_fetched.collect()}]
    for rnd, (a, b) in enumerate(zip(totals, totals[1:]), start=1):
        over = {h: n - a.get(h, 0) for h, n in b.items() if n - a.get(h, 0) > quota}
        if over:
            bad.append(f"round {rnd}: hosts over quota {quota}: {sorted(over.items())[:3]}")
    return bad
