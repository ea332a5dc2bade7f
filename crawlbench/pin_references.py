"""Regenerate ``references.json``, the reference crawl digests.

    python3 crawlbench/pin_references.py

For corpus seeds 0..N_SEEDS-1 and each workload it records the reference
simulator's digest (pure Python, run in WORKERS processes). As a sanity
check, not stored: for a stop-and-resume workload the engine's digest of
the same crawl run in one ``run_crawl`` call must equal the simulator's,
so a resumed crawl that matches the reference also matches its own
uninterrupted run.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import shutil
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
N_SEEDS = 16
WORKERS = 2


def _simulate(job: tuple[str, int]) -> tuple[str, int, dict]:
    sys.path[:0] = [ROOT, BENCH_DIR]
    from checks import simulator_digest
    from workloads import WORKLOADS, build_corpus

    from topicrawler_spark.lm.perplexity import DocumentScorer

    name, seed = job
    w = WORKLOADS[name]
    corpus, lm = build_corpus(w, seed)
    return name, seed, simulator_digest(corpus, DocumentScorer(lm, "kneser-ney"), w.config(), w.rounds)


def main() -> int:
    sys.path[:0] = [ROOT]
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")])
    work = os.path.join(ROOT, ".crawlbench", "pin")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")

    from checks import REFERENCES, engine_digest
    from run import _spark_conf, _stop_spark
    from workloads import WORKLOADS, build_corpus, build_inputs

    from topicrawler_spark.crawl import driver
    from topicrawler_spark.session import get_spark

    seeds = range(N_SEEDS)
    pinned = [w for w in WORKLOADS.values() if w.stop_after is not None]
    refs: dict = {"n_seeds": N_SEEDS, **{n: {} for n in WORKLOADS}}
    uninterrupted: dict = {}
    with multiprocessing.get_context("spawn").Pool(WORKERS) as pool:
        sims = pool.map_async(_simulate, [(w.name, s) for s in seeds for w in WORKLOADS.values()])
        os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
        spark = get_spark(master=f"local[{len(os.sched_getaffinity(0))}]",
                          extra_conf=_spark_conf(work, None))
        try:
            for s in seeds:
                for w in pinned:
                    inp = build_inputs(spark, *build_corpus(w, s))
                    store = os.path.join(work, f"{w.name}-{s}")
                    run = driver.run_crawl(spark, inp.pages, inp.corpus.seeds, inp.scorer,
                                           w.rounds, w.config(), checkpoint_dir=store)
                    uninterrupted[w.name, str(s)] = engine_digest([run])
                    shutil.rmtree(store, ignore_errors=True)
                print(f"engine seed {s} done", flush=True)
        finally:
            _stop_spark(spark)
        for name, s, d in sims.get():
            refs[name][str(s)] = d
    shutil.rmtree(work, ignore_errors=True)
    bad = [key for key, d in uninterrupted.items() if refs[key[0]][key[1]] != d]
    if bad:
        print(f"engine and simulator disagree on {bad}", file=sys.stderr)
        return 1
    with open(REFERENCES, "w") as f:
        json.dump(refs, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
