"""The round-loop driver: seeds -> N crawl rounds, checkpointed, resumable.

Set SPARK_GRAFT_TIMING=1 to print per-round phase timings to stderr."""

from __future__ import annotations

import os
import sys
import threading
import time
from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from topicrawler_spark.crawl.checkpoint import CheckpointStore
from topicrawler_spark.crawl.config import CrawlConfig
from topicrawler_spark.crawl.robots import build_robots_table
from topicrawler_spark.crawl.round import (
    HOST_SCHEMA,
    CrawlState,
    init_state,
    run_round,
)
from topicrawler_spark.lm.perplexity import DocumentScorer

AQE_EXCLUDED_RULES = "spark.sql.adaptive.optimizer.excludedRules"
AQE_PROPAGATE_EMPTY = "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation"


@dataclass
class CrawlRun:
    state: CrawlState
    metrics: list[dict]


def run_crawl(
    spark: SparkSession,
    pages: DataFrame,
    seeds: list[str],
    scorer: DocumentScorer,
    rounds: int,
    cfg: CrawlConfig | None = None,
    checkpoint_dir: str | None = None,
    resume: bool = True,
    pages_prepared: bool = False,
    lm_counts=None,
) -> CrawlRun:
    cfg = cfg or CrawlConfig()
    if cfg.score_mode == "join" and lm_counts is None:
        raise ValueError("score_mode='join' requires the lm_counts DataFrame")
    if cfg.lm_refresh_every is not None and cfg.score_mode != "join":
        raise ValueError(
            "lm_refresh_every requires score_mode='join' (the broadcast "
            "LocalLM is the driver-bounded path and is not refreshed)"
        )
    store = CheckpointStore(checkpoint_dir) if checkpoint_dir else None

    state: CrawlState | None = None
    if store is not None and resume:
        state = store.resume(spark)
    if state is None:
        state = init_state(spark, seeds, cfg)
        if store is not None:
            store.commit_round(state, None)
        else:
            # memory mode carries the seen set as a union of checkpointed
            # leaves. The seed frontier is one too (lazy: the first action
            # fills it), and the seed seen set reads it: otherwise round 1's
            # emptiness probe, admission and frontier commit each recompute
            # the seeds' canonicalization and dropDuplicates, and the seen
            # scans of later rounds carry that plan until the first compaction
            frontier = state.frontier.localCheckpoint(eager=False)
            state = replace(
                state, frontier=frontier, seen=frontier.select("url_hash", "canon")
            )

    scorer_bc = spark.sparkContext.broadcast(scorer)
    if cfg.schedule_robots_prereqs:
        # prereq mode: rules are crawl state (state.robots), discovered by
        # fetching /robots.txt prerequisites — no up-front parse
        from topicrawler_spark.crawl.robots import HOST_RULES_SCHEMA

        rules = spark.createDataFrame([], HOST_RULES_SCHEMA)
    else:
        rules = build_robots_table(spark, pages, cfg)
    from topicrawler_spark.crawl.round import build_round_ops, prepare_pages

    join_scorer = None
    if cfg.score_mode == "join":
        # one-time scoring-campaign setup: the count stats dimension (cached)
        # + histogram constants + base perplexity — two tiny driver jobs
        from topicrawler_spark.lm.perplexity import build_join_scorer

        if store is not None and cfg.lm_refresh_every is not None:
            # resume with incremental LM: the newest committed refreshed
            # table supersedes the caller's seed-time counts — otherwise a
            # resumed crawl would silently score against the stale LM the
            # pre-crash rounds had already grown past
            persisted = store.latest_lm_counts(spark)
            if persisted is not None:
                lm_counts = persisted
        join_scorer = build_join_scorer(spark, lm_counts, cfg.order)
    lm_counts_cur = lm_counts

    # localCheckpoint: materialize AND flatten the logical plan to a leaf —
    # otherwise every round's analysis re-walks the canonicalization tree
    # inside prepare_pages (serial driver time per transformation).
    # Callers running several crawls over one store (or a store that is
    # already canon-keyed and bucketed, the warehouse case) prepare once and
    # pass pages_prepared=True.
    if not pages_prepared:
        pages = prepare_pages(pages).localCheckpoint(eager=True)
    ops = build_round_ops(cfg, scorer_bc, join_scorer=join_scorer)

    all_metrics: list[dict] = []

    # previous round's fetched-page count — run_round's scoring-bin hint
    # (None on the first round: the frontier-size hint stands in there)
    last_fetched: int | None = None
    # The hint is an upper bound on frontier/seen size driving the regime
    # switches. A fresh crawl's round-1 frontier IS the seed list, so the
    # hint must start at len(seeds) — starting at 0 would classify a 10M-seed
    # round 1 as "small" and broadcast the whole seed seen set. Resumed
    # crawls have no in-memory history; run the first round in the at-scale
    # regime (None) and refresh the hint from the committed seen set after it.
    frontier_hint: int | None = len(seeds) if state.round_no == 0 else None
    aqe_orig = spark.conf.get("spark.sql.adaptive.enabled", "true")
    shuffle_orig = spark.conf.get("spark.sql.shuffle.partitions", "200")
    excluded_orig = spark.conf.get(AQE_EXCLUDED_RULES, None)
    cores = spark.sparkContext.defaultParallelism
    # None = frontier emptiness unknown (fresh/resumed state): check once.
    # After a round that discovered > 0 URLs the frontier is non-empty by
    # construction, so the per-round isEmpty job is skipped.
    last_enq: int | None = None
    # Memory-mode state-commit pipelining: the frontier/seen checkpoint
    # writes are pure rescans of the round's cached intermediates, so they
    # materialize in a background thread that OVERLAPS the driver's
    # next-round plan construction (0.5-1 s/round of py4j DataFrame
    # building — serial by nature, it scales with rounds, not cores).
    # Exactly one background job is ever in flight, and it is joined before
    # any foreground action, so no two jobs race to compute a shared cache.
    bg_thread: threading.Thread | None = None
    bg_error: list[BaseException] = []
    t_wait = 0.0
    # rounds since the seen union was last compacted to a single leaf
    seen_seg_rounds = 0

    def _join_bg() -> None:
        nonlocal bg_thread, t_wait
        if bg_thread is not None:
            t0 = time.time()
            bg_thread.join()
            t_wait = time.time() - t0
            bg_thread = None
            if bg_error:
                raise bg_error.pop()

    try:
        # The round metrics are observations. With AQE on, a branch that
        # turns out empty at runtime is pruned together with its observer
        # (Observation.get then fails), so the crawl runs without that rule.
        spark.conf.set(
            AQE_EXCLUDED_RULES,
            ",".join(r for r in (excluded_orig, AQE_PROPAGATE_EMPTY) if r),
        )
        for _ in range(state.round_no, rounds):
            if last_enq is None or last_enq == 0:
                # rare path (fresh/resumed state or a zero-discovery round):
                # the emptiness probe is an action — sync with the committer
                _join_bg()
                if state.frontier.isEmpty():
                    break
            # Post-resume with bloom enabled: one count over the committed
            # (parquet-backed) seen set — needed for bloom sizing anyway, and
            # hoisted ABOVE the regime switch so the session conf
            # (AQE/shuffle partitions) and run_round's regime agree on the
            # first post-resume round instead of pairing at-scale conf with
            # small-regime plans.
            if frontier_hint is None and cfg.bloom_min_seen is not None:
                frontier_hint = state.seen.count()
            # AQE pays one driver re-plan round trip per query stage — a win when
            # stages shuffle real data (runtime coalescing/skew handling), pure
            # latency when the whole round is sub-second stages. Follow the same
            # regime switch as salting: off below the threshold, on at scale.
            # With AQE off, right-size the static shuffle partitioning to the
            # executor-slot count (the coalescing AQE would otherwise perform).
            small = frontier_hint is not None and frontier_hint < cfg.salt_min_frontier
            desired_aqe = "false" if small else aqe_orig
            desired_shuffle = str(cores) if small else shuffle_orig
            if (
                spark.conf.get("spark.sql.adaptive.enabled", aqe_orig) != desired_aqe
                or spark.conf.get("spark.sql.shuffle.partitions", shuffle_orig)
                != desired_shuffle
            ):
                # regime TRANSITION: the background committer's frontier/seen
                # jobs compile under the live session conf — join it before
                # flipping so its plans never run under the next round's (or a
                # half-flipped) conf. Steady-state rounds leave the conf
                # untouched and keep the commit/plan-build overlap.
                _join_bg()
                spark.conf.set("spark.sql.adaptive.enabled", desired_aqe)
                spark.conf.set("spark.sql.shuffle.partitions", desired_shuffle)
            # Bloom regime: once the seen set passes the threshold (or its
            # size is unknown post-resume, i.e. possibly at-scale), build the
            # sharded filter from the committed seen set; thereafter
            # run_round maintains it incrementally. With auto-sizing the
            # shard count/size derive from the seen-count hint (>=10
            # bits/key with 4x headroom), and when the seen set outgrows the
            # filter's ~50%-density capacity it is rebuilt larger — a
            # saturated filter flags everything maybe-seen and prunes
            # nothing while still paying its cogroup probe every round.
            if cfg.bloom_min_seen is not None and (
                frontier_hint is None or frontier_hint >= cfg.bloom_min_seen
            ):
                from topicrawler_spark.crawl.bloom import BloomParams, bloom_add

                active = state.bloom_params or (
                    cfg.bloom_params() if state.bloom is not None else None
                )
                build = None
                if state.bloom is None and frontier_hint >= cfg.bloom_min_seen:
                    build = (
                        BloomParams.for_keys(frontier_hint, n_hashes=cfg.bloom_hashes)
                        if cfg.bloom_auto_size
                        else cfg.bloom_params()
                    )
                elif (
                    state.bloom is not None
                    and cfg.bloom_auto_size
                    and active is not None
                    and frontier_hint > active.capacity
                ):
                    build = BloomParams.for_keys(frontier_hint, n_hashes=cfg.bloom_hashes)
                if build is not None:
                    state = replace(
                        state,
                        bloom=bloom_add(
                            spark, None, state.seen.select("url_hash"), build
                        ).localCheckpoint(eager=False),
                        bloom_params=build,
                    )
            t0 = time.time()
            # the pre-round seen set: a union of materialized leaves that the
            # post-round segment checkpoint extends without re-copying it
            prev_seen = state.seen
            # run_round is action-free, so its plan construction overlaps the
            # previous round's background commit
            state, result = run_round(
                spark, state, pages, scorer_bc, rules, cfg,
                frontier_size_hint=frontier_hint, ops=ops, fetched_hint=last_fetched,
            )
            t_plan = time.time() - t0
            # plan construction is done — sync with the previous round's
            # background committer before this round's first action
            _join_bg()
            t0 = time.time()
            # The foreground step: one dedicated job per cache in
            # RoundResult.fills, in dependency order. The observations ride
            # on those jobs, so the round's metrics cost no job of their own.
            for df in result.fills:
                df.count()
            metrics = result.resolve_metrics()
            all_metrics.append(metrics)
            # Incremental topic-LM refresh: fold this round's focused pages
            # into the count table (one union + hash aggregate — scales with
            # the round's pages, not the accumulated table). The rebuilt
            # scorer takes effect from the NEXT round; the refresh itself is
            # committed with this round (store mode) or checkpointed eagerly
            # while this round's caches are still registered (memory mode).
            lm_refreshed = None
            if (
                join_scorer is not None
                and cfg.lm_refresh_every
                and state.round_no % cfg.lm_refresh_every == 0
            ):
                from topicrawler_spark.lm.counting import extend_lm_counts

                focused = result.results.filter(
                    F.col("text").isNotNull()
                    & (F.col("text") != "")
                    & (F.col("perp") > 0)
                )
                if cfg.lm_refresh_max_perp is not None:
                    focused = focused.filter(F.col("perp") <= cfg.lm_refresh_max_perp)
                lm_refreshed = extend_lm_counts(
                    lm_counts_cur,
                    focused.select("text"),
                    cfg.order,
                    mincount=cfg.lm_refresh_mincount,
                    language_code=cfg.language_code,
                )
                if store is None:
                    # materialize now (the plan scans this round's caches,
                    # which the background committer will unpersist) and cut
                    # the per-refresh lineage growth to a leaf
                    lm_refreshed = lm_refreshed.localCheckpoint(eager=True)
            if store is not None:
                # the manifest carries the resolved metrics
                store.commit_round(state, result, lm_counts=lm_refreshed)
                # re-read committed state: cuts the lazy lineage chain and makes
                # the carried state exactly the committed bytes
                state = store.resume(spark)
                if lm_refreshed is not None:
                    # same re-read discipline for the refreshed count table
                    lm_refreshed = store.read(spark, state.round_no, "lm_counts")
                for df in result.cached:
                    df.unpersist()
            else:
                # memory-only mode: after the foreground fills, the per-host
                # totals are one small job over the built caches; the
                # frontier + seen checkpoint writes, pure rescans of those
                # caches, run in a BACKGROUND thread overlapping the next
                # round's plan construction, joined before the next
                # foreground action.
                # the empty union hides the aggregate's hash partitioning: a
                # plan repeating such a leaf re-ids it and misses the caches
                host_fetched = state.host_fetched.unionByName(
                    spark.createDataFrame([], HOST_SCHEMA)
                ).localCheckpoint(eager=True)
                # lazy localCheckpoints: flatten the frontier's plan to a
                # leaf; the background committer materializes it (the bloom's
                # cogroup chain stays lazy — it materializes inside the next
                # round's probe).
                frontier = state.frontier.localCheckpoint(eager=False)
                # Seen set: checkpoint ONLY this round's segment and carry
                # the set as a union of already-materialized leaves — the
                # in-memory twin of the store's append-only segments.
                # Checkpointing state.seen itself would re-copy the ENTIRE
                # accumulated set every round (O(rounds x |seen|) write
                # volume, all of it non-scaling background work). Every
                # cfg.seen_compact_every rounds the union compacts to one
                # leaf so plan width stays bounded over a long crawl.
                seen_seg_rounds += 1
                if seen_seg_rounds < cfg.seen_compact_every:
                    seen_commit = result.seen_segment.localCheckpoint(eager=False)
                    seen = prev_seen.unionByName(seen_commit)
                else:
                    seen = seen_commit = state.seen.localCheckpoint(eager=False)
                    seen_seg_rounds = 0
                bloom = (
                    state.bloom.localCheckpoint(eager=False)
                    if state.bloom is not None
                    else None
                )
                robots_state = (
                    state.robots.localCheckpoint(eager=False)
                    if state.robots is not None
                    else None
                )
                caches = tuple(result.cached)

                def _commit(fr=frontier, sn=seen_commit, caches=caches) -> None:
                    try:
                        fr.count()  # materializes the lazy checkpoint
                        sn.count()  # the seen SEGMENT (or the compacted set)
                        # once frontier+seen are checkpointed leaves nothing
                        # references this round's caches — including
                        # new_unique, which only the (now-written) seen
                        # union consumed
                        for df in caches:
                            df.unpersist()
                    except BaseException as e:  # pragma: no cover - rethrown at join
                        bg_error.append(e)

                bg_thread = threading.Thread(
                    target=_commit, name="round-committer", daemon=True
                )
                bg_thread.start()
                state = CrawlState(
                    state.round_no, frontier, seen, host_fetched, bloom,
                    robots_state, state.bloom_params,
                )
            if os.environ.get("SPARK_GRAFT_TIMING") == "1":
                print(
                    f"[round {state.round_no}] plan={t_plan:.2f}s "
                    f"exec={time.time() - t0:.2f}s bgwait={t_wait:.2f}s "
                    f"enq={metrics['urls_new']} fetched={metrics['fetched']}",
                    file=sys.stderr,
                )
            if lm_refreshed is not None:
                # rebuild the scoring campaign from the refreshed table:
                # stats dimension + discounts/histogram constants + base
                # perplexity (two tiny driver jobs), then the round ops so
                # every subsequent round scores against the grown LM. Join
                # the background committer first — the setup runs foreground
                # actions and must not race the commit's cache rescans.
                from topicrawler_spark.lm.perplexity import build_join_scorer

                _join_bg()
                old_stats = join_scorer.stats if join_scorer is not None else None
                lm_counts_cur = lm_refreshed
                join_scorer = build_join_scorer(spark, lm_counts_cur, cfg.order)
                if old_stats is not None:
                    old_stats.unpersist()
                ops = build_round_ops(cfg, scorer_bc, join_scorer=join_scorer)
            # next round's scoring-bin hint: this round's fetched count is
            # the best action-free predictor of next round's page volume
            # (admission quotas move slowly round-to-round)
            last_fetched = metrics["fetched"] or last_fetched
            last_enq = metrics["urls_new"]
            if frontier_hint is None:
                # first post-resume round: one count over the (parquet-backed,
                # just-committed) seen set restores hint-driven regime
                # switching; thereafter the hint accumulates per-round.
                frontier_hint = state.seen.count()
            else:
                # running upper bound on frontier size: everything ever
                # discovered, prereq-mode robots URLs included
                frontier_hint += last_enq + result.n_prereqs
    finally:
        # drain the in-flight background committer so the returned state is
        # fully materialized (and its failure, if any, surfaces here)
        _join_bg()
        # the per-regime conf switches touch session-wide state; restore
        # them even when a round fails mid-crawl
        spark.conf.set("spark.sql.adaptive.enabled", aqe_orig)
        spark.conf.set("spark.sql.shuffle.partitions", shuffle_orig)
        if excluded_orig is None:
            spark.conf.unset(AQE_EXCLUDED_RULES)
        else:
            spark.conf.set(AQE_EXCLUDED_RULES, excluded_orig)
    return CrawlRun(state, all_metrics)
