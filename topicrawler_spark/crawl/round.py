"""One crawl round as one Spark job.

Dataflow (Spark re-expression of the reference's candidate/fetch/disposition
chains, SURVEY.md §3.1):

frontier_r --(salted per-host top-k: politeness + queue budget)--> admitted
admitted ⋈ pages (equi-join on url) --> fetched
fetched --extract_text/perplexity/outlinks (one Arrow pass, html dropped)-->
posexplode(outlinks) --> candidates
candidates --scope filters --> canonicalize --> priority exprs -->
in-round dedup (first discovery wins) --> anti-join seen --> robots gate -->
deterministic ordinal --> frontier_{r+1}, seen', host_fetched', results_r,
fetch_log_r, metrics_r

Ordinals are (round_added, rank_within_round) pairs — lexicographically
identical to the reference's monotone 48-bit arrival ordinal, but assigned
with a two-phase rank instead of a global sequence point.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from topicrawler_spark.crawl.config import CrawlConfig
from topicrawler_spark.crawl.priority import HIGH, HIGHEST, MEDIUM, NORMAL, apply_priority
from topicrawler_spark.crawl.ranking import (
    partition_probe_ints,
    per_host_top_k,
    zip_with_order,
)
from topicrawler_spark.crawl.robots import gate_by_robots
from topicrawler_spark.functions.canonicalize import canonical_url, host_classkey, url_hash64
from topicrawler_spark.functions.udfs import make_page_ngrams_udf, make_page_process_udf

FRONTIER_SCHEMA = (
    "url string, canon string, url_hash long, host string, directive int, "
    "precedence int, ord_r int, ord_k long, hops int, via string, "
    "retries int, not_before int"
)
_FRONTIER_COLS = [
    "url", "canon", "url_hash", "host", "directive", "precedence",
    "ord_r", "ord_k", "hops", "via", "retries", "not_before",
]
SEEN_SCHEMA = "url_hash long, canon string"
HOST_SCHEMA = "host string, fetched long"
ORDER_COLS = ["directive", "precedence", "ord_r", "ord_k"]


@dataclass
class CrawlState:
    round_no: int
    frontier: DataFrame
    seen: DataFrame
    host_fetched: DataFrame
    # sharded Bloom pre-filter over seen url_hashes; None below the
    # activation threshold (the driver builds it from `seen` on activation)
    bloom: DataFrame | None = None
    # robots rules discovered so far (HOST_RULES_SCHEMA rows); only used in
    # prerequisite-scheduling mode, where rules are crawl state rather than
    # a crawl-static table. None = nothing known yet.
    robots: DataFrame | None = None
    # the ACTIVE Bloom sizing (auto-sized from the seen-count hint at
    # activation/rebuild, checkpointed in the manifest); set exactly when
    # `bloom` is
    bloom_params: object | None = None


@dataclass
class RoundOps:
    """Per-crawl constants: column expressions and pandas UDFs.

    Column trees and UDF objects are built through py4j on the driver; the
    canonicalization chain alone is a ~100-node expression tree costing
    ~200 ms to construct. Rebuilding these every round is pure *serial*
    driver time (it scales with rounds, not cores), so the driver builds
    them once per crawl and every round reuses them.
    """

    canon_of_url: Column
    host_of_canon: Column
    hash_of_canon: Column
    cand_keep: Column  # scope/hygiene predicate over (hops, canon)
    directive: Column  # priority mapping over via_perp
    precedence: Column
    page_udf: object  # html -> (text, outlinks, perp), one Arrow pass
    # corpus-scale relational scoring (cfg.score_mode == "join"): a
    # JoinScorer built once per crawl; page_udf then emits gated ngrams
    # instead of a perplexity and the round joins them against the count
    # stats dimension
    join_score: object | None = None


def build_round_ops(cfg: CrawlConfig, scorer_bc, join_scorer=None) -> RoundOps:
    canon = F.col("canon")
    keep = (
        (F.col("hops") <= cfg.max_hops)
        & ~canon.rlike(cfg.reject_extensions)
        & canon.rlike(r"^https?://")
    )
    if cfg.hygiene_filters:
        from topicrawler_spark.functions.surt import PATHOLOGICAL_PATH, TOO_MANY_SEGMENTS

        keep = keep & ~canon.rlike(PATHOLOGICAL_PATH) & ~canon.rlike(TOO_MANY_SEGMENTS)
    if cfg.surt_prefixes:
        from topicrawler_spark.functions.surt import in_surt_scope

        keep = keep & in_surt_scope(canon, list(cfg.surt_prefixes))
    directive, cost = apply_priority(
        F.col("via_perp"),
        boundaries=cfg.boundaries,
        maxvalue=cfg.maxvalue,
        max_precedence=cfg.max_precedence,
    )
    return RoundOps(
        canon_of_url=canonical_url(F.col("url")),
        host_of_canon=host_classkey(canon),
        hash_of_canon=url_hash64(canon),
        cand_keep=keep,
        directive=directive,
        precedence=cost,
        page_udf=(
            make_page_process_udf(scorer_bc, "ext")
            if join_scorer is None
            else make_page_ngrams_udf(
                scorer_bc.value.order,
                scorer_bc.value.sentence_maker.min_length,
                scorer_bc.value.language_code,
                "ext",
            )
        ),
        join_score=join_scorer,
    )


@dataclass
class RoundResult:
    fetch_log: DataFrame  # round, host, host_rank, canon, url
    results: DataFrame  # url, canon, host, perp, text, plain_abbrv
    # {"round": n} until resolve_metrics() merges in the observed aggregates
    metrics: dict
    cached: tuple = ()  # cached intermediates; unpersist after state commit
    # the cached frames the driver fills with one dedicated count() each, in
    # dependency order, before any other job of the round: the Arrow-pass
    # cache(s) (`scored`; join mode `with_ng` first, then the perp-joined
    # `scored`), then `new_unique`. A fused job whose SIBLING stages scan an
    # unbuilt cache races its fill, and every task that reaches a partition
    # before its twin finishes recomputes the whole Python pass for it
    # (measured at local[8]: +25-30% duplicate scoring core-seconds per
    # round, concentrated on the straggler partitions, growing with core
    # count). Filling them also completes every metrics observation.
    fills: tuple = ()
    # DataFrame.observe handles whose aggregates make up the round's metrics;
    # they fill during the cache-filling jobs, never in a job of their own
    observations: tuple = ()
    # prereq mode: observes the synthesized robots URLs this round added to
    # the seen set (filled with the admitted cache)
    prereq_obs: Observation | None = None
    # this round's (url_hash, canon) additions to the seen set — the SEGMENT
    # whose union with the prior seen set IS the new state's seen. Memory
    # mode checkpoints only this (the prior set is already a union of
    # materialized leaves): re-checkpointing the full union every round
    # copies the ENTIRE seen set per round — O(rounds * |seen|) write volume
    # over a crawl, and the copy is pure non-scaling overhead in every
    # round's background commit. The store commits it as the round's
    # append-only seen_delta (checkpoint.py).
    seen_segment: DataFrame | None = None

    def resolve_metrics(self) -> dict:
        """Merge the observed aggregates into ``metrics``; call after the
        jobs that fill ``fills`` (Observation.get blocks until then)."""
        for obs in self.observations:
            self.metrics.update(obs.get)
        return self.metrics

    @property
    def n_prereqs(self) -> int:
        return self.prereq_obs.get["n"] if self.prereq_obs is not None else 0


def _observe(df: DataFrame, *aggs: Column) -> tuple[DataFrame, Observation]:
    """``df`` with ``aggs`` attached as a fresh Observation. Observe the
    TOP of a frame that is then cached: the first query that fills the cache
    (a downstream one included) reports the aggregates."""
    obs = Observation()
    return df.observe(obs, *aggs), obs


# task waves per core for the Arrow scoring stage. Hash partitioning on host
# balances page COUNTS but not html bytes, so the stage's tail task runs ~2x
# its median; more waves amortize that tail across the other slots at the
# cost of one extra Arrow/worker spin-up per task. 4 waves keeps the tail
# under ~10% of stage wall at 8-32 slots without measurably raising total
# task time.
SCORE_WAVES = 4
# target pages per scoring bin: small (quota-bounded) rounds are not sliced
# into slot-proportional slivers whose per-task fixed costs dominate, while
# at production volume the waves cap still bounds task size
SCORE_PAGES_PER_BIN = 1500


def score_bin_count(
    pages_hint: int | None, slots: int, per_bin: int, waves: int
) -> int:
    """Bins for the per-round scoring repartition: data-sized, whole waves.

    ``clamp(ceil(pages_hint / per_bin) rounded UP to a multiple of slots,
    slots, waves*slots)``. Data-sized so a quota-bounded round is not sliced
    into slot-proportional slivers whose per-task fixed costs (python worker
    spin-up, Arrow batch setup, memo warm-up) scale with cluster size; whole
    waves because a ragged final wave idles the other slots for a full task
    length — event logs at local[8]/300k pages showed the 10-bin and 17-bin
    scoring stages packing 68%/75% (wave of 8 + wave of 2 / of 1) vs 96% for
    the even 16-bin round, and the handful of extra tasks costs ~0.1-0.3
    core-s each against ~15-20 idle core-s saved. Small rounds collapse to
    one wave of ``slots``; with no hint the waves cap applies (already a
    slot multiple). At production volume the data term dominates and the
    at-scale plan is unchanged."""
    if pages_hint is None:
        return waves * slots
    target = -(-int(pages_hint) // max(per_bin, 1))
    target = -(-target // slots) * slots
    return max(slots, min(target, waves * slots))


def prepare_pages(pages: DataFrame) -> DataFrame:
    """One-time page-store preparation: key the content by *canonical* URL.

    The crawler fetches by canonical URL (candidates arrive in arbitrary
    spellings — www prefixes, session ids, case — that all resolve to the
    same resource). When several stored spellings share a canonical URL the
    lexicographically smallest original URL wins, deterministically.

    Run ONCE per crawl (cache or persist the result); at warehouse scale this
    is the job that writes the url_hash-bucketed pages table the per-round
    fetch join is co-partitioned against.

    The store also stamps ``_page_wrank``: the host's dense rank by
    total stored html bytes, descending. The per-round scoring repartition
    bins hosts by ``rank % n_bins`` (round-robin over the size order)
    instead of a blind host hash — blind hashing leaves the stage's tail
    task at ~2x the median when several quota-maxed heavy hosts collide in
    one partition, and the tail is pure wall-clock loss at high
    parallelism. One rank column computed once at prep time buys every
    round a byte-balanced Python stage. (The per-host weights relation is
    one row per host; for stores past ~10^7 hosts swap the single-reducer
    rank window for ``zip_with_order`` — same column contract, bounded
    cache.)
    """
    prepared = (
        pages.select(canonical_url(F.col("url")).alias("_page_canon"), "url", "html")
        .groupBy("_page_canon")
        .agg(F.min_by("html", "url").alias("html"))
    )
    weights = (
        prepared.select(
            host_classkey(F.col("_page_canon")).alias("_wh"),
            F.length("html").alias("_wb"),
        )
        .groupBy("_wh")
        .agg(F.sum("_wb").alias("_wb"))
    )
    w_rank = Window.orderBy(F.desc("_wb"), F.col("_wh"))
    ranked = weights.select(
        "_wh", (F.row_number().over(w_rank) - 1).cast("int").alias("_page_wrank")
    )
    prepared = prepared.join(
        ranked, host_classkey(F.col("_page_canon")) == F.col("_wh"), "left"
    ).drop("_wh")
    # hash-partition + sort by the join key NOW, so that (after the driver's
    # localCheckpoint pins partitioning and ordering into the leaf) every
    # round's sort-merge fetch join needs NO exchange and NO sort on the
    # store side — the Iceberg-bucketed-table equivalent for local mode
    return prepared.repartition(F.col("_page_canon")).sortWithinPartitions("_page_canon")


def _seed_rows(
    spark: SparkSession, urls: list[str], cfg: CrawlConfig, ord_r: int, ord_k: Column
) -> DataFrame:
    """Frontier rows for a URL list at seed priority, one per canonical URL.
    ``ord_k`` is a column over ``idx``, the URL's position in ``urls``."""
    raw = spark.createDataFrame([(u, i) for i, u in enumerate(urls)], "url string, idx long")
    canon = canonical_url(F.col("url"))
    seeded = raw.select("url", canon.alias("canon"), "idx").dropDuplicates(["canon"])
    directive, cost = apply_priority(
        F.lit(cfg.seed_perplexity),
        boundaries=cfg.boundaries,
        maxvalue=cfg.maxvalue,
        max_precedence=cfg.max_precedence,
    )
    return seeded.select(
        "url",
        "canon",
        url_hash64(F.col("canon")).alias("url_hash"),
        host_classkey(F.col("canon")).alias("host"),
        directive.alias("directive"),
        cost.alias("precedence"),
        F.lit(ord_r).alias("ord_r"),
        ord_k.alias("ord_k"),
        F.lit(0).alias("hops"),
        F.lit(None).cast("string").alias("via"),
        F.lit(0).alias("retries"),
        F.lit(0).alias("not_before"),
    )


def init_state(
    spark: SparkSession, seeds: list[str], cfg: CrawlConfig | None = None
) -> CrawlState:
    frontier = _seed_rows(spark, seeds, cfg or CrawlConfig(), 0, F.col("idx") + 1)
    seen = frontier.select("url_hash", "canon")
    host_fetched = spark.createDataFrame([], HOST_SCHEMA)
    return CrawlState(0, frontier, seen, host_fetched)


def inject_urls(
    spark: SparkSession,
    state: CrawlState,
    urls: list[str],
    cfg: CrawlConfig | None = None,
    force_fetch: bool = False,
    store=None,
) -> CrawlState:
    """Schedule additional URLs into a live crawl state — the batch
    analogue of Heritrix's importUris / the CrawlURI ``forceFetch`` flag
    (jar!heritrix-engine/.../frontier/WorkQueueFrontier.java:375).

    With ``force_fetch=False`` already-seen URLs are dropped (normal
    uniqueness); with ``force_fetch=True`` the URL-seen filter is bypassed
    and the URL re-enters the frontier even though it was crawled before.
    URLs already sitting in the frontier are never duplicated. Injected
    entries are scheduled at seed priority with arrival ordinal
    (state.round_no, large-negative k) so they sort ahead of that round's
    discoveries without colliding with prerequisite ordinals.

    Passing a ``CheckpointStore`` as ``store`` makes the injection durable:
    it commits as its own result-less round (manifest-last, atomic) whose
    seen_delta segment holds exactly the additions — resume then replays
    the post-injection state, including the Bloom filter. Without a store
    the additions live only in the returned in-memory state."""
    rows = _seed_rows(
        spark, urls, cfg or CrawlConfig(), state.round_no,
        (-(F.col("idx") + 1) - F.lit(1 << 32)).cast("long"),
    )
    if not force_fetch:
        rows = rows.join(
            state.seen.select(F.col("url_hash").alias("_h")),
            rows["url_hash"] == F.col("_h"),
            "left_anti",
        )
    rows = rows.join(
        state.frontier.select(F.col("canon").alias("_c")),
        rows["canon"] == F.col("_c"),
        "left_anti",
    )
    # the seen set stays duplicate-free: only genuinely-new fingerprints
    # append (a force-fetched URL is already present)
    seen_additions = rows.join(
        state.seen.select(F.col("url_hash").alias("_h")),
        rows["url_hash"] == F.col("_h"),
        "left_anti",
    ).select("url_hash", "canon")
    bloom = state.bloom
    if bloom is not None:
        from topicrawler_spark.crawl.bloom import bloom_add

        bloom = bloom_add(
            spark, bloom, seen_additions.select("url_hash"), state.bloom_params
        )
    new_state = CrawlState(
        state.round_no + (1 if store is not None else 0),
        state.frontier.unionByName(rows.select(*_FRONTIER_COLS)),
        state.seen.unionByName(seen_additions),
        state.host_fetched,
        bloom,
        state.robots,
        state.bloom_params,
    )
    if store is not None:
        store.commit_round(new_state, None, seen_delta=seen_additions)
        resumed = store.resume(spark)
        if resumed is not None:
            new_state = resumed
    return new_state


def _rank(
    df: DataFrame, order_cols: list[str], name: str, single: bool
) -> tuple[DataFrame, tuple]:
    """``df`` with ``name``, a dense 1-based long rank in the global order of
    ``order_cols``, and the intermediates to unpersist after the round.

    ``single``: one global window. A single reducer is trivial for a tiny
    round and keeps run_round free of actions, so the round runs as ONE
    Spark query at state-commit time. Otherwise the lazy two-phase
    distributed rank: a large single reducer plus its single-partition
    downstream (frontier write) is core-independent serial time that
    dominates the round's scaling residue."""
    if single:
        w = Window.orderBy(*order_cols)
        return df.withColumn(name, F.row_number().over(w).cast("long")), ()
    ranked, cached = zip_with_order(df, order_cols, name=name)
    return ranked, (cached,)


def run_round(
    spark: SparkSession,
    state: CrawlState,
    pages: DataFrame,
    scorer_bc,
    rules: DataFrame,
    cfg: CrawlConfig | None = None,
    frontier_size_hint: int | None = None,
    ops: RoundOps | None = None,
    fetched_hint: int | None = None,
) -> tuple[CrawlState, RoundResult]:
    cfg = cfg or CrawlConfig()
    if ops is None and cfg.score_mode == "join":
        raise ValueError(
            "score_mode='join' needs ops built with a JoinScorer — call "
            "run_crawl (or build_round_ops(..., join_scorer=...)) instead"
        )
    ops = ops or build_round_ops(cfg, scorer_bc)
    round_no = state.round_no + 1
    # Small-frontier regime (driver passes a size upper bound): skip the
    # salted pre-rank (host-skew defense costs more than it saves), and
    # below cfg.broadcast_max broadcast the admitted/seen sides of the
    # round's joins so the big page store is never shuffled. At
    # 10^10-frontier scale the hint exceeds the thresholds and every join
    # falls back to the shuffle/bucketed path.
    small_round = (
        frontier_size_hint is not None and frontier_size_hint < cfg.salt_min_frontier
    )
    n_salt = 1 if small_round else cfg.n_salt
    bcast = small_round and frontier_size_hint < cfg.broadcast_max
    # tiny rounds rank in one global window (see _rank)
    single_rank = (
        frontier_size_hint is not None and frontier_size_hint < cfg.ordinal_single_max
    )

    # ---- 0. prerequisite scheduling (PreconditionEnforcer mapping) --------
    # In prereq mode robots rules are crawl STATE (state.robots), not a
    # crawl-static table: content URLs of a host with unknown rules are held
    # in the frontier while the host's /robots.txt is synthesized as a
    # HIGHEST-priority prerequisite entry; once rules are known, gating
    # happens here at admission time and robots-disallowed entries leave the
    # crawl (they are already marked seen).
    is_robots_url = F.col("canon").endswith("/robots.txt")
    prereq_mode = cfg.schedule_robots_prereqs
    if prereq_mode:
        rules_df = state.robots
        known_hosts = (
            rules_df.select("host")
            if rules_df is not None
            else spark.createDataFrame([], "host string")
        )
        hosts_needing = (
            state.frontier.join(known_hosts, "host", "left_anti")
            .filter(~is_robots_url)
            .select("host")
            .distinct()
            .join(
                state.frontier.filter(is_robots_url).select("host").distinct(),
                "host",
                "left_anti",
            )
        )
        # reverse the canonical host classKey (hostname or hostname#port;
        # #443 implies https) back into the robots URL — already canonical
        # by construction, so canon == url and the fingerprint is exact
        hostname = F.regexp_replace(F.col("host"), "#[0-9]+$", "")
        port = F.regexp_extract(F.col("host"), "#([0-9]+)$", 1)
        robots_url = F.concat(
            F.when(port == "443", F.lit("https://")).otherwise(F.lit("http://")),
            F.when((port == "") | (port == "443"), hostname).otherwise(
                F.concat_ws(":", hostname, port)
            ),
            F.lit("/robots.txt"),
        )
        prereq_urls = hosts_needing.select("host", robots_url.alias("url"))
        # negative ordinals: unique, and sort before this round's content.
        # Bounded by NEW hosts this round — but a mass seed injection makes
        # that the whole host universe at once, so past tiny rounds the rank
        # must not be a single-reducer window.
        prereq_urls, prereq_zip_cached = _rank(
            prereq_urls, ["host"], "_hrank", single_rank
        )
        prereqs = prereq_urls.select(
            "url",
            F.col("url").alias("canon"),
            url_hash64(F.col("url")).alias("url_hash"),
            "host",
            F.lit(0).alias("directive"),  # HIGHEST: prerequisites jump the queue
            F.lit(1).alias("precedence"),
            F.lit(round_no).alias("ord_r"),
            (-F.col("_hrank")).cast("long").alias("ord_k"),
            F.lit(0).alias("hops"),
            F.lit(None).cast("string").alias("via"),
            F.lit(0).alias("retries"),
            F.lit(0).alias("not_before"),
        )
        prereqs, prereq_obs = _observe(prereqs, F.count(F.lit(1)).alias("n"))
        prereqs.cache()
        with_prereqs = state.frontier.unionByName(prereqs)
        known_rows = with_prereqs.join(known_hosts, "host", "left_semi")
        # admission-time robots gate; disallowed rows drop out of the crawl
        allowed_known = gate_by_robots(known_rows, rules_df, shuffle_hash=small_round)
        unknown_rows = with_prereqs.join(known_hosts, "host", "left_anti")
        frontier_eff = allowed_known.unionByName(unknown_rows)
        admissible = allowed_known.unionByName(unknown_rows.filter(is_robots_url))
    else:
        rules_df = rules
        prereqs = prereq_obs = None
        prereq_zip_cached = ()
        frontier_eff = state.frontier
        admissible = state.frontier

    # ---- 1. politeness admission (salted per-host top-k + queue budget) ----
    default_quota = cfg.host_quota(cfg.min_delay_ms)
    # per-round budget k = min(quota, total budget - fetched): per-host
    # quotas derive from the host_rules dimension (delay -> quota, as a
    # column expression) and the running fetch totals, two joins on host.
    # Small rounds run with AQE off, where each broadcast is a job of its
    # own: shuffled hash joins there cost a stage each instead, and the
    # frontier's host exchange is the one the per-host window needs anyway.
    # At scale the planner (AQE) picks.
    if cfg.per_host_quota is not None:
        quota_expr = F.lit(cfg.per_host_quota)
    else:
        quota_expr = F.greatest(
            F.lit(1),
            F.floor(
                F.lit(cfg.round_ms) / F.greatest(F.col("delay_ms"), F.lit(1))
            ).cast("int"),
        )
    rules_src = (
        rules_df
        if rules_df is not None
        else spark.createDataFrame([], "host string, delay_ms int")
    )
    quota_df = rules_src.select("host", quota_expr.alias("quota"))
    q_side = quota_df.hint("shuffle_hash") if small_round else quota_df
    hf_side = state.host_fetched.hint("shuffle_hash") if small_round else state.host_fetched
    fr = (
        admissible.join(q_side, "host", "left")
        .join(hf_side, "host", "left")
        .withColumn("quota", F.coalesce("quota", F.lit(default_quota)))
        .withColumn("fetched", F.coalesce("fetched", F.lit(0)))
        .withColumn(
            "k",
            F.greatest(
                F.lit(0),
                F.least(
                    F.col("quota").cast("long"),
                    F.lit(cfg.queue_total_budget) - F.col("fetched"),
                ),
            ),
        )
    )
    # precedence floor + retry snooze: a snoozed entry (not_before in the
    # future) is simply not admission-eligible this round — it stays in the
    # frontier via `remaining` without consuming its host's quota.
    fr = fr.filter(
        (F.col("precedence") < cfg.precedence_floor)
        & (F.col("not_before") <= F.lit(round_no))
    )
    if cfg.max_active_hosts is not None:
        # host selection order: activate the best queues first (min uri
        # precedence, ties by host name) — HighestUriQueuePrecedencePolicy
        active = (
            fr.groupBy("host")
            .agg(F.min("precedence").alias("_hp"))
            .orderBy("_hp", "host")
            .limit(cfg.max_active_hosts)
            .select("host")
        )
        fr = fr.join(F.broadcast(active), "host", "left_semi")
    admitted, adm_obs = _observe(
        per_host_top_k(fr, "k", ORDER_COLS, n_salt=n_salt).drop("quota", "fetched", "k"),
        F.count(F.lit(1)).alias("admitted"),
    )
    admitted.cache()
    # per round the admitted set is bounded by sum(host quotas) — a broadcast
    # dimension relative to the frontier it is subtracted from. Both consumers
    # (this anti-join and the fetch join) broadcast the IDENTICAL plan keyed
    # on the SAME column (canon), so the physical planner's exchange reuse
    # builds the hashed relation once instead of racing two builds against an
    # unpopulated cache. Past broadcast_max the driver-side collect+build
    # becomes the round's serial bottleneck and the joins flip to
    # sort-merge: the canon-partitioned page store side needs no exchange
    # and no sort, only the admitted side shuffles.
    adm_b = F.broadcast(admitted) if bcast else admitted
    remaining = frontier_eff.alias("_fr").join(
        adm_b.alias("_adm"),
        F.col("_fr.canon") == F.col("_adm.canon"),
        "left_anti",
    )

    fetch_log = admitted.select(
        F.lit(round_no).alias("round"), "host", F.col("host_rank"), "canon", "url"
    )

    # ---- 2. fetch: join the prepared page store on the canonical URL ------
    # Inner join: an admitted URL with no stored page is a failed fetch; it
    # already left the frontier via `remaining` and is in `fetch_log`, so
    # dropping it here is exactly the reference's fetch-failure disposition.
    # Streaming the (heavy, html-bearing) page store against a broadcast of
    # the admitted set means the store is never shuffled; at warehouse scale
    # (admitted too big to broadcast) this becomes the url_hash-bucketed
    # co-partitioned join instead.
    fetched = pages.join(
        adm_b, pages["_page_canon"] == admitted["canon"], "inner"
    ).drop("_page_canon")
    # Memo locality: route all of a host's pages to the same task (and thus
    # the same Python worker) before scoring — site chrome repeats per host,
    # so the sentence/line memos only pay off if one worker sees the whole
    # host. Skew-safe: the politeness quota already caps any host's rows per
    # round, and byte-balanced bins (below) plus up to SCORE_WAVES waves of
    # tasks per core let stragglers (cold-memo or text-heavy hosts) amortize
    # instead of pinning the stage on one task. On a cluster this is
    # executor affinity for per-host state.
    #
    # Bin COUNT is sized by the expected page volume, not by slots:
    # bins = clamp(pages_hint / SCORE_PAGES_PER_BIN, slots, waves*slots).
    # A quota-bounded round sliced into waves*slots bins regardless of
    # volume makes per-task fixed costs (python worker spin-up, Arrow batch
    # setup, per-worker memo warm-up) scale with the SLOT count — measured
    # 2c-vs-8c at fixed input, the Arrow-pass stages burned ~1.7x the
    # task-seconds at 4x the slots and capped crawl speedup at ~2x. At
    # production volume the data term dominates and the waves cap sets task
    # granularity, so the at-scale plan is unchanged.
    slots = max(spark.sparkContext.defaultParallelism, 1)
    pages_hint = fetched_hint if fetched_hint is not None else frontier_size_hint
    n_bins = score_bin_count(pages_hint, slots, SCORE_PAGES_PER_BIN, SCORE_WAVES)
    if "_page_wrank" in fetched.columns:
        # Byte-balanced bins: round-robin the store's host-size rank
        # (prepare_pages' _page_wrank) across the bins, so each bin draws
        # one host from every size stratum instead of a random hash draw —
        # a blind host hash leaves the stage tail at ~2x median when
        # quota-maxed hosts collide. repartition() runs its key through
        # murmur3 before the mod, which would scatter the residues with
        # collisions, so the residue is swapped for a probe int whose murmur
        # bucket IS the target bin (exact placement, one n_bins-element
        # array literal in the plan). Hosts stay whole either way — memo
        # locality is unchanged.
        probes = partition_probe_ints(n_bins)
        probe_arr = F.array(*[F.lit(p) for p in probes])
        bin_col = F.coalesce(
            F.col("_page_wrank"),
            F.pmod(F.xxhash64(F.col("host")), F.lit(n_bins)).cast("int"),
        )
        fetched = fetched.repartition(
            n_bins,
            F.element_at(probe_arr, (F.pmod(bin_col, F.lit(n_bins)) + 1).cast("int")),
        ).drop("_page_wrank")
    else:
        fetched = fetched.repartition(n_bins, "host")
    is_robots = F.col("canon").endswith("/robots.txt")
    got_page = F.col("html").isNotNull()
    page_ok = F.col("fetch_ok") & ~is_robots  # a fetched content page

    # ---- 3. score + expand in ONE Arrow pass over html, then drop it -------
    # extract + outlinks + perplexity are fused into a single pandas UDF:
    # html crosses to Python once and (text, outlinks, perp) come back once
    # — chaining separate UDFs would ship the extracted text JVM->Python a
    # second time and add an ArrowEvalPython stage to the hot path.
    score_cols = {
        "_pp": F.when(
            got_page & ~is_robots, ops.page_udf(F.col("html"), F.col("url"))
        ),
        "fetch_ok": got_page,
    }
    if prereq_mode:
        # carry fetched robots bodies past the html drop for the rules update
        score_cols["robots_html"] = F.when(is_robots & got_page, F.col("html"))
    base_scored = fetched.withColumns(score_cols).drop("html")
    if ops.join_score is None:
        scored = base_scored.withColumns(
            {
                "text": F.col("_pp.text"),
                "outlinks": F.coalesce(
                    F.col("_pp.outlinks"),
                    F.array().cast("array<struct<url:string,hop:string>>"),
                ),
                "perp": F.col("_pp.perp"),
            }
        ).drop("_pp")
        score_fills: tuple = ()
    else:
        # relational scoring: the page UDF emitted gated ngrams; score each
        # DISTINCT ngram once against the per-crawl stats dimension, re-join
        # multiplicity, aggregate per page, and join the (page-count-bounded)
        # perp table back onto the cached extraction output. The count table
        # never broadcasts to Python and the html never crosses twice.
        # CACHE SHAPE (scaling-critical, measured at local[2] vs local[8]):
        # the join output `scored` is rescanned by every downstream consumer
        # (results, fetch-failure anti-join, candidate chain) — leaving it
        # uncached re-ran the perp shuffle chain per consumer, and the racing
        # sibling stages duplicated it in proportion to the task-slot count
        # (~2x task-seconds at 8 cores vs 2). So: cache `with_ng` (one Arrow
        # pass over html), cache `scored` (what everything rescans), and do
        # NOT cache `per` — it materializes exactly once inside `scored`'s
        # dedicated fill, after `with_ng` is already built (the driver fills
        # the two caches in dependency order; see RoundResult.fills).
        from topicrawler_spark.lm.perplexity import score_pages_join

        with_ng = base_scored.withColumns(
            {
                "text": F.col("_pp.text"),
                "outlinks": F.coalesce(
                    F.col("_pp.outlinks"),
                    F.array().cast("array<struct<url:string,hop:string>>"),
                ),
                "ngrams": F.coalesce(
                    F.col("_pp.ngrams"), F.array().cast("array<string>")
                ),
            }
        ).drop("_pp")
        with_ng.cache()
        score_fills = (with_ng,)
        per = score_pages_join(
            with_ng.filter(page_ok).select("canon", "ngrams"),
            ops.join_score,
        )
        per_side = F.broadcast(per) if small_round else per
        scored = (
            with_ng.join(per_side, "canon", "left")
            # campaign-prebuilt perp tree: rebuilding the identical Column
            # tree per round is serial driver time
            .withColumn("perp", F.when(page_ok, ops.join_score.perp_col))
            .drop("ngrams", "_perp_s", "_perp_n")
        )
    # the reference's perplexity report (min/max/avg over scored pages),
    # observed while the scoring pass fills the cache
    perp_pos = F.when(page_ok & (F.col("perp") > 0), F.col("perp"))
    scored, score_obs = _observe(
        scored,
        F.count_if(F.col("fetch_ok")).alias("fetched"),
        F.count_if(page_ok).alias("scored"),
        F.min(perp_pos).alias("perp_min"),
        F.max(F.when(page_ok, F.col("perp"))).alias("perp_max"),
        F.avg(perp_pos).alias("perp_avg"),
        F.count_if(page_ok & (F.col("perp") <= 1)).alias("n_rejected_pages"),
    )
    scored.cache()
    score_fills += (scored,)

    results = scored.filter(page_ok).select(
        F.lit(round_no).alias("round"), "url", "canon", "host", "perp", "text", "hops"
    )

    # ---- 3b. fetch-failure retry (WorkQueueFrontier retry path) -----------
    # An admitted URL with no stored page is a failed fetch. Under
    # max_retries it re-enters the frontier with its ordinal intact, snoozed
    # retry_delay_rounds politeness windows; past the cap it is dropped
    # (terminal). The anti-join probes the cached admitted/scored sets —
    # both bounded by the per-round admission quota.
    failed = admitted.join(scored.select("canon"), "canon", "left_anti")
    retry = failed.filter(F.col("retries") < F.lit(cfg.max_retries)).select(
        "url", "canon", "url_hash", "host", "directive", "precedence",
        "ord_r", "ord_k", "hops", "via",
        (F.col("retries") + F.lit(1)).alias("retries"),
        F.lit(round_no + cfg.retry_delay_rounds()).alias("not_before"),
    )

    # ---- 3c. robots rules update (prereq mode) ----------------------------
    if prereq_mode:
        from topicrawler_spark.crawl.robots import dedupe_host_rules, parse_robots_rows

        fetched_rules = parse_robots_rows(
            scored.filter(is_robots & F.col("fetch_ok")).select(
                F.col("canon").alias("url"), F.col("robots_html").alias("html")
            ),
            cfg,
        )
        # a failed robots fetch records allow-all defaults so the host's
        # content proceeds next round (batch simplification of the robots-
        # retry snooze); '~' sorts after URL characters so parsed rules win
        failed_defaults = (
            admitted.filter(is_robots_url)
            .join(scored.select("canon"), "canon", "left_anti")
            .select(
                F.lit("~").alias("src"),
                "host",
                F.lit(cfg.min_delay_ms).alias("delay_ms"),
                F.array().cast("array<string>").alias("allows"),
                F.array().cast("array<string>").alias("disallows"),
            )
        )
        additions = dedupe_host_rules(fetched_rules.unionByName(failed_defaults))
        if rules_df is not None:
            additions = additions.join(rules_df.select("host"), "host", "left_anti")
            robots_next = rules_df.unionByName(additions)
        else:
            robots_next = additions
    else:
        robots_next = state.robots

    # ---- 4. candidate chain --------------------------------------------------
    cands = (
        scored.filter(page_ok)
        .select(
            F.col("ord_r").alias("p_ord_r"),
            F.col("ord_k").alias("p_ord_k"),
            F.col("canon").alias("via"),
            F.col("perp").alias("via_perp"),
            (F.col("hops") + 1).alias("hops"),
            F.posexplode("outlinks").alias("link_idx", "link"),
        )
        .select("p_ord_r", "p_ord_k", "via", "via_perp", "hops", "link_idx", F.col("link.url").alias("url"))
    )

    # scope rules fused into two transformations: one select introducing the
    # canonicalized URL, one combined predicate + host/hash projection — every
    # extra withColumn/filter re-runs the analyzer over the whole plan, which
    # is serial driver time on the widest dataflow of the crawl.
    #
    # _cgb is a codegen circuit-breaker: the canonicalization chain is ~45KB
    # of expression tree, and fused into the Generate's whole-stage-codegen
    # consume it emits a >64KB Java method that Janino CANNOT compile — Spark
    # then burns ~0.5s of serial driver time per round compiling a doomed
    # ~1.5MB source before falling back to interpreted execution for the
    # WHOLE stage. reflect() is a CodegenFallback expression, so the project
    # carrying it is excluded from whole-stage codegen: the chain runs via
    # InterpretedUnsafeProjection (measured at parity with the fallback's
    # interpreted execution) while the downstream host/hash/predicate stage
    # now genuinely compiles, and no doomed compile happens at all. The
    # marker must be consumed by the filter or column pruning would strip it
    # (String.valueOf never returns null, so the predicate is vacuous).
    cgb = F.expr("reflect('java.lang.String','valueOf', hops)")
    cands = (
        cands.select("*", ops.canon_of_url.alias("canon"), cgb.alias("_cgb"))
        .filter(ops.cand_keep & F.col("_cgb").isNotNull())
        .select(
            "*",
            ops.host_of_canon.alias("host"),
            ops.hash_of_canon.alias("url_hash"),
        )
        .filter(F.col("host") != "")
        .drop("_cgb")
    )
    if cfg.scope_hosts is not None:
        scope = spark.createDataFrame([(h,) for h in sorted(cfg.scope_hosts)], "host string")
        cands = cands.join(F.broadcast(scope), "host", "left_semi")
    if cfg.max_domains is not None:
        from topicrawler_spark.functions.canonicalize import second_level_domain

        # cap by FIRST-DISCOVERY order (min parent ordinal, then link index),
        # the batch analogue of the reference's racy arrival-order domain
        # counter — not alphabetically, which would reward lexicographically
        # early domains every round
        allowed = (
            cands.select(
                second_level_domain(F.col("host")).alias("_sld"),
                F.struct("p_ord_r", "p_ord_k", "link_idx").alias("_disc"),
            )
            .groupBy("_sld")
            .agg(F.min("_disc").alias("_first"))
            .orderBy("_first", "_sld")
            .limit(cfg.max_domains)
            .select("_sld")
        )
        cands = cands.withColumn("_sld", second_level_domain(F.col("host"))).join(
            F.broadcast(allowed), "_sld", "left_semi"
        ).drop("_sld")

    cands = cands.select(
        "*", ops.directive.alias("directive"), ops.precedence.alias("precedence")
    ).filter(F.col("directive") >= 0)

    # in-round dedup: first discovery (parent order, link index) wins.
    # Keyed on the 64-bit fingerprint so the window shuffle and the following
    # seen anti-join share one exchange (same hash partitioning, no reshuffle).
    w = Window.partitionBy("url_hash").orderBy("p_ord_r", "p_ord_k", "link_idx")
    cands = cands.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")

    # seen-set dedup: left-anti join on the fingerprint. Tiny crawls keep
    # the whole seen set broadcastable; past broadcast_max the driver
    # collect+rebroadcast is serial time every round, so the join flips to a
    # parallel shuffle anti-join (cands are already hash-partitioned on
    # url_hash by the dedup window — only the seen side exchanges). At 10^10
    # URLs this is the bucketed anti-join against the url_hash-partitioned
    # seen table.
    seen_side = (
        F.broadcast(state.seen) if bcast else state.seen
    ).select(F.col("url_hash").alias("_seen_h"))
    bloom_obs: tuple = ()
    if state.bloom is not None:
        # Bloom pre-filter: definitely-new candidates skip the exact
        # anti-join against the (10^10-row) seen table entirely; only the
        # maybe-seen remainder (|dups| + fpr·|new|) probes it. With
        # exact_confirm the result is exactly the plain anti-join's.
        from topicrawler_spark.crawl.bloom import bloom_probe

        probed = bloom_probe(cands, state.bloom, state.bloom_params)
        # pre-filter effectiveness: `fresh` candidates skip the exact seen
        # anti-join entirely; only `suspect` probes it
        fresh, fresh_obs = _observe(
            probed.filter(~F.col("_maybe_seen")).drop("_maybe_seen"),
            F.count(F.lit(1)).alias("bloom_fresh"),
        )
        bloom_obs = (fresh_obs,)
        if cfg.bloom_exact_confirm:
            suspect, suspect_obs = _observe(
                probed.filter(F.col("_maybe_seen")).drop("_maybe_seen"),
                F.count(F.lit(1)).alias("bloom_suspect"),
            )
            bloom_obs += (suspect_obs,)
            confirmed = suspect.join(
                seen_side, suspect["url_hash"] == F.col("_seen_h"), "left_anti"
            )
            new_unique = fresh.unionByName(confirmed)
        else:
            # reference-faithful BloomUriUniqFilter mode: maybe-seen drops
            # outright (false positives lose URLs, as the reference accepts)
            new_unique = fresh
    else:
        new_unique = cands.join(
            seen_side,
            cands["url_hash"] == F.col("_seen_h"),
            "left_anti",
        )
    # the discovery counter: unique in-scope candidates after the seen
    # anti-join, before the robots gate (robots-blocked URLs did the full
    # expansion work and are marked seen, they just never enqueue)
    new_unique, new_obs = _observe(
        new_unique,
        F.count(F.lit(1)).alias("urls_new"),
        *[
            F.count_if(F.col("directive") == d).alias(f"n_directive_{d}")
            for d in (HIGHEST, HIGH, MEDIUM, NORMAL)
        ],
    )
    new_unique.cache()

    # scheduled => seen (robots-blocked URLs are seen but never enqueued).
    # new_unique is already in-round-deduped AND anti-joined against seen, so
    # this union is duplicate-free by construction: a pure append, no shuffle
    # (at scale: an Iceberg append to the url_hash-bucketed seen table).
    seen_new = state.seen.unionByName(new_unique.select("url_hash", "canon"))
    if prereq_mode:
        # synthesized prerequisites are scheduled -> seen (duplicate-free:
        # a host whose robots URL was ever scheduled before is known by now)
        seen_new = seen_new.unionByName(prereqs.select("url_hash", "canon"))
        # gating is deferred to admission time (rules may not be known yet)
        enq = new_unique
    elif not cfg.respect_robots:
        enq = new_unique
    else:
        enq = gate_by_robots(new_unique, rules_df, shuffle_hash=small_round)

    # deterministic ordinal: dense rank over (parent ordinal, link index)
    enq, zip_cached = _rank(enq, ["p_ord_r", "p_ord_k", "link_idx"], "ord_k", single_rank)
    frontier_next = remaining.select(*_FRONTIER_COLS).unionByName(
        enq.select(
            "url",
            "canon",
            "url_hash",
            "host",
            "directive",
            "precedence",
            F.lit(round_no).alias("ord_r"),
            "ord_k",
            "hops",
            "via",
            F.lit(0).alias("retries"),
            F.lit(0).alias("not_before"),
        )
    ).unionByName(retry)

    # ---- 5. budgets -----------------------------------------------------------
    fetch_counts = (
        scored.filter(F.col("fetch_ok"))
        .groupBy("host")
        .agg(F.count(F.lit(1)).cast("long").alias("fetched"))
    )
    host_fetched = (
        state.host_fetched.unionByName(fetch_counts)
        .groupBy("host")
        .agg(F.sum("fetched").alias("fetched"))
    )

    if state.bloom is not None:
        from topicrawler_spark.crawl.bloom import bloom_add

        bloom_next = bloom_add(
            spark, state.bloom, new_unique.select("url_hash"), state.bloom_params
        )
    else:
        bloom_next = None
    new_state = CrawlState(
        round_no, frontier_next, seen_new, host_fetched, bloom_next, robots_next,
        state.bloom_params,
    )
    prereq_cached = ((prereqs,) if prereq_mode else ()) + prereq_zip_cached
    seen_segment = new_unique.select("url_hash", "canon")
    if prereq_mode:
        seen_segment = seen_segment.unionByName(prereqs.select("url_hash", "canon"))
    fills = score_fills + (new_unique,)
    return new_state, RoundResult(
        fetch_log, results, {"round": round_no},
        cached=(admitted,) + zip_cached + prereq_cached + fills,
        fills=fills,
        observations=(adm_obs, score_obs, new_obs) + bloom_obs,
        prereq_obs=prereq_obs,
        seen_segment=seen_segment,
    )
