"""Crawl configuration (the reference crawl profile's knobs)."""

from __future__ import annotations

from dataclasses import dataclass, field

# the reference profile's media/archive suffix reject rules (cxml reject-extension
# regexes), expressed as one case-insensitive suffix class
DEFAULT_REJECT_EXTENSIONS = (
    r"(?i).*\.(?:js|css|swf|ico|bmp|gif|jpe?g|png|tiff?|svg|webp|"
    r"mp[234]|m4[av]|wav|avi|mov|mpe?g|wmv|flv|mkv|ogg|webm|"
    r"zip|rar|gz|bz2|7z|tar|tgz|exe|msi|dmg|iso|rpm|deb|jar|"
    r"pdf|ps|doc[xm]?|xls[xm]?|ppt[xm]?|odt|ods|odp|rtf|"
    r"ttf|woff2?|eot|class|dll|so|bin)$"
)


@dataclass
class CrawlConfig:
    order: int = 5
    lm_kind: str = "kneser-ney"
    # "broadcast": score pages against a broadcast in-memory LM (default).
    # "join": score relationally against a count-table DataFrame — the
    # corpus-scale path once the topic LM outgrows a driver broadcast
    # (run_crawl then requires lm_counts; KN only).
    score_mode: str = "broadcast"
    boundaries: tuple[float, float, float] = (5e2, 5e3, float("inf"))
    maxvalue: float = 5e4
    max_precedence: int = 127
    max_hops: int = 20
    queue_total_budget: int = 4096  # successful fetches per host before retirement
    min_delay_ms: int = 100
    max_robots_delay_s: float = 180.0
    round_ms: int = 10_000  # batch-round politeness window ("toe time")
    per_host_quota: int | None = None  # fixed per-round quota; None = delay-derived
    user_agent: str = "ltbot"
    reject_extensions: str = DEFAULT_REJECT_EXTENSIONS
    respect_robots: bool = True
    scope_hosts: frozenset[str] | None = None  # optional host allowlist
    min_sentence_words: int = 2
    language_code: str = "default"
    seed_perplexity: float = 2.0
    n_salt: int = 16  # politeness-ranking salt buckets (host-skew defense)
    # below this frontier size the salted pre-rank stage costs more than the
    # skew it defends against; the driver passes a size hint per round
    salt_min_frontier: int = 2_000_000
    # above this seen-set size the per-round driver collect+rebroadcast of
    # the seen set costs more (serially!) than a parallel shuffle anti-join
    seen_broadcast_max: int = 50_000
    # memory-mode seen checkpoints are per-round SEGMENTS (only the new rows
    # materialize; the carried set is a union of leaves — the in-memory twin
    # of the store's append-only segments). Every N rounds the union is
    # compacted to one leaf so plan width and leaf-count stay bounded over a
    # long crawl. N trades one full-set copy every N rounds against a
    # N-leaf-wide union plan in every scan between compactions.
    seen_compact_every: int = 32
    # below this round size the ordinal rank runs as one global window
    # (a single reducer over small rows — trivial up to a few hundred
    # thousand); above it the lazy two-phase distributed rank takes over
    # (range partition + local rank + windowed prefix-sum offsets, still
    # action-free). Both keep the round one Spark query.
    ordinal_single_max: int = 200_000
    # below this frontier size the fetch join broadcasts the admitted set
    # (driver collect+build is cheap); above it the join runs as a
    # co-partitioned sort-merge against the canon-partitioned page store —
    # only the admitted side shuffles, the store is never re-sorted
    fetch_broadcast_max: int = 50_000
    # task waves per core for the Arrow scoring stage (canon-layout store
    # only — the host layout keeps the store's own partitioning). Hash
    # partitioning on host balances page COUNTS but not html bytes, so the
    # stage's tail task runs ~2x its median; more waves amortize that tail
    # across the other slots at the cost of one extra Arrow/worker spin-up
    # per task. 4 waves keeps the tail under ~10% of stage wall at 8-32
    # slots without measurably raising total task time.
    score_waves: int = 4
    # target pages per scoring bin. The Arrow scoring stage's bin count is
    # data-sized — clamp(expected_pages / score_pages_per_bin, slots,
    # score_waves * slots) — so small (quota-bounded) rounds are not sliced
    # into slot-proportional slivers whose per-task fixed costs dominate,
    # while at production volume the waves cap still bounds task size.
    score_pages_per_bin: int = 1500
    # Prerequisite scheduling (PreconditionEnforcer, jar!heritrix-engine/
    # .../prefetch/PreconditionEnforcer.java:170-254): when True, robots
    # rules start UNKNOWN and are discovered during the crawl — content
    # URLs of an unknown host are held in the frontier while the host's
    # /robots.txt is synthesized as a HIGHEST-priority prerequisite entry,
    # fetched, and parsed into the (checkpointed) rules state; robots
    # gating then happens at admission time against the rules known so
    # far, and a failed robots fetch records allow-all defaults (batch
    # simplification of the reference's robots-retry snooze). When False
    # (default) robots parse once up-front from the pages table — the
    # batch-complete equivalent, since every robots row is already stored.
    schedule_robots_prereqs: bool = False
    # Fetch retry/snooze (WorkQueueFrontier retry path, cxml:66-69:
    # retryDelay 90 s, maxRetries 3): a failed fetch re-enters the frontier
    # with its ordinal intact, snoozed until the round whose politeness
    # window covers the retry delay; past max_retries it is dropped
    # (terminal disposition, matching the reference).
    max_retries: int = 3
    retry_delay_s: float = 90.0
    # Partitioned Bloom URL-seen pre-filter (BloomUriUniqFilter analogue,
    # sharded by pmod(url_hash, n_shards) so build/merge/probe are
    # per-shard cogroup tasks — no single-node filter at any point).
    # Activates once the seen set passes bloom_min_seen; None = never.
    # With exact_confirm=True (default) results are EXACTLY the plain
    # anti-join's (the filter only shrinks the exact join's probe side);
    # False = reference-faithful Bloom-only dedup (false positives drop
    # URLs, as BloomUriUniqFilter accepts).
    bloom_min_seen: int | None = 1_000_000
    bloom_n_shards: int = 32
    bloom_shard_bytes: int = 1 << 20
    bloom_hashes: int = 7
    bloom_exact_confirm: bool = True
    # derive shard count/size from the seen-count hint at activation
    # (>=10 bits/key with 4x growth headroom) and rebuild from the seen set
    # when the key count passes the filter's ~50%-density capacity — a
    # statically-sized filter saturates at 10^9+ URLs and prunes nothing.
    # False pins the static n_shards/shard_bytes above (tests, parity runs).
    bloom_auto_size: bool = True
    # batch analogue of Heritrix's inactive-queue activation by best queue
    # precedence: only the N best hosts (by min precedence, then name) are
    # active per round; None = all hosts active
    max_active_hosts: int | None = None
    precedence_floor: int = 255  # queues at/above this precedence never activate
    # Incremental topic-LM refresh (join scoring only): every
    # lm_refresh_every COMPLETED rounds, the n-gram counts of that round's
    # focused pages (perp in (0, lm_refresh_max_perp]; None = every scored
    # page with non-empty text) are summed into the count table through the
    # same counting pipeline (extend_lm_counts), and the KN join scorer —
    # stats dimension, discounts, histogram constants, base perplexity — is
    # rebuilt from the refreshed table for subsequent rounds. None (default)
    # = static topic LM, the reference behavior. Requires score_mode='join':
    # the broadcast LocalLM is the documented driver-bounded path and is not
    # refreshed. With a checkpoint store the refreshed table is committed
    # with the round (atomic with the manifest) and resume prefers the
    # newest persisted table over the caller-provided one.
    lm_refresh_every: int | None = None
    lm_refresh_max_perp: float | None = None
    lm_refresh_mincount: int = 1
    hygiene_filters: bool = True  # pathological-path / too-many-segments rules
    surt_prefixes: tuple[str, ...] | None = None  # seeds-as-SURT-prefixes scope
    max_domains: int | None = None  # TooManyDomainsDecideRule (declarative)

    def retry_delay_rounds(self) -> int:
        """retryDelay expressed in batch rounds (each round spans one
        politeness window of ``round_ms``)."""
        import math

        return max(1, math.ceil(self.retry_delay_s * 1000.0 / max(self.round_ms, 1)))

    def bloom_params(self):
        from topicrawler_spark.crawl.bloom import BloomParams

        return BloomParams(self.bloom_n_shards, self.bloom_shard_bytes, self.bloom_hashes)

    def host_quota(self, delay_ms: int) -> int:
        if self.per_host_quota is not None:
            return self.per_host_quota
        return max(1, self.round_ms // max(delay_ms, 1))


DEFAULT_CONFIG = CrawlConfig()
