"""Round checkpointing with atomic commits and resume.

Production target is an Iceberg catalog (snapshot per round, time travel for
resume); this sandbox has no Iceberg runtime on the classpath, so the same
semantics are provided over parquet directories plus a JSON manifest that is
written *last* and atomically renamed — a round is visible iff its manifest
exists, making round commits all-or-nothing and resume deterministic. The
store keeps every round's state (no in-place mutation), so `resume()` after
a crash replays from the last committed round, and per-round lineage
(results/fetch_log/metrics) is queryable forever.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from topicrawler_spark.crawl.bloom import BLOOM_SCHEMA
from topicrawler_spark.crawl.robots import HOST_RULES_SCHEMA
from topicrawler_spark.crawl.round import (
    FRONTIER_SCHEMA,
    HOST_SCHEMA,
    SEEN_SCHEMA,
    CrawlState,
    RoundResult,
)

STATE_TABLES = ("frontier", "seen_delta", "host_fetched")
LOG_TABLES = ("results", "fetch_log")


class CheckpointStore:
    def __init__(self, root: str) -> None:
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _dir(self, round_no: int, table: str) -> str:
        return os.path.join(self.root, f"r{round_no:05d}", table)

    def _manifest(self, round_no: int) -> str:
        return os.path.join(self.root, f"r{round_no:05d}", "MANIFEST.json")

    def commit_round(
        self,
        state: CrawlState,
        result: RoundResult | None,
        seen_delta: DataFrame | None = None,
        lm_counts: DataFrame | None = None,
    ) -> None:
        """``seen_delta`` overrides the segment written for a result-less
        commit (injection rounds append only their additions; the round-0
        default of the full seen set would duplicate earlier segments).
        ``lm_counts`` commits a refreshed topic-LM count table atomically
        with the round (incremental-LM mode writes it only on refresh
        rounds; ``latest_lm_counts`` walks back to the newest one)."""
        r = state.round_no
        for name, df in (
            ("frontier", state.frontier),
            ("host_fetched", state.host_fetched),
        ):
            df.write.mode("overwrite").parquet(self._dir(r, name))
        # the seen set is append-only: each round commits ONLY its
        # newly-discovered segment (the Iceberg-append equivalent — at 10^10
        # URLs rewriting the full set per round would be an ~80 GB write);
        # round 0's segment is the seed set, resume() unions the segments
        if result is not None:
            seen_delta = result.seen_segment
        elif seen_delta is None:
            seen_delta = state.seen
        seen_delta.write.mode("overwrite").parquet(self._dir(r, "seen_delta"))
        manifest = {"round": r, "tables": list(STATE_TABLES)}
        if state.bloom is not None:
            # the sharded Bloom filter is n_shards rows — a full overwrite
            # per round (OR-merged bits don't decompose into appends)
            state.bloom.write.mode("overwrite").parquet(self._dir(r, "bloom"))
            manifest["tables"].append("bloom")
            # the ACTIVE sizing must survive resume: probing a 6k-shard
            # filter with the 32-shard static params would hash into the
            # wrong shards and lose every bit
            p = state.bloom_params
            manifest["bloom_params"] = [p.n_shards, p.shard_bytes, p.n_hashes]
        if state.robots is not None:
            # prereq-mode discovered robots rules (append-only by host, but
            # small enough that a per-round rewrite is the simpler commit)
            state.robots.write.mode("overwrite").parquet(self._dir(r, "robots"))
            manifest["tables"].append("robots")
        if lm_counts is not None:
            lm_counts.write.mode("overwrite").parquet(self._dir(r, "lm_counts"))
            manifest["tables"].append("lm_counts")
        if result is not None:
            result.results.write.mode("overwrite").parquet(self._dir(r, "results"))
            result.fetch_log.write.mode("overwrite").parquet(self._dir(r, "fetch_log"))
            manifest["tables"] += list(LOG_TABLES)
            manifest["metrics"] = {
                k: (None if v is None else (float(v) if isinstance(v, float) else v))
                for k, v in result.metrics.items()
            }
        tmp = self._manifest(r) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self._manifest(r))  # the atomic commit point

    def last_committed_round(self) -> int | None:
        rounds = []
        for d in os.listdir(self.root):
            if d.startswith("r") and os.path.isfile(os.path.join(self.root, d, "MANIFEST.json")):
                rounds.append(int(d[1:]))
        return max(rounds) if rounds else None

    def resume(self, spark: SparkSession) -> CrawlState | None:
        r = self.last_committed_round()
        if r is None:
            return None
        # The seen set is the union of per-round append segments. A missing
        # segment must fail loudly — silently skipping it would resume with an
        # incomplete seen set and re-fetch already-crawled URLs.
        seen_dirs = [self._dir(i, "seen_delta") for i in range(r + 1)]
        for i, d in enumerate(seen_dirs):
            if not os.path.isdir(d):
                raise FileNotFoundError(
                    f"checkpoint {self.root}: round {i} committed (last round "
                    f"{r}) but has no seen_delta segment — the store is "
                    f"damaged; refusing to resume with an incomplete URL-seen set"
                )
        bloom = bloom_params = None
        if os.path.isdir(self._dir(r, "bloom")):
            with open(self._manifest(r)) as f:
                bp = json.load(f).get("bloom_params")
            if bp is None:
                raise ValueError(
                    f"checkpoint {self.root}: round {r} has a Bloom filter but "
                    f"its manifest has no bloom_params — the store is damaged"
                )
            from topicrawler_spark.crawl.bloom import BloomParams

            bloom = spark.read.schema(BLOOM_SCHEMA).parquet(self._dir(r, "bloom"))
            bloom_params = BloomParams(*bp)
        robots = (
            spark.read.schema(HOST_RULES_SCHEMA).parquet(self._dir(r, "robots"))
            if os.path.isdir(self._dir(r, "robots"))
            else None
        )
        return CrawlState(
            r,
            spark.read.schema(FRONTIER_SCHEMA).parquet(self._dir(r, "frontier")),
            spark.read.schema(SEEN_SCHEMA).parquet(*seen_dirs),
            spark.read.schema(HOST_SCHEMA).parquet(self._dir(r, "host_fetched")),
            bloom,
            robots,
            bloom_params,
        )

    def latest_lm_counts(self, spark: SparkSession) -> DataFrame | None:
        """Newest committed refreshed topic-LM count table, or None. Only
        refresh rounds write one, so walk back from the last committed round
        to the most recent segment (each write is the FULL merged table —
        counts don't decompose into per-round appends the way the seen set
        does, because a refresh re-sums overlapping ngram keys)."""
        r = self.last_committed_round()
        if r is None:
            return None
        for i in range(r, -1, -1):
            d = self._dir(i, "lm_counts")
            if os.path.isdir(d):
                return spark.read.parquet(d)
        return None

    def read(self, spark: SparkSession, round_no: int, table: str) -> DataFrame:
        return spark.read.parquet(self._dir(round_no, table))

    def metrics(self, round_no: int) -> dict:
        with open(self._manifest(round_no)) as f:
            return json.load(f).get("metrics", {})
