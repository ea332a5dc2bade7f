"""robots.txt parsing and gating (Heritrix Robotstxt semantics subset).

The reference fetches ``/robots.txt`` per host as a crawl prerequisite and
enforces it in PreconditionEnforcer; crawl-delay feeds the politeness delay
(capped at 180 s). In the batch engine robots bodies are ordinary rows of the
``pages`` table (url == scheme://host/robots.txt). They are parsed ONCE per
crawl, *in the executors* (an Arrow ``mapInPandas`` pass — at 10^7-10^8
hosts a driver-side parse would be both an OOM and a multi-GB pickle
broadcast), into a ``host_rules`` DataFrame keyed by canonical host. Gating
is then a plain join on host against candidates — a shuffled hash join in
small rounds, the planner's choice at scale — with the longest-prefix match
evaluated as pure Catalyst array expressions (no Python in the
per-candidate path).

Matching: directives of the most specific matching user-agent group
(longest agent substring match, ``*`` fallback); allows/disallows by longest
matching prefix, allow wins ties; empty disallow = allow all.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass, field
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import Column, DataFrame, SparkSession


@dataclass
class RobotsRules:
    disallows: list[str] = field(default_factory=list)
    allows: list[str] = field(default_factory=list)
    crawl_delay: float | None = None

    def allows_path(self, path: str) -> bool:
        if not path.startswith("/"):
            path = "/" + path
        best_allow = -1
        best_disallow = -1
        for p in self.allows:
            if p and path.startswith(p) and len(p) > best_allow:
                best_allow = len(p)
        for p in self.disallows:
            if p and path.startswith(p) and len(p) > best_disallow:
                best_disallow = len(p)
        return best_allow >= best_disallow


def parse_robots(body: str, user_agent: str = "ltbot") -> RobotsRules:
    """Parse a robots.txt body for the given agent (longest-match group)."""
    ua = user_agent.lower()
    groups: list[tuple[list[str], RobotsRules]] = []
    current_agents: list[str] = []
    current: RobotsRules | None = None
    last_was_agent = False
    for raw in body.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, value = line.partition(":")
        key = key.strip().lower()
        value = value.strip()
        if key == "user-agent":
            if not last_was_agent:
                current = RobotsRules()
                current_agents = []
                groups.append((current_agents, current))
            current_agents.append(value.lower())
            last_was_agent = True
            continue
        last_was_agent = False
        if current is None:
            continue
        if key == "disallow":
            if value:
                current.disallows.append(value)
            else:
                current.allows.append("/")
        elif key == "allow":
            if value:
                current.allows.append(value)
        elif key == "crawl-delay":
            try:
                current.crawl_delay = float(value)
            except ValueError:
                pass
    best: RobotsRules | None = None
    best_len = -1
    for agents, rules in groups:
        for a in agents:
            if a == "*" and best_len < 0:
                best = rules
                best_len = 0
            elif a != "*" and a in ua and len(a) > best_len:
                best = rules
                best_len = len(a)
    return best if best is not None else RobotsRules()


def effective_delay_ms(
    crawl_delay_s: float | None,
    min_delay_ms: int = 100,
    max_robots_delay_s: float = 180.0,
) -> int:
    """DispositionProcessor's politeness merge: respect robots Crawl-Delay up
    to 180 s, floor at the configured minimum delay."""
    if crawl_delay_s is None:
        return min_delay_ms
    capped = min(crawl_delay_s, max_robots_delay_s) * 1000.0
    return int(max(min_delay_ms, capped))


# --------------------------------------------------------------------------
# distributed representation: the host_rules DataFrame
# --------------------------------------------------------------------------

HOST_RULES_SCHEMA = (
    "host string, delay_ms int, allows array<string>, disallows array<string>"
)


def parse_robots_rows(robots_rows: "DataFrame", cfg) -> "DataFrame":
    """(url, html) robots rows -> (src, host, delay_ms, allows, disallows),
    parsed executor-side in one Arrow ``mapInPandas`` pass. ``src`` is the
    canonicalized source URL, kept for deterministic same-host dedup."""
    import pandas as pd

    ua, dmin, dmax = cfg.user_agent, cfg.min_delay_ms, cfg.max_robots_delay_s

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from topicrawler_spark.functions.canonicalize import canonicalize_py

        for pdf in batches:
            out = {"src": [], "host": [], "delay_ms": [], "allows": [], "disallows": []}
            for url, html in zip(pdf["url"], pdf["html"]):
                canon = canonicalize_py(url)
                host = canon.split("://", 1)[-1].split("/", 1)[0]
                if canon.startswith("https://") and ":" not in host:
                    host += ":443"
                host = host.replace(":", "#")
                body = bytes(html).decode("utf-8", "replace") if html is not None else ""
                r = parse_robots(body, ua)
                out["src"].append(canon)
                out["host"].append(host)
                out["delay_ms"].append(effective_delay_ms(r.crawl_delay, dmin, dmax))
                out["allows"].append(r.allows)
                out["disallows"].append(r.disallows)
            yield pd.DataFrame(out, columns=["src", "host", "delay_ms", "allows", "disallows"])

    return robots_rows.mapInPandas(gen, "src string, " + HOST_RULES_SCHEMA)


def dedupe_host_rules(parsed: "DataFrame") -> "DataFrame":
    """One row per host; smallest source URL wins (prepared-store min_by
    convention)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("host").orderBy("src")
    return (
        parsed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "src")
    )


def build_robots_table(spark: "SparkSession", pages: "DataFrame", cfg) -> "DataFrame":
    """Parse all robots.txt rows into the host_rules DataFrame (cached, one
    row per canonical host), executor-side.

    Works on the raw pages table (url column) or the prepared store
    (canonical key); raw robots URLs are canonicalized first so both shapes
    key by the canonical host — the same key ``host_classkey(canon)``
    produces at lookup time (a www.foo.com/robots.txt row must serve
    candidates keyed foo.com). When several source rows share a canonical
    host the lexicographically smallest source URL wins, matching the
    prepared store's min_by convention.
    """
    from pyspark.sql import functions as F

    url_col = "url" if "url" in pages.columns else "_page_canon"
    robots_rows = pages.filter(F.col(url_col).endswith("/robots.txt")).select(
        F.col(url_col).alias("url"), "html"
    )
    rules = dedupe_host_rules(parse_robots_rows(robots_rows, cfg)).cache()
    rules.count()  # parse now: a per-crawl cost, not the first round's
    return rules


def robots_path_of(canon: "Column") -> "Column":
    """The path component ('/'-prefixed, '/' when absent) of a canonical URL,
    as a Catalyst expression."""
    from pyspark.sql import functions as F

    p = F.regexp_extract(canon, r"^.*?://[^/]*(/.*)$", 1)
    return F.when(p == "", F.lit("/")).otherwise(p)


def robots_allowed_expr(
    allows: "Column", disallows: "Column", path: "Column"
) -> "Column":
    """``RobotsRules.allows_path`` as pure column expressions: longest
    matching non-empty prefix on each side, allow wins ties; a host with no
    rules row (null arrays) allows everything."""
    from pyspark.sql import functions as F

    def best(arr: "Column") -> "Column":
        return F.coalesce(
            F.array_max(
                F.transform(
                    arr,
                    lambda pfx: F.when(
                        (pfx != F.lit("")) & path.startswith(pfx), F.length(pfx)
                    ).otherwise(F.lit(-1)),
                )
            ),
            F.lit(-1),
        )

    return F.when(allows.isNull(), F.lit(True)).otherwise(
        best(allows) >= best(disallows)
    )


def gate_by_robots(
    df: "DataFrame", rules: "DataFrame" | None, shuffle_hash: bool = False
) -> "DataFrame":
    """Filter candidate rows (host, canon, ...) to robots-allowed ones via a
    left join against host_rules on host. ``shuffle_hash`` forces a
    shuffled hash join (the small-round regime runs with AQE off, where a
    broadcast would be a job of its own); otherwise the planner picks."""
    from pyspark.sql import functions as F

    if rules is None:
        return df
    r = rules.select("host", "allows", "disallows")
    j = df.join(r.hint("shuffle_hash") if shuffle_hash else r, "host", "left")
    allowed = robots_allowed_expr(
        F.col("allows"), F.col("disallows"), robots_path_of(F.col("canon"))
    )
    return j.filter(allowed).drop("allows", "disallows")
