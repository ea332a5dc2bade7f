"""The distributed robots path: the Catalyst longest-prefix matcher must
agree with RobotsRules.allows_path on every rule/path combination, and the
join-based gate must behave like direct per-row evaluation (including hosts
with no rules row, empty-disallow = allow-all, and the allow-wins-ties
rule)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from topicrawler_spark.crawl.config import CrawlConfig
from topicrawler_spark.crawl.robots import (
    RobotsRules,
    build_robots_table,
    gate_by_robots,
    parse_robots,
    robots_allowed_expr,
    robots_path_of,
)

RULESETS = {
    "plain": RobotsRules(disallows=["/private", "/tmp/"], allows=["/private/ok"]),
    "allow_all": RobotsRules(disallows=[], allows=["/"]),
    "deny_all": RobotsRules(disallows=["/"], allows=[]),
    "tie": RobotsRules(disallows=["/a/"], allows=["/a/"]),  # allow wins ties
    "empty": RobotsRules(),
}

PATHS = [
    "/", "/private", "/private/ok/x", "/privateer", "/tmp/x", "/tmp",
    "/a/", "/a/b", "/a", "/index.html",
]


def test_catalyst_matcher_matches_python(spark):
    rows = [
        (name, r.allows, r.disallows, path)
        for name, r in RULESETS.items()
        for path in PATHS
    ]
    df = spark.createDataFrame(
        rows, "name string, allows array<string>, disallows array<string>, path string"
    )
    got = df.select(
        "name", "path",
        robots_allowed_expr(F.col("allows"), F.col("disallows"), F.col("path")).alias("ok"),
    ).collect()
    for r in got:
        want = RULESETS[r["name"]].allows_path(r["path"])
        assert r["ok"] == want, (r["name"], r["path"])


def test_null_rules_row_allows(spark):
    df = spark.createDataFrame(
        [(None, None, "/x")],
        "allows array<string>, disallows array<string>, path string",
    )
    ok = df.select(
        robots_allowed_expr(F.col("allows"), F.col("disallows"), F.col("path")).alias("ok")
    ).collect()[0]["ok"]
    assert ok is True


def test_path_extraction(spark):
    cases = {
        "http://h.ex/a/b?c=1": "/a/b?c=1",
        "http://h.ex": "/",
        "http://h.ex/": "/",
        "https://h.ex:8443/x/robots.txt": "/x/robots.txt",
    }
    df = spark.createDataFrame([(u,) for u in cases], "canon string")
    got = {r["canon"]: r["p"] for r in df.select("canon", robots_path_of(F.col("canon")).alias("p")).collect()}
    assert got == cases


@pytest.fixture(scope="module")
def robots_pages(spark):
    body = b"User-agent: *\nDisallow: /private\nAllow: /private/ok\nCrawl-delay: 2\n"
    rows = [
        ("http://www.site-a.ex/robots.txt", body),  # www -> canonical host site-a.ex
        ("http://site-b.ex/robots.txt", b"User-agent: *\nDisallow: /\n"),
        ("http://site-c.ex/page.html", b"<html></html>"),  # not robots
    ]
    return spark.createDataFrame(rows, "url string, html binary")


def test_build_robots_table(spark, robots_pages):
    cfg = CrawlConfig()
    rules = {r["host"]: r for r in build_robots_table(spark, robots_pages, cfg).collect()}
    # www canonicalizes away: the row must key by the apex host
    assert set(rules) == {"site-a.ex", "site-b.ex"}
    assert rules["site-a.ex"]["delay_ms"] == 2000
    assert rules["site-b.ex"]["disallows"] == ["/"]
    # no Crawl-delay on site-b: floors at min_delay_ms
    assert rules["site-b.ex"]["delay_ms"] == cfg.min_delay_ms


def test_gate_by_robots_join(spark, robots_pages):
    cfg = CrawlConfig()
    rules = build_robots_table(spark, robots_pages, cfg)
    cands = spark.createDataFrame(
        [
            ("site-a.ex", "http://site-a.ex/private/x"),      # blocked
            ("site-a.ex", "http://site-a.ex/private/ok/x"),   # allow override
            ("site-a.ex", "http://site-a.ex/open"),           # allowed
            ("site-b.ex", "http://site-b.ex/anything"),       # deny-all
            ("site-z.ex", "http://site-z.ex/x"),              # no rules row
            ("site-a.ex", "http://site-a.ex"),                # bare host: path "/"
        ],
        "host string, canon string",
    )
    for shuffle_hash in (True, False):
        gated = gate_by_robots(cands, rules, shuffle_hash=shuffle_hash)
        if shuffle_hash:
            plan = gated._jdf.queryExecution().executedPlan().toString()
            assert "ShuffledHashJoin" in plan and "BroadcastExchange" not in plan
        got = {r["canon"] for r in gated.collect()}
        assert got == {
            "http://site-a.ex/private/ok/x",
            "http://site-a.ex/open",
            "http://site-z.ex/x",
            "http://site-a.ex",
        }, shuffle_hash


def test_same_host_duplicate_resolution(spark):
    """Two robots rows canonicalizing to one host: the lexicographically
    smallest source URL wins, deterministically."""
    cfg = CrawlConfig()
    pages = spark.createDataFrame(
        [
            ("http://www.dup.ex/robots.txt", b"User-agent: *\nDisallow: /www\n"),
            ("http://dup.ex/robots.txt", b"User-agent: *\nDisallow: /apex\n"),
        ],
        "url string, html binary",
    )
    rows = build_robots_table(spark, pages, cfg).collect()
    assert len(rows) == 1
    # canonical sources are http://dup.ex/robots.txt (apex) and
    # http://dup.ex/robots.txt (www stripped) -> equal; min keeps one row.
    assert rows[0]["host"] == "dup.ex"


def test_parse_reference_semantics():
    r = parse_robots(
        "User-agent: ltbot\nDisallow: /only-lt\n\nUser-agent: *\nDisallow: /all\n",
        "ltbot",
    )
    assert r.disallows == ["/only-lt"]  # longest agent match beats *
    r2 = parse_robots("User-agent: *\nDisallow:\n", "ltbot")
    assert r2.allows == ["/"] and r2.disallows == []
