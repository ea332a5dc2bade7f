"""The partitioned Bloom URL-seen pre-filter: no false negatives ever,
sane false-positive rate at the default sizing, incremental merge
equivalence, and end-to-end crawl parity (bloom-pre-filtered dedup must
produce the exact crawl the plain anti-join produces)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from topicrawler_spark.crawl.bloom import BloomParams, bloom_add, bloom_probe

PARAMS = BloomParams(n_shards=8, shard_bytes=1 << 14, n_hashes=7)


@pytest.fixture(scope="module")
def keys(spark):
    # deterministic spread of 64-bit fingerprints incl. negatives
    return spark.range(0, 5000).select(
        (F.xxhash64(F.col("id").cast("string"))).alias("url_hash")
    ).cache()


def test_no_false_negatives(spark, keys):
    bloom = bloom_add(spark, None, keys, PARAMS)
    probed = bloom_probe(keys, bloom, PARAMS)
    assert probed.filter(~F.col("_maybe_seen")).count() == 0


def test_false_positive_rate_bounded(spark, keys):
    bloom = bloom_add(spark, None, keys, PARAMS).cache()
    others = spark.range(100000, 110000).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash")
    )
    fp = bloom_probe(others, bloom, PARAMS).filter(F.col("_maybe_seen")).count()
    # 5000 keys / 8*16KiB*8 bits ~ 0.2 bits loading -> fpr well under 5%
    assert fp / 10000 < 0.05, fp


def test_incremental_merge_equals_bulk(spark, keys):
    a = keys.filter(F.col("url_hash") % 2 == 0)
    b = keys.filter(F.col("url_hash") % 2 != 0)
    inc = bloom_add(spark, bloom_add(spark, None, a, PARAMS), b, PARAMS)
    bulk = bloom_add(spark, None, keys, PARAMS)
    gi = {r["shard"]: bytes(r["bits"]) for r in inc.collect()}
    gb = {r["shard"]: bytes(r["bits"]) for r in bulk.collect()}
    assert gi == gb


def test_shard_sizes_fixed(spark, keys):
    bloom = bloom_add(spark, None, keys, PARAMS)
    rows = bloom.collect()
    assert 0 < len(rows) <= PARAMS.n_shards
    assert all(len(bytes(r["bits"])) == PARAMS.shard_bytes for r in rows)


def test_crawl_parity_with_bloom(spark):
    """Forcing the bloom regime from round 1 must reproduce the exact
    frontier and seen set of the plain anti-join crawl, and the checkpoint
    must round-trip the filter."""
    from topicrawler_spark.crawl.config import CrawlConfig
    from topicrawler_spark.crawl.driver import run_crawl
    from topicrawler_spark.datagen import generate_corpus, pages_dataframe, topic_corpus
    from topicrawler_spark.lm.local import LocalLM
    from topicrawler_spark.lm.perplexity import DocumentScorer

    corpus = generate_corpus(n_pages=120, n_hosts=8, n_seeds=3, seed=42)
    pages = pages_dataframe(spark, corpus)
    lm = LocalLM.from_texts([topic_corpus(42)], order=3)
    scorer = DocumentScorer(lm, "kneser-ney")
    base = CrawlConfig(order=3, per_host_quota=3, max_hops=10, round_ms=1000,
                       bloom_min_seen=None)
    bloomed = CrawlConfig(order=3, per_host_quota=3, max_hops=10, round_ms=1000,
                          bloom_min_seen=0,
                          bloom_n_shards=8, bloom_shard_bytes=1 << 14)
    plain = run_crawl(spark, pages, corpus.seeds, scorer, 3, base)
    with_bloom = run_crawl(spark, pages, corpus.seeds, scorer, 3, bloomed)
    key = lambda x: (x["canon"], x["directive"], x["precedence"], x["ord_r"], x["ord_k"])
    assert sorted(map(key, plain.state.frontier.collect())) == sorted(
        map(key, with_bloom.state.frontier.collect())
    )
    assert {r["url_hash"] for r in plain.state.seen.collect()} == {
        r["url_hash"] for r in with_bloom.state.seen.collect()
    }
    assert with_bloom.state.bloom is not None


def test_bloom_checkpoint_roundtrip(spark, tmp_path):
    from topicrawler_spark.crawl.config import CrawlConfig
    from topicrawler_spark.crawl.checkpoint import CheckpointStore
    from topicrawler_spark.crawl.driver import run_crawl
    from topicrawler_spark.datagen import generate_corpus, pages_dataframe, topic_corpus
    from topicrawler_spark.lm.local import LocalLM
    from topicrawler_spark.lm.perplexity import DocumentScorer

    corpus = generate_corpus(n_pages=100, n_hosts=6, n_seeds=2, seed=9)
    pages = pages_dataframe(spark, corpus)
    lm = LocalLM.from_texts([topic_corpus(9)], order=3)
    scorer = DocumentScorer(lm, "kneser-ney")
    cfg = CrawlConfig(order=3, per_host_quota=3, max_hops=8,
                      bloom_min_seen=0, bloom_n_shards=8, bloom_shard_bytes=1 << 14)
    ckpt = str(tmp_path / "ck")
    run = run_crawl(spark, pages, corpus.seeds, scorer, 2, cfg, checkpoint_dir=ckpt)
    store = CheckpointStore(ckpt)
    resumed = store.resume(spark)
    assert resumed.bloom is not None
    # the ACTIVE (auto-derived) sizing must survive resume with the bits —
    # probing with mismatched params would hash into the wrong shards
    assert resumed.bloom_params is not None
    probed = bloom_probe(
        resumed.seen.select("url_hash"), resumed.bloom, resumed.bloom_params
    )
    assert probed.filter(~F.col("_maybe_seen")).count() == 0
    # resuming and extending the crawl keeps working
    more = run_crawl(spark, pages, corpus.seeds, scorer, 3, cfg, checkpoint_dir=ckpt)
    assert more.state.round_no == 3


def test_damaged_store_fails_resume(spark, tmp_path):
    """A committed store missing a round's seen_delta segment, or a Bloom
    round whose manifest lost its bloom_params, must refuse to resume:
    either would silently resume a wrong URL-seen set."""
    import json
    import shutil

    from topicrawler_spark.crawl.checkpoint import CheckpointStore
    from topicrawler_spark.crawl.config import CrawlConfig
    from topicrawler_spark.crawl.driver import run_crawl
    from topicrawler_spark.datagen import generate_corpus, pages_dataframe, topic_corpus
    from topicrawler_spark.lm.local import LocalLM
    from topicrawler_spark.lm.perplexity import DocumentScorer

    corpus = generate_corpus(n_pages=60, n_hosts=4, n_seeds=2, seed=9)
    lm = LocalLM.from_texts([topic_corpus(9)], order=3)
    cfg = CrawlConfig(order=3, per_host_quota=3, max_hops=8, bloom_min_seen=0)
    ckpt = tmp_path / "ck"
    run_crawl(
        spark, pages_dataframe(spark, corpus), corpus.seeds,
        DocumentScorer(lm, "kneser-ney"), 1, cfg, checkpoint_dir=str(ckpt),
    )
    assert CheckpointStore(str(ckpt)).resume(spark).bloom is not None

    no_delta = tmp_path / "no_delta"
    shutil.copytree(ckpt, no_delta)
    shutil.rmtree(no_delta / "r00000" / "seen_delta")
    with pytest.raises(FileNotFoundError, match="seen_delta"):
        CheckpointStore(str(no_delta)).resume(spark)

    no_params = tmp_path / "no_params"
    shutil.copytree(ckpt, no_params)
    manifest = no_params / "r00001" / "MANIFEST.json"
    m = json.loads(manifest.read_text())
    del m["bloom_params"]
    manifest.write_text(json.dumps(m))
    with pytest.raises(ValueError, match="bloom_params"):
        CheckpointStore(str(no_params)).resume(spark)


def test_for_keys_sizing():
    """Auto-sizing: >=10 bits/key with 4x headroom, per-task (shard) memory
    bounded at 8 MiB — shard COUNT scales with keys, never shard size."""
    small = BloomParams.for_keys(1_000_000)
    assert small.total_bits >= 10 * 4 * 1_000_000
    assert small.n_shards >= 32 and small.shard_bytes == 1 << 20
    assert small.capacity >= 3 * 1_000_000  # ~4x headroom before 50% density
    huge = BloomParams.for_keys(10_000_000_000)
    assert huge.total_bits >= 10 * 4 * 10_000_000_000
    assert huge.shard_bytes <= 1 << 23  # one cogroup task = one 8 MiB shard
    assert huge.n_shards * huge.shard_bytes * 8 == huge.total_bits
    assert huge.capacity > 10_000_000_000
    # monotone: more keys never yields a smaller filter
    sizes = [BloomParams.for_keys(n).total_bits
             for n in (10**5, 10**6, 10**7, 10**8, 10**9)]
    assert sizes == sorted(sizes)


def test_saturated_filter_rebuild_restores_fpr(spark, keys):
    """A filter past its density capacity flags ~everything maybe-seen;
    rebuilding at for_keys sizing from the same key set restores a bounded
    FPR with zero false negatives (the driver's auto-rebuild semantics)."""
    tiny = BloomParams(n_shards=2, shard_bytes=32, n_hashes=7)  # 512 bits
    assert tiny.capacity < 5000
    sat = bloom_add(spark, None, keys, tiny).cache()
    others = spark.range(100000, 110000).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash")
    ).cache()
    fp_sat = bloom_probe(others, sat, tiny).filter(F.col("_maybe_seen")).count()
    assert fp_sat / 10000 > 0.5  # saturated: the pre-filter prunes ~nothing
    grown = BloomParams.for_keys(5000, min_shards=8)
    assert grown.capacity > 5000
    rebuilt = bloom_add(spark, None, keys, grown).cache()
    assert bloom_probe(keys, rebuilt, grown).filter(~F.col("_maybe_seen")).count() == 0
    fp_new = bloom_probe(others, rebuilt, grown).filter(F.col("_maybe_seen")).count()
    assert fp_new / 10000 < 0.05, fp_new


def test_crawl_auto_rebuild_on_saturation(spark, tmp_path):
    """Resuming a crawl whose committed filter is past capacity must rebuild
    it at the auto-derived sizing (manifest params -> capacity check ->
    for_keys rebuild from the committed seen set) and still produce the
    exact bloomless crawl."""
    from topicrawler_spark.crawl.checkpoint import CheckpointStore
    from topicrawler_spark.crawl.config import CrawlConfig
    from topicrawler_spark.crawl.driver import run_crawl
    from topicrawler_spark.datagen import generate_corpus, pages_dataframe, topic_corpus
    from topicrawler_spark.lm.local import LocalLM
    from topicrawler_spark.lm.perplexity import DocumentScorer

    corpus = generate_corpus(n_pages=120, n_hosts=8, n_seeds=3, seed=42)
    pages = pages_dataframe(spark, corpus)
    lm = LocalLM.from_texts([topic_corpus(42)], order=3)
    scorer = DocumentScorer(lm, "kneser-ney")
    base = dict(order=3, per_host_quota=3, max_hops=10, round_ms=1000)
    # phase 1: statically-sized filter with a capacity a 2-round crawl blows
    # through (2 shards x 8 bytes = 128 bits -> capacity ~12 keys)
    tiny_cfg = CrawlConfig(**base, bloom_min_seen=0, bloom_auto_size=False,
                           bloom_n_shards=2, bloom_shard_bytes=8)
    ckpt = str(tmp_path / "ck")
    run_crawl(spark, pages, corpus.seeds, scorer, 2, tiny_cfg, checkpoint_dir=ckpt)
    committed = CheckpointStore(ckpt).resume(spark)
    n_seen = committed.seen.count()
    assert committed.bloom_params is not None
    assert n_seen > committed.bloom_params.capacity  # saturated on disk
    # phase 2: resume with auto-sizing on -> rebuild fires before the round
    auto_cfg = CrawlConfig(**base, bloom_min_seen=0, bloom_auto_size=True,
                           bloom_n_shards=2, bloom_shard_bytes=8)
    more = run_crawl(spark, pages, corpus.seeds, scorer, 3, auto_cfg,
                     checkpoint_dir=ckpt)
    grown = more.state.bloom_params
    assert grown is not None and grown.capacity > more.state.seen.count()
    assert grown.total_bits >= 10 * n_seen
    # parity: the whole 3-round crawl equals the bloomless crawl
    plain = run_crawl(spark, pages, corpus.seeds, scorer, 3,
                      CrawlConfig(**base, bloom_min_seen=None))
    key = lambda x: (x["canon"], x["directive"], x["precedence"], x["ord_r"], x["ord_k"])
    assert sorted(map(key, plain.state.frontier.collect())) == sorted(
        map(key, more.state.frontier.collect())
    )
    assert {r["url_hash"] for r in plain.state.seen.collect()} == {
        r["url_hash"] for r in more.state.seen.collect()
    }
