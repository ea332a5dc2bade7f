"""Optional continuous crawl mode: the identical round function driven by
``foreachBatch`` over a streaming frontier feed.

The batch-rounds engine is the primary (and parity-verified) mode; this
adapter exists for deployments that want the crawler to react to frontier
appends continuously instead of on a driver loop. Each micro-batch runs the
same ``run_round`` logic, so semantics (scoring, priorities, dedup) are
shared, not reimplemented.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from topicrawler_spark.crawl.checkpoint import CheckpointStore
from topicrawler_spark.crawl.config import CrawlConfig
from topicrawler_spark.crawl.robots import build_robots_table
from topicrawler_spark.crawl.round import run_round


def foreach_batch_crawl(
    spark: SparkSession,
    frontier_stream: DataFrame,
    pages: DataFrame,
    scorer_bc,
    store: CheckpointStore,
    cfg: CrawlConfig | None = None,
):
    """Attach the round function to a streaming frontier source.

    ``frontier_stream`` is any streaming DataFrame with the frontier schema
    (e.g. ``spark.readStream.schema(FRONTIER_SCHEMA).parquet(dir)`` fed by an
    external scheduler, or a Kafka source mapped onto the schema).
    Returns the StreamingQuery.
    """
    cfg = cfg or CrawlConfig()
    rules = build_robots_table(spark, pages, cfg)
    from topicrawler_spark.crawl.round import prepare_pages

    pages = prepare_pages(pages).persist()

    def process(batch_df: DataFrame, batch_id: int) -> None:
        state = store.resume(spark)
        if state is None:
            raise RuntimeError("continuous mode needs an initialized checkpoint store")
        # the streamed rows are this micro-batch's frontier
        from topicrawler_spark.crawl.round import CrawlState

        state = CrawlState(
            state.round_no, batch_df, state.seen, state.host_fetched,
            state.bloom, state.robots,
        )
        new_state, result = run_round(spark, state, pages, scorer_bc, rules, cfg)
        store.commit_round(new_state, result)

    return (
        frontier_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", store.root + "/_stream_checkpoint")
        .start()
    )
