"""Structured-Streaming dress for the crawl loop (SURVEY.md §1.3, §2.9).

The reference's "streaming" is thread/queue plumbing, not event time —
bounded BufferBlocks with backpressure (fetcho/Program.cs:54-56) and a
packet-file loop (ReadLinko.cs:91-111). The Spark-native equivalents:

- the iterative round driver (crawl.py) is the primary, reproducible shape;
- :func:`stream_crawl` is the same pipeline behind ``readStream →
  foreachBatch``: new frontier files arriving in a directory are
  micro-batched into rounds. Backpressure = ``maxFilesPerTrigger``; the
  200-item BufferBlock cap maps to trigger sizing, not code. The seen set
  stays in the catalog's tables (operators/seen.py), so a streamed crawl
  dedups exactly as a batch one does.

Event-time windowed aggregation (late data, watermarks) exists in the engine
for the metrics stream (see :func:`windowed_event_counts`) even though the
reference has no event-time semantics — its "windows" are count-based FIFO
windows (SURVEY.md §2.6 O6), which live in plans/query.py distinct_window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..crawl import FRONTIER_SCHEMA, CrawlEngine


def stream_crawl(engine: CrawlEngine, frontier_dir: str, checkpoint_dir: str,
                 max_files_per_trigger: int = 10, available_now: bool = True):
    """Drive crawl rounds from a frontier *stream*: each micro-batch of
    frontier files becomes one round (the batch frontier unions with the
    engine's persisted carryover frontier). Returns the StreamingQuery."""
    spark = engine.spark

    def one_round(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        cur = (engine.catalog.read("frontier")
               if engine.catalog.exists("frontier") else None)
        merged = (cur.unionByName(batch_df.select(*cur.columns))
                  if cur is not None else batch_df)
        engine.catalog.overwrite("frontier", merged,
                                 meta={"stream_batch": batch_id})
        last = engine.last_completed_round()
        engine.run_round(0 if last is None else last + 1)

    reader = (spark.readStream.schema(FRONTIER_SCHEMA)
              .option("maxFilesPerTrigger", str(max_files_per_trigger))
              .parquet(frontier_dir))
    writer = (reader.writeStream.foreachBatch(one_round)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_event_counts(events: DataFrame, window: str = "10 minutes",
                          watermark: str = "30 minutes") -> DataFrame:
    """Event-time tumbling-window counts with late-data watermarking — the
    streaming form of the metrics rollup. Works on a streaming or batch
    DataFrame with (ts timestamp, event_type string)."""
    return (events
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
            .agg(F.count("*").alias("n"))
            .select(F.col("w.start").alias("window_start"),
                    "event_type", "n"))
