"""Incremental crawl extraction via Structured Streaming.

The reference is batch-only (one document per parse call,
lib/RDF/RDFa/Parser.pm:489-544); SURVEY.md §2.8 documents streaming
as the optional extension for incremental crawls.  Extraction is
stateless per url, so the streaming plan is the same shuffle-free
scan -> mapInArrow chain with a file source and checkpointed sink:
exactly-once via the sink's commit log + deterministic per-url
output (re-processed files produce identical triples).

A watermark on ``warc_ts`` bounds state for the windowed crawl-rate
metrics aggregation (the only stateful operator here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..extract import extract_triples

PAGES_DDL = ("url string, warc_ts timestamp, html binary, "
             "text string, lang string")


def read_page_stream(spark: SparkSession, src_dir: str,
                     max_files_per_trigger: int = 4) -> DataFrame:
    return (spark.readStream
            .schema(PAGES_DDL)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(src_dir))


def extract_triples_stream(pages_stream: DataFrame) -> DataFrame:
    """Streaming pages -> triples: the batch extractor on a stream."""
    return extract_triples(pages_stream)


def crawl_rate_metrics(pages_stream: DataFrame,
                       window: str = "1 minute",
                       watermark: str = "5 minutes") -> DataFrame:
    """Windowed crawl metrics with late-data watermark on warc_ts."""
    return (pages_stream
            .withWatermark("warc_ts", watermark)
            .groupBy(F.window("warc_ts", window), "lang")
            .agg(F.count("*").alias("n_pages"),
                 F.sum(F.length("html")).alias("bytes_in")))


def start_extraction(spark: SparkSession, src_dir: str, out_dir: str,
                     checkpoint_dir: str,
                     trigger_once: bool = False):
    """File-source -> triples parquet sink with checkpointed resume
    (the streaming analogue of pipeline.materialize)."""
    stream = extract_triples_stream(read_page_stream(spark, src_dir))
    writer = (stream.writeStream
              .format("parquet")
              .option("path", out_dir)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def dedup_pages_stream(pages_stream: DataFrame,
                       watermark: str = "10 minutes",
                       text_col: str = "text") -> DataFrame:
    """Streaming exact dedup: drop pages whose content fingerprint
    was already seen within the watermark horizon.

    ``dropDuplicatesWithinWatermark`` keys state on the md5
    fingerprint and evicts entries once the event-time watermark
    passes them — state is O(distinct fingerprints per horizon), not
    O(stream length), which is what makes exact dedup feasible on an
    unbounded crawl (the batch analogue is
    ``pipeline.dedup.dedup_exact``; cross-horizon near-dups belong to
    the batch MinHash path over the materialized corpus)."""
    fp = pages_stream.withColumn(
        "_fp", F.md5(F.coalesce(F.col(text_col), F.lit(""))))
    return (fp.withWatermark("warc_ts", watermark)
            .dropDuplicatesWithinWatermark(["_fp"])
            .drop("_fp"))
