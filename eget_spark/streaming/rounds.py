"""Structured-Streaming face of the engine (SURVEY.md §2.11).

The reference has no streaming; the crawl loop is a synchronous micro-batch
analogue. The engine exposes its round outputs as streams so downstream
consumers (chunkers, indexers, metric sinks) can attach incrementally:

- `stream_crawled_docs`: readStream over the ``docs`` rows of a durable
  crawl's committed rounds (`{table_dir}/rounds/round=N/kind=docs`, see
  plans/tables.py).  A round's files are written into a staging
  directory and published by one rename, so the stream sees each
  round's docs all at once, when the round commits — never half a round;
  each committed round becomes one micro-batch under Trigger.AvailableNow.
- `streaming_crawl_stats`: windowed per-status counts with a watermark —
  the A1 counter aggregation as an incremental query.
- `foreachBatch` chunking: apply the chunker to each new round exactly-once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CRAWLED_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("host", T.StringType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("parent_url", T.StringType()),
        T.StructField("seq", T.LongType()),
        T.StructField("round", T.IntegerType()),
        T.StructField("status", T.StringType()),
        T.StructField("markdown", T.StringType()),
        T.StructField("partition_id", T.IntegerType()),
    ]
)


def stream_crawled_docs(
    spark: SparkSession, table_dir: str, **options
) -> DataFrame:
    """File-source stream over the docs of committed crawl rounds (one
    file-batch / round); ``options`` go to the file source."""
    rounds = f"{table_dir}/rounds"
    return (
        spark.readStream.schema(CRAWLED_STREAM_SCHEMA)
        .options(basePath=rounds, **options)
        .parquet(f"{rounds}/round=*/kind=docs")
        # the path's `kind` partition column is docs throughout
        .select(CRAWLED_STREAM_SCHEMA.fieldNames())
    )


def streaming_round_stats(docs_stream: DataFrame) -> DataFrame:
    """A1 as an incremental aggregation: per-round per-status counts."""
    return docs_stream.groupBy("round", "status").agg(
        F.count("*").alias("n"),
        F.approx_count_distinct("host").alias("n_hosts"),
    )


def run_available_now(agg: DataFrame, query_name: str):
    """Drain everything currently on disk into a memory sink and stop —
    the batch-equivalent trigger used for tests and local smoke."""
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def chunk_stream(spark: SparkSession, table_dir: str, out_dir: str):
    """foreachBatch chunker: each crawl round's new docs are chunked
    exactly-once into parquet (the incremental X12 pipeline)."""
    from ..operators.chunker import chunk_semantic

    def each_batch(df: DataFrame, epoch: int) -> None:
        ok = df.where(F.col("status") == "ok").select("url", "markdown")
        chunks = chunk_semantic(ok, id_col="url", text_col="markdown")
        chunks.write.mode("append").parquet(out_dir)

    return (
        stream_crawled_docs(spark, table_dir)
        .writeStream.foreachBatch(each_batch)
        .option("checkpointLocation", f"{out_dir}/_checkpoint")
        .trigger(availableNow=True)
        .start()
    )


def windowed_host_throughput(
    docs_stream: DataFrame,
    time_col: str = "fetched_at",
    window: str = "10 seconds",
    slide: str = "5 seconds",
    watermark: str = "30 seconds",
) -> DataFrame:
    """Sliding-window per-host fetch throughput with a late-data watermark
    — the crawl-monitoring aggregation (pages/s per host, the A1/A2
    counters as a continuous query).

    Append-mode semantics: a (window, host) row is emitted exactly once,
    when the watermark passes the window end; events later than
    ``watermark`` behind the max seen event time are dropped (bounded
    state — at web scale the per-host window state is what keeps this
    O(active hosts), not O(history)).  The caller supplies the event-time
    column (e.g. stamp rounds at append time with current_timestamp())."""
    w = F.window(F.col(time_col), window, slide)
    return (
        docs_stream.withWatermark(time_col, watermark)
        .groupBy(w.alias("w"), "host")
        .agg(
            F.count("*").alias("fetched"),
            F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("ok"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "host",
            "fetched",
            "ok",
        )
    )


def stream_discovered_urls(spark: SparkSession, table_dir: str) -> DataFrame:
    """The crawl run's discovery stream: each round's fetched URLs plus
    their parent URLs, as (host, url) rows.  Deliberately duplicate-rich —
    a parent recurs in every child row and across rounds — so it is a
    faithful stand-in for the raw link-discovery firehose a continuous
    crawler shards by host."""
    from ..functions.urls import host_of

    docs = stream_crawled_docs(spark, table_dir)
    own = docs.select("host", "url")
    parents = docs.where(F.col("parent_url").isNotNull()).select(
        host_of(F.col("parent_url")).alias("host"),
        F.col("parent_url").alias("url"),
    )
    return own.unionByName(parents)


def streaming_crawl_seen(
    spark: SparkSession,
    table_dir: str,
    query_name: str = "stream_seen",
    max_files_per_trigger: int = 1,
):
    """End-to-end streaming crawl face: round appends -> discovery stream
    -> keyed first-seen dedup (streaming/seen.stream_first_seen) -> memory
    sink.  ``max_files_per_trigger=1`` forces one micro-batch per round
    file so the cross-batch state path (not just in-batch dedup) is
    exercised; the resulting set must equal the batch crawl's seen set —
    pinned by tests/test_streaming.py::test_streaming_crawl_seen_equals_batch."""
    from .seen import stream_first_seen

    src = stream_crawled_docs(
        spark, table_dir, maxFilesPerTrigger=max_files_per_trigger
    )
    from ..functions.urls import host_of

    own = src.select("host", "url")
    parents = src.where(F.col("parent_url").isNotNull()).select(
        host_of(F.col("parent_url")).alias("host"),
        F.col("parent_url").alias("url"),
    )
    firsts = stream_first_seen(own.unionByName(parents))
    q = (
        firsts.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
