"""Incremental extraction over a growing pages directory.

The reference is strictly batch (directory scan, main.py:60-82); this is
the optional Structured-Streaming extension (SURVEY.md §7): new page files
appear in a landing directory (in production: Iceberg incremental
snapshots), each micro-batch runs the SAME fused extraction kernel, and
results append to the results sink. Because ``extract_identifiers`` is a
pure DataFrame→DataFrame transformation, batch and streaming share one
code path — no semantics can drift between them.

Late data / watermarks: extraction itself is stateless per row, so no
watermark is needed for the kernel; the optional windowed hit-rate metric
shows the stateful pattern (event-time window on warc_ts + watermark).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pdf2doi_spark.operators.extract import extract_identifiers
from pdf2doi_spark.pages import PAGES_SCHEMA


def read_pages_stream(spark: SparkSession, landing_dir: str,
                      max_files_per_trigger: int = 4) -> DataFrame:
    """File-source stream of pages parquet; micro-batch granularity is the
    caller's choice via ``max_files_per_trigger`` (it sets batch
    boundaries, ``_batch`` partitioning, and cache-merge granularity)."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", int(max_files_per_trigger))
        .parquet(landing_dir)
    )


def extract_stream(pages_stream: DataFrame, replace_arxiv: bool = True) -> DataFrame:
    """Streaming extraction: identical kernel, micro-batch execution."""
    return extract_identifiers(
        pages_stream.select("url", "html", "text"), replace_arxiv=replace_arxiv
    )


def windowed_hit_rate(pages_stream: DataFrame, replace_arxiv: bool = True) -> DataFrame:
    """Per-10-minute-crawl-window hit counts with a 30-minute watermark —
    the stateful-aggregation pattern for late-arriving WARC records.

    ``warc_ts`` rides THROUGH the kernel as a passthrough column instead of
    re-joining results to the stream on url: a url recrawled k times in a
    window would fan such a join out k×k (double-counting the metric), and
    a pre-watermark stream-stream self-join accumulates unbounded state."""
    res = extract_identifiers(
        pages_stream.select("url", "html", "text", "warc_ts"),
        replace_arxiv=replace_arxiv, with_text=False,
        passthrough=["warc_ts"],
    )
    return (
        res.withWatermark("warc_ts", "30 minutes")
        .groupBy(F.window("warc_ts", "10 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("identifier").alias("n_hits"),
        )
        .select(F.col("w.start").alias("window_start"), "n_docs", "n_hits")
    )


def run_stream_once(spark: SparkSession, landing_dir: str, out_dir: str) -> None:
    """Drain everything currently in the landing dir (trigger
    availableNow), append results, stop — the incremental-crawl unit run."""
    stream = read_pages_stream(spark, landing_dir)
    q = (
        extract_stream(stream)
        .writeStream.format("parquet")
        .option("path", f"{out_dir}/results")
        .option("checkpointLocation", f"{out_dir}/checkpoint")
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination()


def dedup_stream(pages_stream: DataFrame, within: str = "1 hour") -> DataFrame:
    """Streaming url-dedup with bounded state: recrawls of the same url
    arriving within the watermark horizon are dropped; state for older
    urls is evicted by the watermark, so memory never grows with the
    crawl (``dropDuplicatesWithinWatermark`` — the streaming sibling of
    the batch exact-dedup family in operators/dedup.py)."""
    return pages_stream.withWatermark("warc_ts", within).dropDuplicatesWithinWatermark(
        ["url"]
    )


def run_stream_with_cache_merge(spark: SparkSession, landing_dir: str,
                                out_dir: str, cache_path: str) -> None:
    """Streaming extraction with the write-back memoization loop closed:
    each micro-batch joins the current identifier cache in as the
    method-#1 fast path, appends its results, and merges new hits back
    into the cache — so a url recrawled in a LATER batch resolves from
    the cache without regex work (the streaming form of the reference's
    metadata write-back, finders.py:587-608).

    Idempotence under foreachBatch's at-least-once contract: results are
    written partitioned by ``_batch`` with DYNAMIC partition overwrite, so
    a batch retried after a crash overwrites its own partition instead of
    appending duplicates; the cache merge then consumes the batch's
    WRITTEN partition (not the live plan), so a recomputation can never
    race the cache overwrite."""
    from pyspark.sql import functions as F

    from pdf2doi_spark.sources.io import merge_cache, read_cache

    stream = read_pages_stream(spark, landing_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        res = extract_identifiers(
            batch_df.select("url", "html", "text"),
            cache=read_cache(spark, cache_path),
        )
        # not write_sharded: every row carries the one _batch value, so a
        # hash distribution would put the whole micro-batch in one task
        (
            res.withColumn("_batch", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch")
            .parquet(f"{out_dir}/results")
        )
        written = (
            spark.read.parquet(f"{out_dir}/results")
            .filter(F.col("_batch") == int(batch_id))
            .drop("_batch")
        )
        merge_cache(spark, cache_path, written)

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", f"{out_dir}/checkpoint")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_stream_with_index_dedup(spark: SparkSession, landing_dir: str,
                                out_dir: str, index_path: str,
                                threshold: float = 0.5) -> None:
    """Streaming corpus ingestion against the persisted near-dup index
    (operators/dedup_index.py): each micro-batch of documents runs one
    ``ingest_dump`` step — probed against everything ingested so far (plus
    itself), its flagged docs written as verdicts, its survivors merged
    into the index — so a document near-duplicated in a LATER batch is
    flagged against the accumulated corpus, the streaming form of
    examples/incremental_ingest.py's dump cadence.

    ``<out_dir>/verdicts`` holds FLAGGED docs only, one row per dup
    (doc_id, dup_of, est_jaccard, source), partitioned by ``_batch``; a
    survivor has no row.

    Idempotence under foreachBatch's at-least-once contract mirrors
    run_stream_with_cache_merge: each batch overwrites its own
    ``_batch=<id>`` partition (a retried batch replaces it), the index
    merge excludes that WRITTEN partition, and merge_minhash_index
    anti-joins already-indexed doc_ids, so a replayed merge is a no-op.

    The first batch bootstraps an EMPTY index and then flows through the
    same probe→write→merge path as every later batch — so batch 0's
    intra-batch near-dups are flagged (source='batch') and excluded from
    the index exactly like anyone else's, and a bootstrap retried after a
    crash BEFORE its merge replays to identical verdicts (probing an
    empty index is deterministic; a batch-0-builds-the-full-index shape
    would instead report different verdicts on any retry, once its own
    docs were indexed). One residual asymmetry, shared by every batch,
    not just the bootstrap: a crash AFTER the merge but before the
    streaming checkpoint commits replays the probe against the
    now-merged index, so a pair first reported source='batch' can be
    re-reported source='index' — dup_of, est_jaccard, and the index
    contents are stable either way (the merge itself replays to a
    no-op); only the source label upgrades.
    """
    from pdf2doi_spark.operators.dedup_index import ingest_dump

    docs_stream = (
        spark.readStream.schema("doc_id long, text string")
        .parquet(landing_dir)
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        ingest_dump(spark, index_path, batch_df.select("doc_id", "text"),
                    f"{out_dir}/verdicts/_batch={int(batch_id)}",
                    threshold=threshold)

    q = (
        docs_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", f"{out_dir}/checkpoint")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
