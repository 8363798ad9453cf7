"""Stateful streaming path: watermarked event-time hit-rate aggregation,
and hypothesis-driven robustness of the byte-stream tokenizer."""
import os

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from pdf2doi_spark.core.webmeta import extract_main_content, extract_meta


def test_windowed_hit_rate_stream(spark, sf_dir, tmp_path):
    from pdf2doi_spark.pages import pages_from_documents
    from pdf2doi_spark.streaming.incremental import windowed_hit_rate

    landing = str(tmp_path / "landing")
    pages = pages_from_documents(spark, sf_dir).limit(64).cache()
    pages.write.parquet(landing)

    stream = (
        spark.readStream.schema(
            "url string, warc_ts timestamp, html binary, text string, lang string"
        ).parquet(landing)
    )
    q = (
        windowed_hit_rate(stream)
        .writeStream.format("memory")
        .queryName("hitrate")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("select * from hitrate").toPandas()
    # append mode emits only watermark-closed windows; with availableNow the
    # final watermark closes everything except possibly the last window
    assert got["n_docs"].sum() >= 0
    assert set(got.columns) == {"window_start", "n_docs", "n_hits"}
    if len(got):
        assert (got["n_hits"] <= got["n_docs"]).all()
    pages.unpersist()


# Deterministic property tests: tokenizer total-function guarantees on
# arbitrary byte/str input (a Spark task must never die on a mangled page).
@settings(max_examples=200, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.binary(max_size=4096))
def test_main_content_total_on_bytes(b):
    out = extract_main_content(b)
    assert isinstance(out, str)
    assert extract_main_content(b) == out  # deterministic


@settings(max_examples=200, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.text(max_size=4096))
def test_meta_total_on_text(s):
    pairs = extract_meta(s)
    assert isinstance(pairs, list)
    keys = [k for k, _ in pairs]
    assert len(keys) == len(set(keys))  # first-occurrence dedupe holds


def test_stream_cache_merge_resolves_recrawl(spark, tmp_path):
    """A url extracted in batch 1 lands in the cache; when the SAME url is
    recrawled in a later batch with its identifier gone from the page, the
    cache fast path still resolves it as method #1."""
    from pdf2doi_spark.streaming.incremental import run_stream_with_cache_merge

    landing = tmp_path / "landing"; landing.mkdir()
    out = str(tmp_path / "out")
    cache = str(tmp_path / "cache")

    import datetime as dt

    def page(url, body, ts=dt.datetime(2024, 1, 1)):
        return (url, ts, body.encode(), None, None)

    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    first = spark.createDataFrame(
        [page("https://x.org/a",
              "<html><body><p>See doi: 10.1063/1.2409490 here, text long enough.</p></body></html>")],
        schema,
    )
    first.write.mode("append").parquet(str(landing))
    run_stream_with_cache_merge(spark, str(landing), out, cache)

    recrawl = spark.createDataFrame(
        [page("https://x.org/a",
              "<html><body><p>Identifier removed on recrawl, nothing to find now.</p></body></html>",
              dt.datetime(2024, 1, 2))],
        schema,
    )
    recrawl.write.mode("append").parquet(str(landing))
    run_stream_with_cache_merge(spark, str(landing), out, cache)

    res = spark.read.parquet(f"{out}/results").orderBy("tier").collect()
    assert len(res) == 2
    assert all(r["identifier"] == "10.1063/1.2409490" for r in res)
    # the recrawl row resolved from the cache (tier -1, method #1)
    assert res[0]["tier"] == -1 and res[0]["method"] == "document_infos"


def test_dedup_stream_drops_recrawl_within_watermark(spark, tmp_path):
    import datetime as dt

    from pdf2doi_spark.streaming.incremental import dedup_stream, read_pages_stream

    landing = tmp_path / "landing2"; landing.mkdir()
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    spark.createDataFrame(
        [("https://x.org/a", dt.datetime(2024, 1, 1, 0, 0), b"<p>one</p>", None, None),
         ("https://x.org/a", dt.datetime(2024, 1, 1, 0, 10), b"<p>two</p>", None, None),
         ("https://x.org/b", dt.datetime(2024, 1, 1, 0, 5), b"<p>three</p>", None, None)],
        schema,
    ).write.mode("append").parquet(str(landing))

    out = str(tmp_path / "dedup_out")
    q = (
        dedup_stream(read_pages_stream(spark, str(landing)))
        .select("url")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", out + "_ckpt")
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination()
    urls = sorted(r["url"] for r in spark.read.parquet(out).collect())
    assert urls == ["https://x.org/a", "https://x.org/b"]


def test_stream_kill_and_resume_exactly_once(spark, sf_dir, tmp_path):
    """Mid-job kill + restart: the file-sink checkpoint makes the
    extraction resume where it stopped, with every input url appearing
    EXACTLY once in the results (no loss, no duplicates) — the north
    rule's 'resumable from checkpoint' at the micro-batch granularity
    (the batch path's shard manifest is the coarse sibling)."""
    import time

    from pdf2doi_spark.pages import pages_from_documents
    from pdf2doi_spark.streaming.incremental import extract_stream

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    pages = pages_from_documents(spark, sf_dir).limit(128).cache()
    n_urls = pages.select("url").distinct().count()
    pages.repartition(32).write.parquet(landing)  # 32 files -> many batches

    def start(trigger_kwargs):
        stream = (
            spark.readStream.schema(
                "url string, warc_ts timestamp, html binary, text string, lang string"
            ).option("maxFilesPerTrigger", 2).parquet(landing)
        )
        return (
            extract_stream(stream)
            .writeStream.format("parquet")
            .option("path", f"{out}/results")
            .option("checkpointLocation", f"{out}/checkpoint")
            .outputMode("append")
            .trigger(**trigger_kwargs)
            .start()
        )

    # phase 1: continuous trigger, killed as soon as some batches landed
    q = start({"processingTime": "0 seconds"})
    deadline = time.time() + 120
    while time.time() < deadline:
        p = q.lastProgress
        if p and p["numInputRows"] > 0:
            break
        time.sleep(0.2)
    q.stop()
    q.awaitTermination()
    partial = spark.read.parquet(f"{out}/results").count()
    assert partial < n_urls * 2  # sanity: stopped before double-processing

    # phase 2: resume from the same checkpoint, drain the rest
    q2 = start({"availableNow": True})
    q2.awaitTermination()

    got = spark.read.parquet(f"{out}/results")
    assert got.count() == n_urls, (got.count(), n_urls)
    assert got.select("url").distinct().count() == n_urls
    pages.unpersist()


def test_stream_index_dedup_flags_cross_batch_dup(spark, tmp_path):
    """Batch 0 bootstraps an EMPTY index and runs the same probe path as
    every later batch — its intra-batch dup is flagged and stays OUT of
    the index; a doc re-posted (and a near-copy) in a LATER batch is
    flagged against the accumulated corpus; survivors join the index so
    batch 2 sees batch 1's survivors too."""
    from pdf2doi_spark.streaming.incremental import run_stream_with_index_dedup

    landing = tmp_path / "landing_idx"; landing.mkdir()
    out = str(tmp_path / "out_idx")
    index = str(tmp_path / "mh_index")
    schema = "doc_id long, text string"

    base = "the quick brown fox jumps over the lazy dog again and again " * 4
    fresh = "completely different content about spark partitions and shuffles " * 4
    # doc 3 is an exact intra-batch dup of doc 1 inside the BOOTSTRAP batch
    spark.createDataFrame([(1, base), (2, fresh), (3, base)], schema) \
        .write.mode("append").parquet(str(landing))
    run_stream_with_index_dedup(spark, str(landing), out, index)

    # batch 1: one exact re-post of doc 1, one genuinely new doc
    newer = "novel text that matches nothing stored in the index so far " * 4
    spark.createDataFrame([(10, base), (11, newer)], schema) \
        .write.mode("append").parquet(str(landing))
    run_stream_with_index_dedup(spark, str(landing), out, index)

    # batch 2: re-post of batch 1's SURVIVOR (proves the merge happened)
    spark.createDataFrame([(20, newer)], schema) \
        .write.mode("append").parquet(str(landing))
    run_stream_with_index_dedup(spark, str(landing), out, index)

    from pyspark.sql import functions as F

    v = spark.read.parquet(f"{out}/verdicts")
    rows = {r.doc_id: (r.dup_of, r.source) for r in v.collect()}
    assert 1 not in rows and 2 not in rows  # survivors have no verdict row
    assert rows[3] == (1, "batch")  # batch-0 intra-batch dup IS flagged
    assert rows[10] == (1, "index")
    assert 11 not in rows
    assert rows[20] == (11, "index")
    assert set(rows) == {3, 10, 20}
    # index holds exactly the survivors (3 never entered)
    ids = {r.doc_id for r in
           spark.read.parquet(index + "/sigs").select("doc_id").collect()}
    assert ids == {1, 2, 11}
