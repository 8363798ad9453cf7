"""Physical-plan hygiene: the properties that matter at 100 TB must be
visible in the plan, not assumed — column pruning to the scan, predicate
pushdown, broadcast of the small cache side, whole-stage codegen for the
native operators."""
import re

import pytest

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def pages_parquet(spark, sf_dir, tmp_path_factory):
    from pdf2doi_spark.pages import pages_from_documents

    path = str(tmp_path_factory.mktemp("plans") / "pages")
    pages_from_documents(spark, sf_dir).write.parquet(path)
    return path


def test_column_pruning_reaches_scan(spark, pages_parquet):
    # A url-only query over the 5-column pages table must not read html.
    pages = spark.read.parquet(pages_parquet)
    q = pages.select(F.length("url").alias("l")).groupBy().sum("l")
    plan = _plan(q)
    m = re.search(r"ReadSchema: ([^\n]+)", plan)
    assert m, plan
    assert "url" in m.group(1)
    assert "html" not in m.group(1), m.group(1)


def test_predicate_pushdown_reaches_scan(spark, pages_parquet):
    pages = spark.read.parquet(pages_parquet)
    q = pages.filter(F.col("lang") == "en").select("url")
    plan = _plan(q)
    assert re.search(r"PushedFilters: \[.*(IsNotNull|EqualTo)\(lang", plan), plan


def test_kernel_consumes_only_needed_columns(spark, pages_parquet):
    from pdf2doi_spark.operators.extract import extract_identifiers

    pages = spark.read.parquet(pages_parquet)
    plan = _plan(extract_identifiers(pages))
    m = re.search(r"ReadSchema: ([^\n]+)", plan)
    # warc_ts / lang never cross into the Python kernel
    assert "warc_ts" not in m.group(1) and "lang" not in m.group(1), m.group(1)


def test_cache_join_is_broadcast(spark, pages_parquet):
    from pdf2doi_spark.operators.extract import extract_identifiers

    pages = spark.read.parquet(pages_parquet)
    cache = spark.createDataFrame(
        [("u", "10.1/x")], "url string, identifier string"
    )
    plan = _plan(extract_identifiers(pages, cache=cache))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_native_ops_stay_in_codegen(spark, sf_dir):
    from pdf2doi_spark.operators.quality import quality_score_cols

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(docs.select("doc_id", *quality_score_cols(docs["text"])))
    # JVM-side end-to-end: no Python evaluation nodes in the native path.
    # (Array higher-order functions evaluate interpreted inside the Project
    # — still JVM — so we assert absence of Python nodes, not full codegen.)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "mapInPandas" not in plan.lower()


def test_partition_pruning_on_crawl_date(spark, sf_dir, tmp_path):
    # Production layout: pages partitioned by crawl date (warc_ts) — a
    # date-ranged job must scan only matching partitions, visible as
    # PartitionFilters on the scan node.
    from pdf2doi_spark.pages import pages_from_documents

    path = str(tmp_path / "pages_by_day")
    (
        pages_from_documents(spark, sf_dir)
        .withColumn("crawl_date", F.to_date("warc_ts"))
        .write.partitionBy("crawl_date")
        .parquet(path)
    )
    pages = spark.read.parquet(path)
    one_day = pages.filter(F.col("crawl_date") == "2024-01-01").select("url")
    plan = _plan(one_day)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "crawl_date" in m.group(1), plan
    # and the pruned read returns only that day's rows
    assert one_day.count() > 0


def test_metrics_use_partial_aggregation(spark, pages_parquet):
    from pdf2doi_spark.operators.extract import extract_identifiers, method_metrics

    pages = spark.read.parquet(pages_parquet)
    plan = _plan(method_metrics(extract_identifiers(pages, with_text=False)))
    # two HashAggregates around one exchange = map-side partial agg
    assert plan.count("HashAggregate") >= 2, plan


def test_ivf_search_is_shuffle_free(spark, sf_dir):
    """The IVF search plan (after the tiny codebook is collected) must be
    scan -> map-side cell assignment -> filter -> TakeOrderedAndProject:
    zero Exchange nodes, so at 10^9+ vectors nothing ever shuffles."""
    from pdf2doi_spark.operators.similarity import ann_ivf_topk

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    plan = _plan(ann_ivf_topk(e, qvec, k=10, nprobe=3))
    assert "Exchange" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_bucketed_cache_join_is_shuffle_free(spark, tmp_path):
    """Pages and cache bucketed on url -> the cache join needs no Exchange
    on either side (the co-location strategy for the petabyte cache join)."""
    from pdf2doi_spark.sources.io import write_bucketed

    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pages = spark.range(0, 4000).select(
            F.concat(F.lit("https://x.org/p"), F.col("id")).alias("url"),
            F.md5(F.col("id").cast("string")).alias("payload"),
        )
        cache = spark.range(0, 500).select(
            F.concat(F.lit("https://x.org/p"), F.col("id")).alias("url"),
            F.lit("10.1/x").alias("identifier"),
        )
        write_bucketed(pages, "pages_bucketed", n_buckets=8)
        write_bucketed(cache, "cache_bucketed", n_buckets=8)
        joined = spark.table("pages_bucketed").join(
            spark.table("cache_bucketed"), "url", "left"
        )
        plan = _plan(joined)
        assert "Exchange" not in plan, plan
        assert joined.count() == 4000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS pages_bucketed")
        spark.sql("DROP TABLE IF EXISTS cache_bucketed")


def test_corpus_pipeline_shuffle_count(spark, sf_dir):
    """The fused corpus pipeline must stay map -> window shuffle (fp) ->
    agg shuffle (lang): no operator-to-operator join Exchanges sneak in."""
    from pdf2doi_spark.queries import build_queries

    plan = _plan(build_queries()["corpus_pipeline"](spark, sf_dir))
    # exactly: window shuffle (fp) + one agg exchange (partial map-side
    # combine around it) + ordered-output range exchange — and Spark pushes
    # a WindowGroupLimit below the window shuffle, pruning duplicate rows
    # map-side before they ever move
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 3, plan
    assert "Join" not in plan, plan
    assert "WindowGroupLimit" in plan, plan


def test_salted_repartition_flattens_zipf_skew(spark, sf_dir):
    """Crawl layouts cluster by host and hosts are Zipf-skewed; hashing the
    hot key directly leaves one partition holding the head domain, while
    the salted (per-url) repartition must land within 2x of perfectly
    even."""
    from pdf2doi_spark.operators.extract import domain_of, repartition_salted
    from pdf2doi_spark.pages import pages_from_documents

    pages = pages_from_documents(spark, sf_dir).select(
        "url", domain_of(F.col("url")).alias("domain")
    ).cache()
    n_parts = 16

    by_domain = pages.repartition(n_parts, F.col("domain"))
    sizes_domain = [
        r["cnt"] for r in by_domain.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.count(F.lit(1)).alias("cnt")).collect()
    ]
    salted = repartition_salted(pages, n_parts)
    sizes_salted = [
        r["cnt"] for r in salted.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.count(F.lit(1)).alias("cnt")).collect()
    ]
    pages.unpersist()

    total = sum(sizes_salted)
    even = total / n_parts
    assert max(sizes_salted) < 2 * even, sizes_salted
    # the domain-keyed layout is demonstrably worse than the salted one
    assert max(sizes_domain) > 1.5 * max(sizes_salted), (sizes_domain, sizes_salted)


def test_embedding_near_dups_join_is_bucketed_not_allpairs(spark):
    """The near-dup candidate join must be an equi-join on the LSH
    signature (shuffle on the bucket key) — never a cartesian /
    nested-loop all-pairs plan."""
    from pdf2doi_spark.queries import _BUILDERS

    q = _BUILDERS["embedding_near_dups"]()[0]
    plan = _plan(q(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # the equi-join key is the BANDED signature bucket — "band_idx" pins
    # the multi-band key (a bare "sig" substring would still match a
    # regression to the old single fixed-signature column, round-3 review)
    assert "band_idx" in plan, plan


def test_embedding_lsh_params_scale_with_corpus():
    """Round-2 review fix: the signature width must grow with corpus size
    (fixed 8 planes = 256 buckets goes O(bucket²) at 10^12 vectors), and
    widened signatures must go multi-band for recall."""
    from pdf2doi_spark.operators.similarity import embedding_lsh_params

    assert embedding_lsh_params(500) == (1, 8)        # driver scale: r2 shape
    assert embedding_lsh_params(2 ** 16) == (1, 8)    # last single-band size
    nb, ppb = embedding_lsh_params(10 ** 9)
    assert nb == 4 and ppb >= 20
    nb12, ppb12 = embedding_lsh_params(10 ** 12)
    assert nb12 == 4 and ppb12 >= 30
    # expected bucket occupancy stays bounded: n / 2^planes <= 2^9
    assert 10 ** 12 / (2 ** ppb12) <= 512


def test_simhash_near_dups_join_is_banded(spark):
    """SimHash pair generation joins on (band_idx, chunk) — banded key,
    not all-pairs."""
    from pdf2doi_spark.queries import _BUILDERS

    q = _BUILDERS["simhash_near_dups"]()[0]
    plan = _plan(q(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "band_idx" in plan and "chunk" in plan


def test_simhash_guard_reuses_exchange(spark):
    """The max_bucket guard is a count window over the banded key, so both
    self-join sides sit on ONE canonically-identical shuffle — at runtime
    AQE collapses the second into a ReusedExchange and the (expensive)
    simhash pandas UDF executes once, not once per join side plus once for
    a guard aggregate (the pre-fix plan ran it 4x)."""
    from pdf2doi_spark.queries import _BUILDERS

    df = _BUILDERS["simhash_near_dups"]()[0](spark, "/root/testdata/sf0.001")
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in executed
    assert ("ReusedExchange" in executed) or ("ReusedQueryStage" in executed), (
        executed[:2000]
    )


def test_minhash_guard_reuses_exchange(spark):
    """Round-3 review: the same exchange-reuse contract as the simhash
    guard applies to minhash_candidate_pairs — its max_bucket guard is now
    a count window over (band_idx, band_hash), so both self-join sides sit
    on ONE canonically-identical shuffle and the shingle/minhash work runs
    once, not once per join side plus once for a guard aggregate."""
    from pdf2doi_spark.operators.dedup import minhash_candidate_pairs

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(F.col("doc_id"), F.col("text"))
    )
    df = minhash_candidate_pairs(docs, max_bucket=50)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in executed
    assert ("ReusedExchange" in executed) or ("ReusedQueryStage" in executed), (
        executed[:2000]
    )


def test_word_shingles_split_the_text_once(spark):
    """word_shingles normalizes and splits each text ONCE: no lambda body
    in its analyzed expression holds the normalization or the split (a
    gram lambda over ``split(norm_text(text))`` re-splits the whole text
    per shingle, O(words²) per doc), and the whole expression holds one
    copy of each."""
    from pdf2doi_spark.operators.dedup import word_shingles

    df = spark.createDataFrame([("a b c d",)], "text string").select(
        word_shingles(F.col("text")).alias("sh"))
    exprs = df._jdf.queryExecution().analyzed().expressions()

    def walk(e):
        yield e
        kids = e.children()
        for i in range(kids.size()):
            yield from walk(kids.apply(i))

    def kinds(e):
        return [x.getClass().getSimpleName() for x in walk(e)]

    every = [k for i in range(exprs.size()) for k in kinds(exprs.apply(i))]
    lambdas = [x for i in range(exprs.size()) for x in walk(exprs.apply(i))
               if x.getClass().getSimpleName() == "LambdaFunction"]
    assert lambdas
    for lam in lambdas:
        body = kinds(lam.function())
        assert "RegExpReplace" not in body and "StringSplit" not in body, body
    assert every.count("RegExpReplace") == every.count("StringSplit") == 1


def test_quality_suite_is_map_only(spark, sf_dir):
    """The fused quality suite (token/lang/score/fingerprint/scrub) is ONE
    projection: zero Exchanges, zero Joins — at 100 TB it costs exactly a
    scan plus column expressions, nothing moves."""
    from pdf2doi_spark.queries import build_queries

    plan = _plan(build_queries()["quality_suite"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0, plan
    assert "Join" not in plan, plan


def test_pack_sequences_is_one_bin_shuffle(spark, sf_dir):
    """Sequence packing must stay: one shuffle into bounded key-range bins
    feeding applyInPandas (plus at most the ordered-output exchange) — no
    Join and no global Window/row_number, which would serialize the greedy
    on a single partition at scale."""
    from pdf2doi_spark.queries import build_queries

    plan = _plan(build_queries()["pack_sequences"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2, plan
    assert "Join" not in plan, plan
    assert len(re.findall(r"\(\d+\) Window", plan)) == 0, plan


def test_mixture_sample_broadcasts_fractions(spark, sf_dir):
    """Mixture sampling joins each doc to its source's keep-fraction. The
    fraction table is one row per source (tiny at ANY corpus size), so the
    join must be broadcast — a SortMergeJoin here would shuffle the full
    corpus by source, the skewed-key worst case."""
    from pdf2doi_spark.queries import build_queries

    plan = _plan(build_queries()["mixture_sample"](spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_line_dedup_plan_is_bounded(spark, sf_dir):
    """C4-style global line dedup: explode -> first-occurrence window over
    line hash -> reassemble. The plan must stay within its three designed
    shuffles (line-hash window, doc reassembly, ordered output) and never
    degenerate to a cartesian pairing of lines."""
    from pdf2doi_spark.queries import build_queries

    plan = _plan(build_queries()["line_dedup"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 3, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_auto_blocklist_keeps_reused_exchange(spark):
    """VERDICT r4 #3: auto_blocklist mechanizes the skew runbook — a
    planted degenerate bucket (identical boilerplate on hundreds of docs)
    is dropped by a broadcast anti-join BEFORE banding's window guard, so
    the hot key never reaches a window buffer; the residual cap_buckets +
    self-join still sit on ONE reused exchange (the anti-join is
    broadcast, adding no shuffle); and the result is exactly what the
    window-only guard would have produced."""
    from pdf2doi_spark.operators.dedup import (
        auto_blocklist,
        cap_buckets,
        minhash_bands,
    )

    normal = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text").filter(F.col("text").isNotNull())
        .limit(80)
    )
    boiler = spark.range(100_000, 100_300).select(
        F.col("id").alias("doc_id"),
        F.lit("cookie banner accept all reject all privacy policy "
              "terms of service all rights reserved").alias("text"),
    )
    docs = normal.unionByName(boiler)
    keys = ["band_idx", "band_hash"]

    bands = minhash_bands(docs)
    filtered, blocked = auto_blocklist(bands, keys, max_bucket=50)
    assert blocked, "planted degenerate bucket was not detected"
    # the hot key never reaches the window: every surviving bucket is
    # within the cap BEFORE any window buffers it
    biggest = (
        filtered.groupBy(*keys).count().agg(F.max("count")).collect()[0][0]
    )
    assert biggest <= 50
    assert filtered.filter(F.col("doc_id") >= 100_000).count() == 0

    def pairs(b):
        left, right = b.alias("l"), b.alias("r")
        return (
            left.join(
                right,
                (F.col("l.band_idx") == F.col("r.band_idx"))
                & (F.col("l.band_hash") == F.col("r.band_hash"))
                & (F.col("l.doc_id") < F.col("r.doc_id")),
            )
            .select(F.col("l.doc_id").alias("doc_a"),
                    F.col("r.doc_id").alias("doc_b"))
            .distinct()
        )

    guarded = pairs(cap_buckets(filtered, keys, 50))
    got = sorted(map(tuple, guarded.collect()))
    # semantics pinned: identical to the window-only guard
    want = sorted(map(tuple, pairs(cap_buckets(bands, keys, 50)).collect()))
    assert got == want
    # and the banded self-join still reuses ONE exchange
    executed = guarded._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in executed
    assert ("ReusedExchange" in executed) or ("ReusedQueryStage" in executed), (
        executed[:2000]
    )
    # zero hot keys: the input comes back untouched (no join in the plan)
    clean_bands = minhash_bands(normal)
    same, none_blocked = auto_blocklist(clean_bands, keys, max_bucket=10_000)
    assert none_blocked == [] and same is clean_bands


def test_auto_blocklist_refuses_absurd_threshold(spark):
    """More hot keys than max_keys means the threshold is below the
    corpus's NORMAL bucket size — refused loudly, never a silent
    mass-drop."""
    from pdf2doi_spark.operators.dedup import auto_blocklist, minhash_bands

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text").filter(F.col("text").isNotNull())
        .limit(60)
    )
    bands = minhash_bands(docs)
    with pytest.raises(ValueError, match="not skew"):
        auto_blocklist(bands, ["band_idx", "band_hash"],
                       max_bucket=0, max_keys=5)
