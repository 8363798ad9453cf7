"""Pages sources, the sharded parquet table, the identifier cache, and the
resumable result sink.

North-rule requirements covered here:

* **Scan**: parquet (Iceberg in production — same DataFrame surface) with
  Catalyst predicate/partition pushdown; ``read_pages`` keeps the scan
  declarative so filters like ``lang = 'en'`` or ``warc_ts`` ranges reach
  the file reader (check ``PushedFilters`` in ``.explain``).
* **Sharded table**: ``shard_of`` / ``write_sharded`` / ``read_sharded``
  are the one implementation of the hash-sharded parquet layout that the
  results, the cache and the near-dup index (operators/dedup_index.py)
  all use: one file per shard per write, explicit-schema reads.
* **Identifier cache** (the reference's metadata write-back memoization,
  finders.py:587-608 / main.py:98-100, re-expressed): a small side table
  ``(url, identifier, identifier_type, method)`` merged after each run and
  broadcast-joined as a pre-pass in the next — reruns resolve as method #1
  without touching the kernel. Source rows are never mutated.
* **Resumability** ("resumable from checkpoint with per-partition lineage
  + metrics"): results are written partitioned by a deterministic shard
  ``pmod(xxhash64(url), n_shards)``; each run appends its per-shard status
  + row counters to a manifest. A restarted job reads the manifest and
  processes only missing shards — per-partition lineage without any
  driver state.
"""
from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from pdf2doi_spark.operators.dedup import _cut_observing


# ---------------------------------------------------------------- fs layer
# All cache/manifest side-state goes through the Hadoop FileSystem API, not
# driver-local os.path/open: the production shapes are hdfs:///s3a://
# paths, where os.path.exists is silently False — which would disable the
# cache fast path AND make the merge treat a populated remote cache as
# brand-new (overwriting prior rows in every touched shard). Plain local
# paths route through Hadoop's LocalFileSystem, so sandbox behavior is
# unchanged.

def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def fs_exists(spark: SparkSession, path: str) -> bool:
    fs, hp = _fs(spark, path)
    return bool(fs.exists(hp))


def fs_is_dir(spark: SparkSession, path: str) -> bool:
    fs, hp = _fs(spark, path)
    return bool(fs.exists(hp)) and bool(fs.getFileStatus(hp).isDirectory())


def fs_qualify(spark: SparkSession, path: str) -> Optional[str]:
    """Fully-qualified URI for ``path`` if it exists, else None — the same
    resolution Spark's file sources apply (schemeless paths go to
    ``fs.defaultFS``, NOT necessarily the driver's local disk), so a url
    derived from this matches the ``path`` column binaryFile emits."""
    fs, hp = _fs(spark, path)
    if not fs.exists(hp):
        return None
    return fs.makeQualified(hp).toString()


def _fs_child_names(spark: SparkSession, path: str) -> list:
    fs, hp = _fs(spark, path)
    return [s.getPath().getName() for s in fs.listStatus(hp)]


def _fs_read_small(spark: SparkSession, path: str) -> str:
    fs, hp = _fs(spark, path)
    stream = fs.open(hp)
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()


def _fs_write_small(spark: SparkSession, path: str, content: str) -> None:
    fs, hp = _fs(spark, path)
    out = fs.create(hp, True)
    try:
        out.write(bytearray(content.encode("utf-8")))
    finally:
        out.close()


def _fs_rename(spark: SparkSession, src: str, dst: str) -> None:
    """Atomic-on-a-filesystem rename (HDFS/local are atomic; object
    stores degrade to copy+delete — still one visible switch of ``dst``).
    Raises if the filesystem refuses (e.g. missing ``src``)."""
    fs, hsrc = _fs(spark, src)
    _, hdst = _fs(spark, dst)
    if not fs.rename(hsrc, hdst):
        raise IOError(f"rename {src!r} -> {dst!r} refused by filesystem")


def _rmtree(path: str, spark: SparkSession) -> None:
    fs, hp = _fs(spark, path)
    if fs.exists(hp):
        fs.delete(hp, True)


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    """Read a pages table (parquet dir or file). Projection stays lazy —
    downstream operators select only what they use, so column pruning
    reaches the scan (html is never read for metadata-only queries)."""
    return spark.read.parquet(path)


def read_raw_files(spark: SparkSession, path: str,
                   glob: str = "*.html") -> DataFrame:
    """Raw-file ingestion (reference S1's directory scan, Spark-native):
    ``binaryFile`` source → pages-shaped DataFrame. ``pathGlobFilter``
    replaces the reference's case-insensitive suffix check at the source
    (pushed into file listing, no data read for non-matching files);
    ``modificationTime`` stands in for the crawl timestamp; ``text`` is
    NULL (populated downstream by the main-content stage)."""
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
    )
    return raw.select(
        F.col("path").alias("url"),
        F.col("modificationTime").alias("warc_ts"),
        F.col("content").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
    )


# --------------------------------------------------- sharded parquet table
# Every table the package persists (the resumable results and their
# manifest, the identifier cache, the near-dup index's sigs/postings) is a
# parquet table partitioned by a deterministic hash shard. The three
# functions below are its one implementation.

def shard_of(n: int, *cols: str | F.Column) -> F.Column:
    """Deterministic shard id ``pmod(xxhash64(cols), n)`` as int, the type
    partition discovery gives the column on read-back. xxhash64 is JVM-side
    (whole-stage codegen) and stable across runs and executors."""
    return F.pmod(F.xxhash64(*cols), F.lit(n)).cast("int")


def write_sharded(df: DataFrame, path: str, col: str, mode: str) -> None:
    """Write ``df`` partitioned by ``col``, one file per shard.

    ``mode`` is ``"append"``, ``"overwrite"`` (the whole table) or
    ``"dynamic"``: replace only the shard directories present in ``df``,
    which makes the write idempotent per shard — a recomputed shard
    replaces its directory instead of appending duplicates.

    Rows are hash-distributed on ``col`` before the partitioned write (what
    Iceberg's write.distribution-mode=hash does). Without it every task
    opens a writer in every shard directory it touches — tasks × shards
    files: measured 11,010 files for a 43-task × 256-shard 10M-page run
    with ~90 s of driver-side commit/listing, and 2,048 for a 64-shard
    8.7M-row cache merge (BENCH §6); at the design point (65k shards,
    thousands of tasks) hundreds of millions of files, which no metastore
    survives. After the repartition each shard lands wholly in one task,
    so a write adds exactly one file per shard and commit is O(shards).
    On a ``shard_of`` key the shuffle is uniform by construction.
    """
    writer = df.repartition(F.col(col)).write
    if mode == "dynamic":
        writer = writer.mode("overwrite") \
            .option("partitionOverwriteMode", "dynamic")
    else:
        writer = writer.mode(mode)
    writer.partitionBy(col).parquet(path)


def read_sharded(spark: SparkSession, path: str, schema) -> DataFrame:
    """Read a table at ``path`` with an explicit ``schema`` (DDL string or
    StructType, partition column included); an absent path reads as a
    typed empty frame.

    The schema makes a table with no data files readable — a partitioned
    write of an empty frame leaves only _SUCCESS, and inference over that
    raises UNABLE_TO_INFER_SCHEMA — and it spares every read the footer-
    inference job. ``schema=None`` infers (indexes built before their
    schemas were stored)."""
    if schema is None:
        return spark.read.parquet(path)
    if not fs_exists(spark, path):
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(path)


CACHE_N_SHARDS = 64
CACHE_SCHEMA = ("url string, identifier string, identifier_type string, "
                "method string, shard int")
MANIFEST_SCHEMA = "shard int, status string, n_docs long, n_hits long"


def read_cache(spark: SparkSession,
               path: Optional[str]) -> Optional[DataFrame]:
    """The identifier cache at ``path``, or None when no path is given or
    no cache exists there. The probe goes through the Hadoop FS API: an
    hdfs:///s3a:// cache is invisible to os.path, which would silently
    drop the method-#1 fast path (and make a merge treat a populated cache
    as brand-new)."""
    if not path or not fs_exists(spark, path):
        return None
    return read_sharded(spark, path, CACHE_SCHEMA)


def merge_cache(spark: SparkSession, cache_path: str, results: DataFrame,
                n_shards: int = CACHE_N_SHARDS) -> None:
    """Incremental upsert of found identifiers into the cache table (parquet
    stand-in for Iceberg ``MERGE INTO``): new results win over prior rows
    on url. Only rows NOT resolved from the cache/metadata fast path are
    written, mirroring the reference's gate (main.py:98-100: no write-back
    when found by method #1 or disabled). Returns nothing: read the cache
    with ``read_cache`` when the merged table is needed.

    Scale shape: the cache is stored partitioned by a deterministic url
    shard (``pmod(xxhash64(url), n_shards)`` — the parquet analogue of
    Iceberg's ``bucket(N, url)`` transform), and a merge touches ONLY the
    shards the new urls hash into. The batch is cut eagerly once, and that
    cut's own job names those shards (``dedup._cut_observing``); one
    relation holds the merged rows: the batch rows that differ from their
    stored row (``changed``), plus the stored rows of the touched shards
    whose url is not in ``changed``, restricted to the shards that hold a
    changed row. One dynamic partition overwrite writes
    it in place; untouched shard directories are never read or rewritten,
    and an identical re-merge rewrites none. At a billions-row cache a
    merge therefore costs O(new + touched-shard rows), not a full shuffle +
    full rewrite per run (the round-1 design).

    The in-place write may read the shards it replaces: dynamic overwrite
    stages every task's output under ``<cache>/.spark-staging-<job>`` and
    swaps a shard directory in only at job commit, after every task has
    read. A crash before commit leaves the cache untouched; a crash during
    commit leaves the not-yet-swapped shards in the staging directory for
    recovery. Its leading ``.`` hides it from reads and from the
    flat-layout check.

    ``n_shards`` applies when the cache is CREATED; an existing cache's
    stored shard count (pinned by a ``_pdf2doi_n_shards`` marker) always
    wins. Recomputing shards under a different modulus would anti-join
    against the wrong shard set, leaving a url's stale row alive under its
    old shard id — two rows per url would then fan out every matching page
    in the downstream broadcast join. The marker is written BEFORE the
    merge's first data write (only the one-time flat-layout migration
    precedes it), so a crash can never leave merged shards unpinned.
    """
    marker = cache_path.rstrip("/") + "/_pdf2doi_n_shards"
    pinned = fs_exists(spark, marker)
    if pinned:
        n_shards = int(_fs_read_small(spark, marker).strip())

    # The write reads the batch several times (the anti-join, the union,
    # the shard semi-join); an unmaterialized extraction plan in
    # ``results`` would re-run the whole kernel per read. One eager cut
    # pays ONE extraction pass, and its job also names the touched shards
    # (an empty list: nothing to merge).
    new, touched = _cut_observing(
        results.filter(F.col("identifier").isNotNull())
        .filter(F.col("tier").isNull() | (F.col("tier") >= 0))
        .select("url", "identifier", "identifier_type", "method")
        .dropDuplicates(["url"])
        .withColumn("shard", shard_of(n_shards, "url")),
        shard=F.collect_set("shard"))
    children = (_fs_child_names(spark, cache_path)
                if fs_exists(spark, cache_path) else None)
    if children and any(not c.startswith(("_", ".", "shard="))
                        for c in children):
        # one-time migration of a flat (round-1 layout) cache; flat
        # caches predate the marker, which is written right after
        flat = spark.read.parquet(cache_path).withColumn(
            "shard", shard_of(n_shards, "url")
        )
        flat.write.mode("overwrite").parquet(cache_path + ".mig")
        write_sharded(spark.read.parquet(cache_path + ".mig"),
                      cache_path, "shard", "overwrite")
        _rmtree(cache_path + ".mig", spark)
    if not pinned and (touched or children is not None):
        # no cache and nothing to write leaves no directory behind;
        # otherwise the marker precedes the first data write
        _fs_write_small(spark, marker, str(n_shards))
    if not touched:
        return
    old = read_sharded(spark, cache_path, CACHE_SCHEMA).filter(
        F.col("shard").isin(touched)
    )
    # Rows ALREADY in the cache with identical values are no-ops —
    # dropping them first makes an idempotent re-merge (job restart,
    # recrawl of an unchanged corpus) rewrite ZERO shards instead of
    # re-churning every shard its hits map into. Null-safe equality:
    # identifier_type/method can be NULL, and NULL = NULL is never
    # true under plain equality, so such rows would count as "new"
    # and re-churn their shard on every merge forever.
    cols = ("url", "identifier", "identifier_type", "method", "shard")
    old_cmp = old.select(*[F.col(c).alias(f"_old_{c}") for c in cols])
    same = [new[c].eqNullSafe(old_cmp[f"_old_{c}"]) for c in cols]
    cond = same[0]
    for c in same[1:]:
        cond = cond & c
    changed = new.join(old_cmp, cond, "left_anti")
    # new rows win on url; only shards holding a changed row are kept,
    # so the dynamic write below replaces exactly those directories. Only
    # the stored side is restricted (changed rows hold changed shards by
    # definition): were both union branches joined on shard, the union
    # would claim a shard partitioning that AQE's per-branch coalescing
    # does not keep, the planner would drop write_sharded's repartition
    # as redundant, and a shard could land in two files.
    merged = (
        old.join(changed.select("url"), on="url", how="left_anti")
        .join(changed.select("shard").distinct(), on="shard",
              how="left_semi")
        .unionByName(changed)
    )
    write_sharded(merged, cache_path, "shard", "dynamic")


def completed_shards(spark: SparkSession, manifest_path: str) -> set:
    if not fs_exists(spark, manifest_path):
        return set()
    rows = read_sharded(spark, manifest_path, MANIFEST_SCHEMA)
    return {r["shard"] for r in rows.filter(F.col("status") == "done")
            .select("shard").distinct().collect()}


def run_resumable(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    n_shards: int = 16,
    replace_arxiv: bool = True,
    cache: Optional[DataFrame] = None,
    strict_sealed: Optional[bool] = None,
) -> DataFrame:
    """Extraction with per-shard checkpointed lineage.

    Results land in ``{out_dir}/results`` partitioned by shard; the
    manifest at ``{out_dir}/manifest`` records (shard, status, n_docs,
    n_hits). On restart, shards already marked done are filtered out of the
    *input* (a pushed-down pmod filter), so completed work is never
    recomputed — the sandbox stand-in for Iceberg snapshot-based restart.
    Each run APPENDS one manifest file holding only its own shards, after
    its data write: the shards it wrote, plus zero-count rows for the
    not-yet-done shards no input url hashed into. A run that dies before
    that append leaves its shards pending, and the restart's dynamic
    overwrite recomputes them idempotently.

    ``n_shards`` applies on the FIRST run; a restart always resumes under
    the modulus pinned in ``{out_dir}/_n_shards``. A restart under a
    different modulus would skip-filter a DIFFERENT row set than the one
    the manifest recorded as done (silent loss) while leaving the old
    shard partitions alive next to recomputed ones (duplicates).

    **Write-once contract**: ``out_dir`` belongs to ONE logical input. Once
    every shard is marked done the directory is sealed — a later call
    returns the stored results AS OF the run that sealed it and never
    re-examines the input (checking would cost the full input scan the
    O(1) restart exists to avoid). Point a grown/changed input at a fresh
    ``out_dir``; the sealed short-circuit logs a warning to make a stale
    reuse visible.

    ``strict_sealed``: unattended/scheduled jobs can't read warnings — pass
    ``True`` (or set ``PDF2DOI_SPARK_STRICT_SEALED=1`` in the env) to make
    the sealed short-circuit RAISE instead, so a crawl pointed at an old
    ``--output`` fails loudly rather than silently reprocessing nothing.
    """
    from pdf2doi_spark.operators.extract import RESULT_SCHEMA, extract_identifiers

    results_path = os.path.join(out_dir, "results")
    manifest_path = os.path.join(out_dir, "manifest")
    # "shard int" matches partition discovery, so a typed empty frame and
    # a stored table never disagree on the schema
    results_schema = RESULT_SCHEMA + ", shard int"
    marker = out_dir.rstrip("/") + "/_n_shards"
    if fs_exists(spark, marker):
        n_shards = int(_fs_read_small(spark, marker).strip())
    else:
        _fs_write_small(spark, marker, str(n_shards))

    done = completed_shards(spark, manifest_path)
    if len(done) >= n_shards:
        # every shard already recorded done: a restart must cost O(1), not
        # a full input re-scan for an empty extraction pass. See the
        # write-once contract above — this returns the SEALED results.
        if strict_sealed is None:
            strict_sealed = os.environ.get(
                "PDF2DOI_SPARK_STRICT_SEALED", ""
            ).strip().lower() in ("1", "true", "yes")
        msg = (
            f"run_resumable: {out_dir} is sealed (all {n_shards} shards "
            "done); stored results would be returned without consulting "
            "the input. Use a fresh out_dir if the input has changed."
        )
        if strict_sealed:
            raise RuntimeError(msg + " (strict_sealed is set)")
        import warnings

        warnings.warn(msg, stacklevel=2)
        return read_sharded(spark, results_path, results_schema)
    sharded = pages.withColumn("shard", shard_of(n_shards, "url"))
    if done:
        sharded = sharded.filter(~F.col("shard").isin(*sorted(done)))

    if sharded.isEmpty():
        # THIS run observed zero pending input rows — never seal on that.
        # The probe is a limit-1 job (first-file footer at 100 TB, so
        # effectively free on the normal path), and it keys the guard on
        # the run's own observation rather than on stored data: a stored-
        # data check would let a crashed-partial first run followed by a
        # retry with a mistyped (empty) input glob slip past the guard and
        # zero-backfill every shard 'done', permanently sealing partial
        # results (round-3 review). The most common cause of an all-empty
        # pending input is that mistyped path/glob, which must stay loudly
        # retryable with the same out_dir once corrected.
        import warnings

        warnings.warn(
            f"run_resumable: pending input is empty; {out_dir} was NOT "
            "sealed (no manifest written) — check the input path/glob and "
            "rerun.",
            stacklevel=2,
        )
        return read_sharded(spark, results_path, results_schema)

    pending = extract_identifiers(
        sharded.select("url", "html", "text"), replace_arxiv=replace_arxiv, cache=cache
    ).withColumn("shard", shard_of(n_shards, "url"))
    # The kernel runs pre-shuffle at the input's parallelism; the shard
    # shuffle moves RESULT rows (post-kernel, ≤ input bytes).
    write_sharded(pending, results_path, "shard", "dynamic")
    results = read_sharded(spark, results_path, results_schema)

    # Manifest derived from the data itself, after it (never ahead of it);
    # counters = the per-partition lineage metrics the north rule asks for.
    # Only this run's shards are counted — the shard filter prunes to their
    # partition directories, so a restart never re-scans the results of
    # shards whose manifest rows already exist (at 100 TB that re-scan
    # would dominate every incremental run). This run covered every
    # not-yet-done shard, so one with no rows had no input urls hashing
    # into it — record it done (n_docs 0) too, or the O(1) restart
    # short-circuit above would never fire for inputs that leave some of
    # the n_shards buckets empty.
    todo = spark.range(n_shards).select(F.col("id").cast("int").alias("shard"))
    fresh = results
    if done:
        todo = todo.filter(~F.col("shard").isin(*sorted(done)))
        fresh = results.filter(~F.col("shard").isin(*sorted(done)))
    counts = fresh.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count("identifier").alias("n_hits"),
    )
    (
        todo.join(counts, "shard", "left")
        .select("shard", F.lit("done").alias("status"),
                F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
                F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"))
        .coalesce(1)
        .write.mode("append").parquet(manifest_path)
    )
    return results


def write_bucketed(df: DataFrame, table: str, n_buckets: int = 256,
                   key: str = "url") -> None:
    """Persist a table bucketed+sorted on the join key (Spark-native
    bucketing; Iceberg analogue: ``bucket(N, url)`` partition transform).

    The 100 TB co-location story: the pages table and the identifier cache
    are both written bucketed by ``url``, so the cache pre-join (and any
    MERGE) plans as a SortMergeJoin with ZERO Exchange — neither side of a
    petabyte join ever shuffles (tests/test_plans.py::
    test_bucketed_cache_join_is_shuffle_free pins the plan).
    """
    (
        df.write.bucketBy(n_buckets, key)
        .sortBy(key)
        .mode("overwrite")
        .saveAsTable(table)
    )


def resolve_pages_source(spark: SparkSession, target: str,
                         glob: str = "*.html") -> DataFrame:
    """Single router from a user-facing target to a pages-shaped DataFrame
    (shared by the library entry and the CLI so their behavior can never
    drift):

    * ``table:<identifier>`` → catalog table scan via
      ``spark.read.table`` — THE Iceberg lane: on a cluster with the
      Iceberg runtime jar and a configured catalog
      (``--conf spark.sql.catalog.cc=org.apache.iceberg.spark.SparkCatalog``
      …), ``--input table:cc.crawl.pages`` reads the Iceberg pages table
      with full partition pruning / snapshot semantics; the identifier
      is explicit (never guessed from a path-looking string), and the
      SAME code path serves plain managed/temp tables, which is how the
      lane is pinned by tests in this jar-less sandbox;
    * a ``.warc`` / ``.warc.gz`` FILE (the normal Common Crawl unit) or a
      directory containing WARC archives → ``read_warc``;
    * a directory of parquet files → pages-table scan;
    * any other directory → raw-file (``binaryFile``) ingestion of ``glob``;
    * anything else → pages-table scan (parquet path).
    """
    if target.startswith("table:"):
        return spark.read.table(target[len("table:"):])
    low = target.rstrip("/").lower()
    if low.endswith(".warc") or low.endswith(".warc.gz"):
        from pdf2doi_spark.sources.warc import read_warc

        return read_warc(spark, target)
    # Directory probe goes through the Hadoop FS API (not os.path): a
    # directory of WARCs or raw HTML on hdfs:///s3a:// would otherwise be
    # invisible to os.path.isdir and fall through to the parquet branch.
    if fs_is_dir(spark, target):
        entries = _fs_child_names(spark, target)
        if any(e.endswith(".parquet") or e == "_SUCCESS" for e in entries):
            return read_pages(spark, target)
        if any(".warc" in e for e in entries):
            from pdf2doi_spark.sources.warc import read_warc

            return read_warc(spark, target)
        return read_raw_files(spark, target, glob=glob)
    return read_pages(spark, target)
