"""pdf2doi_spark — a PySpark-native identifier-and-content extraction engine.

From-scratch rebuild of the query/data-processing capabilities of
MicheleCotrufo/pdf2doi (reference read-only at /root/reference) as a
distributed extraction pipeline over Common-Crawl-style pages tables
(url, warc_ts, html, text, lang). Architecture is Spark-first: DataFrame
plans optimized by Catalyst, with the sequential first-match-wins
extraction semantics confined to Arrow-batched pandas UDFs that import
the pure-Python core in ``pdf2doi_spark.core``.
"""

__version__ = "0.1.0"

from pdf2doi_spark.config import config  # noqa: F401  (reference surface)


def pdf2doi(target: str, spark=None, cache: str = None,
            replace_arxiv: bool = None, with_text: bool = True):
    """Library entry mirroring the reference's ``pdf2doi.pdf2doi(target)``
    (EP2, reference ``main.py:12``): point it at a corpus, get back the
    per-document identifier results — here as a DataFrame instead of a
    list of dicts (the reference's folder loop IS the table scan).

    ``target`` routing (the reference's directory/file branch, generalized
    — shared with the CLI via ``sources.io.resolve_pages_source``):
      * a ``.warc``/``.warc.gz`` file, or a directory of WARC archives →
        WARC ingestion;
      * a directory of parquet files → pages-table scan;
      * any other directory → raw-file (``binaryFile``) ingestion of
        ``*.html``;
      * a parquet file/path → pages-table scan.

    ``cache``: optional identifier-cache table path — broadcast-joined in
    as the method-#1 fast path (the reference's write-back memoization);
    new hits are NOT auto-merged here (use ``cli.py``/``job.py`` for the
    write side — a library read should not mutate state).
    """
    from pdf2doi_spark.operators.extract import extract_identifiers
    from pdf2doi_spark.session import build_session
    from pdf2doi_spark.sources.io import read_cache, resolve_pages_source

    if replace_arxiv is None:  # fall back to the reference-parity registry
        replace_arxiv = bool(config.get("replace_arxivID_by_DOI_when_available"))
    if spark is None:
        spark = build_session()
    pages = resolve_pages_source(spark, target)
    return extract_identifiers(
        pages, replace_arxiv=replace_arxiv, with_text=with_text,
        cache=read_cache(spark, cache),
    )
