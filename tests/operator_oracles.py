"""Per-operator query/oracle pairs that only pytest runs.

The driver gate checks the fused production queries in
``pdf2doi_spark.queries._BUILDERS`` (``quality_suite``, ``exact_dedup``,
``minhash_near_dups``, ``doc_signals``, ...). The builders here check each
operator on its own against an exact DuckDB oracle, so a mismatch names the
operator rather than the fused query it feeds. Same shape as ``_BUILDERS``:
each returns ``(query_fn, oracle_sql_or_None)``.
"""
from pyspark.sql import DataFrame, SparkSession, functions as F

from pdf2doi_spark.queries import (
    _BUILDERS, _DOI_SQL, _DUP_INPUT_SQL, _REPETITION_SQL,
    _compression_oracle_values, _docs, _dup_graph, _dup_input, _minhash_sql,
    _rep_text, _tier_query,
)


def _doc_cols(*cols):
    """Query over the documents table projecting ``doc_id`` plus ``cols``
    (each a function of the ``text`` column)."""
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        text = F.col("text")
        return _docs(spark, sf_dir).select(
            F.col("doc_id"), *[c for mk in cols for c in mk(text)]
        )
    return q


def _q_doi_tier1():
    return _tier_query(
        1,
        lambda doi: F.concat(F.lit("bare "), doi, F.lit(" follows")),
        f"'bare ' || {_DOI_SQL} || ' follows'",
    )


def _q_doi_tier2():
    return _tier_query(
        2,
        lambda doi: F.concat(F.lit("runon "), doi, F.lit("and more")),
        f"'runon ' || {_DOI_SQL} || 'and more'",
    )


def _q_doi_tier3():
    return _tier_query(
        3,
        lambda doi: F.concat(F.lit("at https://doi.org/"), doi, F.lit(" now")),
        f"'at https://doi.org/' || {_DOI_SQL} || ' now'",
    )


def _q_doi_tier4():
    return _tier_query(4, lambda doi: doi, _DOI_SQL)


def _q_ascii_scrub():
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pdf2doi_spark.operators.quality import ascii_scrub_col

        noisy = F.concat(F.col("text"), F.lit(" café\tnoise\nrésumé—"),
                         F.col("doc_id").cast("string"))
        return _docs(spark, sf_dir).select(
            F.col("doc_id"), ascii_scrub_col(noisy)
        )

    sql = r"""
        SELECT doc_id,
               substring(
                 translate(
                   regexp_replace(text || ' café' || chr(9) || 'noise' || chr(10) || 'résumé—' || CAST(doc_id AS VARCHAR),
                                  '[^\x00-\x7f]', ' ', 'g'),
                   chr(10) || chr(13) || chr(9), '   '),
                 1, 1000) AS scrubbed_text
        FROM documents
    """
    return q, sql


def _q_token_count():
    from pdf2doi_spark.operators.quality import token_count_cols

    sql = r"""
        SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
               len(regexp_extract_all(trim(text), '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]')) AS n_bpe_tokens,
               CAST(ceil(length(regexp_replace(trim(text), '\s+', '', 'g')) / 4.0) AS BIGINT) AS n_subword_est
        FROM documents
    """
    return _doc_cols(token_count_cols), sql


def _q_lang_id():
    from pdf2doi_spark.operators.quality import lang_id_cols

    banks = {
        "en": "['the','a','and','of','to']",
        "fr": "['le','la','et','les','des']",
        "es": "['el','los','que','y','las']",
        "de": "['der','die','das','und','nicht']",
        "zh": "['的','是','了','在','我']",
    }
    ratio_exprs = ",\n               ".join(
        f"CASE WHEN len(toks) > 0 THEN len(list_filter(toks, x -> list_contains({b}, x))) * 1.0 / len(toks) ELSE 0.0 END AS r_{lang}"
        for lang, b in banks.items()
    )
    case_arms = " ".join(
        f"WHEN r_{lang} >= best AND best > 0.02 THEN '{lang}'" for lang in banks
    )
    sql = rf"""
        WITH t AS (
          SELECT doc_id,
                 CASE WHEN length(trim(text)) = 0 THEN []
                      ELSE regexp_split_to_array(lower(trim(text)), '\s+') END AS toks
          FROM documents
        ), r AS (
          SELECT doc_id,
               {ratio_exprs}
          FROM t
        ), b AS (
          SELECT *, greatest(r_en, r_fr, r_es, r_de, r_zh) AS best FROM r
        )
        SELECT doc_id,
               round(r_en, 6) AS en_marker_ratio,
               round(best, 6) AS best_marker_ratio,
               CASE {case_arms} ELSE 'other' END AS lang_pred
        FROM b
    """
    return _doc_cols(lang_id_cols), sql


def _q_quality_score():
    from pdf2doi_spark.operators.quality import quality_score_cols

    sql = r"""
        WITH t AS (
          SELECT doc_id, text,
                 CASE WHEN length(trim(text)) = 0 THEN []
                      ELSE regexp_split_to_array(lower(trim(text)), '\s+') END AS toks,
                 length(text) AS n_chars,
                 length(text) - length(regexp_replace(text, '[\.,;:!\?\)\(]', '', 'g')) AS punct,
                 length(regexp_replace(trim(text), '\s+', '', 'g')) AS nospace
          FROM documents
        ), m AS (
          SELECT doc_id, n_chars, len(toks) AS n_tokens,
                 CASE WHEN len(toks) > 0 THEN nospace * 1.0 / len(toks) ELSE 0.0 END AS mean_wl,
                 CASE WHEN len(toks) > 0
                      THEN len(list_filter(toks, x -> list_contains(['the','a','and','of','to'], x))) * 1.0 / len(toks)
                      ELSE 0.0 END AS stop_ratio,
                 CASE WHEN n_chars > 0 THEN punct * 1.0 / n_chars ELSE 0.0 END AS punct_ratio
          FROM t
        )
        SELECT doc_id,
               n_chars AS n_chars_seen,
               n_tokens,
               round(mean_wl, 6) AS mean_word_len,
               round(stop_ratio, 6) AS stopword_ratio,
               round(punct_ratio, 6) AS punct_ratio,
               round((CASE WHEN n_tokens >= 10 AND mean_wl >= 2.0 AND mean_wl <= 12.0 THEN 0.5 ELSE 0.0 END)
                   + (CASE WHEN stop_ratio > 0.01 THEN 0.3 ELSE 0.0 END)
                   + (CASE WHEN punct_ratio < 0.2 THEN 0.2 ELSE 0.0 END), 2) AS quality_score
        FROM m
    """
    return _doc_cols(quality_score_cols), sql


def _q_fingerprint():
    from pdf2doi_spark.operators.quality import norm_text

    sql = r"""
        SELECT doc_id,
               md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        FROM documents
    """
    return _doc_cols(lambda t: [F.md5(norm_text(t)).alias("fp")]), sql


def _q_repetition_signals():
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pdf2doi_spark.operators.quality import repetition_cols

        return _docs(spark, sf_dir).select(
            F.col("doc_id"), *repetition_cols(_rep_text())
        )

    return q, _REPETITION_SQL


def _q_compression_ratio():
    """zlib ratio against values precomputed by the same ``zlib_ratio``
    outside Spark; the join against the live ``documents`` view turns a
    wrong scale into a row-count failure, never a false pass."""
    from pdf2doi_spark.operators.quality import zlib_ratio_col

    q = _doc_cols(lambda t: [zlib_ratio_col(t).alias("compression_ratio")])
    vals = _compression_oracle_values()
    sql = None
    if vals is not None:
        sql = (
            "SELECT d.doc_id, v.compression_ratio "
            f"FROM documents d JOIN {vals} ON v.doc_id = d.doc_id"
        )
    return q, sql


def _q_exact_dup_groups():
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pdf2doi_spark.operators.dedup import exact_duplicates

        return exact_duplicates(_dup_input(spark, sf_dir))

    sql = rf"""
        SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
               count(*) AS n_docs,
               min(doc_id) AS keeper_doc_id
        FROM ({_DUP_INPUT_SQL})
        GROUP BY 1 HAVING count(*) > 1 ORDER BY fp
    """
    return q, sql


def _q_dedup_survivors():
    """Survivors of exact dedup on the doubled input: min doc_id per
    fingerprint; null-text docs all survive."""
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pdf2doi_spark.operators.dedup import distinct_documents

        return distinct_documents(_dup_input(spark, sf_dir)).orderBy("doc_id")

    sql = rf"""
        WITH inp AS ({_DUP_INPUT_SQL}),
        fp AS (
          SELECT doc_id,
                 md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
          FROM inp
        )
        SELECT min(doc_id) AS doc_id, fp FROM fp
        WHERE fp IS NOT NULL GROUP BY fp
        UNION ALL
        SELECT doc_id, fp FROM fp WHERE fp IS NULL
        ORDER BY doc_id
    """
    return q, sql


def _q_minhash_bands():
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pdf2doi_spark.operators.dedup import minhash_bands

        return minhash_bands(_docs(spark, sf_dir))

    sql = "WITH " + _minhash_sql() + " SELECT * FROM bands"
    return q, sql


def _q_minhash_bucket_profile():
    """Bucket-size histogram of the band join's shuffle key over the
    doubled input — the skew audit run before picking a max_bucket cap."""
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pdf2doi_spark.operators.dedup import minhash_bucket_profile

        return minhash_bucket_profile(_dup_input(spark, sf_dir))

    sql = "WITH " + _minhash_sql(f"({_DUP_INPUT_SQL})") + r""", sizes AS (
          SELECT band_idx, band_hash, count(*) AS bucket_size
          FROM bands GROUP BY band_idx, band_hash
        )
        SELECT bucket_size, count(*) AS n_buckets
        FROM sizes GROUP BY bucket_size ORDER BY bucket_size DESC
    """
    return q, sql


def _q_dup_components():
    """Min-label propagation over ``dup_components_star``'s graph, against
    the same recursive-CTE oracle: both algorithms reach one fixpoint."""
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pdf2doi_spark.operators.dedup import connected_components

        return connected_components(_dup_graph(spark, sf_dir))

    return q, _BUILDERS["dup_components_star"]()[1]


def _q_approx_stats_sketch():
    """Raw sketch estimates (HLL distinct counts, approx percentile):
    engine-specific values, so rows-only here; the tolerance is pinned by
    tests/test_operators.py::test_approx_stats_tolerance."""
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        return (
            _docs(spark, sf_dir).groupBy("source")
            .agg(
                F.approx_count_distinct("text").alias("approx_distinct_texts"),
                F.approx_count_distinct("doc_id").alias("approx_distinct_ids"),
                F.round(
                    F.percentile_approx(F.length("text"), F.lit(0.5), F.lit(1000)),
                    5,
                ).alias("approx_median_len"),
            )
            .orderBy("source")
        )

    return q, None


OPERATOR_BUILDERS = {
    "doi_tier1": _q_doi_tier1,
    "doi_tier2": _q_doi_tier2,
    "doi_tier3": _q_doi_tier3,
    "doi_tier4": _q_doi_tier4,
    "ascii_scrub": _q_ascii_scrub,
    "token_count": _q_token_count,
    "lang_id": _q_lang_id,
    "quality_score": _q_quality_score,
    "doc_fingerprint": _q_fingerprint,
    "repetition_signals": _q_repetition_signals,
    "compression_ratio": _q_compression_ratio,
    "exact_dup_groups": _q_exact_dup_groups,
    "dedup_survivors": _q_dedup_survivors,
    "minhash_bands": _q_minhash_bands,
    "minhash_bucket_profile": _q_minhash_bucket_profile,
    "dup_components": _q_dup_components,
    "approx_stats_sketch": _q_approx_stats_sketch,
}
