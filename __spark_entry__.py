"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship extraction cascade on the sf0.001 pages
table (synthesised deterministically from documents.parquet — see
pdf2doi_spark/pages.py). ``queries()``/``oracle_sql()`` expose every
implemented operator from SURVEY.md §2 plus the training-data-pipeline
family; oracles are exact DuckDB SQL wherever the semantics are
SQL-expressible (including the flagship cascade itself, whose synthetic
input makes the expected output closed-form).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: identifier + main-content extraction over the
    sf0.001 pages table; one fused Arrow kernel, no driver-side loops."""
    from pdf2doi_spark.operators.extract import extract_identifiers
    from pdf2doi_spark.pages import pages_from_documents
    from pdf2doi_spark.session import ship_package

    ship_package(spark)
    pages = pages_from_documents(spark, "/root/testdata/sf0.001")
    return extract_identifiers(pages)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from pdf2doi_spark.queries import build_queries

    return build_queries()


def oracle_sql() -> dict[str, str]:
    from pdf2doi_spark.queries import build_oracles

    return build_oracles()
