"""Simulate the driver's correctness gate: run every queries() entry at
sf0.01 and compare against its oracle_sql() via DuckDB — row count, column
names, and order-insensitive value equality."""
import math
import os
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod

SF01 = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ducks():
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF01}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)

    def norm_cell(v):
        if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
            return tuple(norm_cell(x) for x in v)
        if isinstance(v, float):
            if math.isnan(v):
                return None
            return round(v, 5)
        if hasattr(v, "isoformat"):  # Timestamp: drop ns/us dtype divergence
            return v.isoformat()
        if type(v).__module__ == "numpy":  # int32 vs int64 etc.
            return v.item()
        return v

    for c in df.columns:
        df[c] = df[c].map(norm_cell).astype(object)
    return df.sort_values(list(df.columns), key=lambda s: s.map(str)).reset_index(drop=True)


# The full builder set (driver registry + the pytest-only oracles of
# operators no driver query covers + the per-operator pairs in
# tests/operator_oracles.py): every oracle comparison runs here, whether
# or not the name occupies one of the driver gate's 50 rows.
from pdf2doi_spark.queries import _BUILDERS
from tests.operator_oracles import OPERATOR_BUILDERS

ALL_BUILDERS = {**_BUILDERS, **OPERATOR_BUILDERS}
QUERIES = {name: builder()[0] for name, builder in ALL_BUILDERS.items()}
ORACLES = {name: sql for name, builder in ALL_BUILDERS.items()
           if (sql := builder()[1]) is not None}
PYTEST_ONLY = {"incremental_near_dups", "latest_capture", "chunk_documents",
               "domain_curation"}


def test_driver_registry_fits_gate_cap():
    """The driver's correctness gate records at most 50 rows; round 2
    registered 62 queries and silently left 12 unchecked. Pin the
    consolidated registry: <=50 entries, every driver oracle is the same
    SQL the full set carries, and the full set is exactly the driver
    names plus the four pytest-only oracles (nothing else lingers)."""
    drv_q = entrymod.queries()
    drv_o = entrymod.oracle_sql()
    assert len(drv_q) <= 50
    assert set(_BUILDERS) == set(drv_q) | PYTEST_ONLY
    assert not set(drv_q) & PYTEST_ONLY
    assert not set(_BUILDERS) & set(OPERATOR_BUILDERS)
    assert set(drv_o) <= set(drv_q)
    for name, sql in drv_o.items():
        assert ORACLES[name] == sql


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {
        "url", "identifier", "identifier_type", "method", "tier",
        "validation_info", "extracted_text"
    }


def test_every_query_has_callable():
    assert len(QUERIES) >= 20
    for name in ORACLES:
        assert name in QUERIES


@pytest.mark.parametrize("name", sorted(QUERIES.keys()))
def test_query_vs_oracle(spark, ducks, name):
    got = QUERIES[name](spark, SF01).toPandas()
    if name not in ORACLES:
        assert len(got) >= 0  # rows-only check, mirroring the driver
        return
    want = ducks.execute(ORACLES[name]).df()
    assert len(got) == len(want), f"{name}: rows {len(got)} vs {len(want)}"
    assert sorted(got.columns) == sorted(want.columns), (
        f"{name}: cols {sorted(got.columns)} vs {sorted(want.columns)}"
    )
    g, w = _canon(got), _canon(want)
    if not g.equals(w):
        diff_mask = (g != w) & ~(g.isna() & w.isna())
        bad = diff_mask.any(axis=1)
        raise AssertionError(
            f"{name}: value mismatch\nspark:\n{g[bad].head(5)}\nduck:\n{w[bad].head(5)}"
        )


def test_incremental_near_dups_frames_outlive_their_index(spark, ducks):
    """The ``incremental_near_dups`` builder indexes into a private temp
    dir and removes it before returning: two frames built back to back
    both collect to the oracle rows, and no index dir is left behind."""
    import glob
    import tempfile

    pattern = os.path.join(tempfile.gettempdir(), "pdf2doi_incr_idx_*")
    before = set(glob.glob(pattern))
    query, sql = _BUILDERS["incremental_near_dups"]()
    first, second = query(spark, SF01), query(spark, SF01)
    want = _canon(ducks.execute(sql).df())
    for df in (first, second):
        assert _canon(df.toPandas()).equals(want)
    assert set(glob.glob(pattern)) <= before, "index dir left behind"
