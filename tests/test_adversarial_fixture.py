"""Driver-gate queries re-run over an ADVERSARIAL mini documents table —
rows the deterministic sf fixtures never contain (short texts, empty and
whitespace-only strings, NBSP-joined tokens, exact duplicates, unicode).
Sources are named src1-3 so mixture_sample's fixed targets hit them
(non-vacuous). Every oracle must still match exactly: this is the guard against
divergences that are latent on the well-behaved synthetic data (the round-2
review found several of that species).

Deliberately excluded: vertical tab (\x0B) and astral codepoints — the
Java-vs-RE2 dialect skew on those is documented as a pinned limitation in
queries.py's module docstring.
"""
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.test_driver_contract import _canon

ROWS = [
    (0, "The quick brown fox jumps over the lazy dog near the bank today.", "en", "src1"),
    (1, "tiny", "en", "src1"),                      # <3 words, <12 chars
    (2, "", "en", "src2"),                           # empty text
    (3, "   \t  \n ", "en", "src2"),                # whitespace-only
    (4, "hello world foo bar baz qux quux corge grault", "fr", "src1"),  # NBSP-joined token
    (5, "The quick brown fox jumps over the lazy dog near the bank today.", "en", "src3"),  # dup of 0
    (6, "Ein längerer deutscher Satz, der die Wörter und nicht nur Zeichen prüft.", "de", "src3"),
    (7, "word " * 40 + "ending.", "en", "src1"),    # highly repetitive
    (8, "10.1234/j.adversarial.1 appears right here in plain text body", "en", "src2"),
    (9, "a b", "en", "src3"),                        # 2 words: below shingle floor
]

# Queries over the documents table only (the fixture has no
# embeddings/events views): driver queries plus the per-operator pairs of
# tests/operator_oracles.py. doc_signals is checked separately below: its
# compression oracle inlines sf0.01 values that don't apply to these rows.
CHECKED = [
    "title_select", "ngram_jaccard", "token_count", "lang_id",
    "quality_score", "doc_fingerprint", "exact_dup_groups", "simhash",
    "simhash_near_dups", "line_dedup", "winnowing_sketch",
    "minhash_bands", "minhash_near_dups", "repetition_signals",
    "corpus_pipeline", "doi_tier0", "ascii_scrub", "hash_sample",
    "metrics_cube", "distinct_counts", "pack_sequences", "mixture_sample",
    "quality_suite", "exact_dedup", "approx_stats",
]


@pytest.fixture(scope="module")
def adv_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("adv"))
    df = spark.createDataFrame(
        [(i, t, lang, src, len(t)) for i, t, lang, src in ROWS],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.coalesce(1).write.parquet(f"{d}/documents.parquet")
    return d


@pytest.fixture(scope="module")
def adv_duck(adv_dir):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{adv_dir}/documents.parquet/*.parquet')"
    )
    return con


@pytest.mark.parametrize("name", CHECKED)
def test_adversarial_query_vs_oracle(spark, adv_dir, adv_duck, name):
    from tests.test_driver_contract import ALL_BUILDERS

    q, sql = ALL_BUILDERS[name]()
    if sql is None:
        pytest.skip("rows-only query")
    got = q(spark, adv_dir).toPandas()
    want = adv_duck.execute(sql).df()
    assert len(got) == len(want), f"{name}: rows {len(got)} vs {len(want)}"
    assert sorted(got.columns) == sorted(want.columns)
    g, w = _canon(got), _canon(want)
    if not g.equals(w):
        diff_mask = (g != w) & ~(g.isna() & w.isna())
        bad = diff_mask.any(axis=1)
        raise AssertionError(
            f"{name}: value mismatch\nspark:\n{g[bad].head(5)}\nduck:\n{w[bad].head(5)}"
        )


def test_adversarial_doc_signals_repetition(spark, adv_dir, adv_duck):
    """doc_signals' repetition columns vs their SQL oracle on the
    adversarial rows (empty, whitespace-only, highly repetitive text); the
    zlib column is pinned at the oracle scale and by
    test_operators.py::test_compression_ratio_discriminates."""
    from pdf2doi_spark.queries import _BUILDERS, _REPETITION_SQL

    got = _BUILDERS["doc_signals"]()[0](spark, adv_dir) \
        .drop("compression_ratio").toPandas()
    want = adv_duck.execute(_REPETITION_SQL).df()
    assert len(got) == len(want) == len(ROWS)
    assert sorted(got.columns) == sorted(want.columns)
    g, w = _canon(got), _canon(want)
    assert g.equals(w), f"doc_signals repetition mismatch:\n{g}\n{w}"


# ------------------------------------------------------ adversarial events

EVENT_ROWS = [
    # user 1: gap EXACTLY 1800s (same session: rule is strictly > 1800s),
    # then 1800.000001s (new session) — the fractional boundary a
    # whole-seconds implementation gets wrong
    (1, "2024-01-01 00:00:00.000000", 1, "view", 1.0),
    (2, "2024-01-01 00:30:00.000000", 1, "click", 2.0),
    (3, "2024-01-01 01:00:00.000001", 1, "purchase", 3.0),
    # user 2: tied timestamps (dedup/order stability) + single event
    (4, "2024-01-01 00:10:00.500000", 2, "view", 1.5),
    (5, "2024-01-01 00:10:00.500000", 2, "view", 1.5),
    (6, "2024-01-01 00:10:00.500000", 2, "click", 0.5),
    # user 3: single event exactly on a 10-minute window boundary
    (7, "2024-01-01 00:20:00.000000", 3, "view", 9.9),
    # user 4: purchase BEFORE click (ordered funnel must not count it)
    (8, "2024-01-01 00:00:01.000000", 4, "view", 1.0),
    (9, "2024-01-01 00:00:02.000000", 4, "purchase", 5.0),
    (10, "2024-01-01 00:00:03.000000", 4, "click", 1.0),
]


@pytest.fixture(scope="module")
def adv_events_dir(spark, adv_dir):
    df = spark.createDataFrame(
        [(i, t, u, e, v, "{}") for i, t, u, e, v in EVENT_ROWS],
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    )
    from pyspark.sql import functions as F

    df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    df.coalesce(1).write.parquet(f"{adv_dir}/events.parquet")
    return adv_dir


@pytest.fixture(scope="module")
def adv_events_duck(adv_events_dir):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{adv_events_dir}/events.parquet/*.parquet')"
    )
    return con


@pytest.mark.parametrize("name", ["sessionize", "funnel", "events_windowed"])
def test_adversarial_events_vs_oracle(spark, adv_events_dir, adv_events_duck, name):
    from pdf2doi_spark.queries import _BUILDERS

    q, sql = _BUILDERS[name]()
    got = q(spark, adv_events_dir).toPandas()
    want = adv_events_duck.execute(sql).df()
    assert len(got) == len(want), f"{name}: rows {len(got)} vs {len(want)}"
    g, w = _canon(got), _canon(want)
    assert g.equals(w), f"{name} mismatch:\n{g}\n{w}"


def test_adversarial_session_boundaries(spark, adv_events_dir):
    """Pin the semantics directly: exactly-1800s gap continues the
    session; 1800.000001s starts a new one."""
    from pdf2doi_spark.queries import _BUILDERS

    q, _ = _BUILDERS["sessionize"]()
    rows = q(spark, adv_events_dir).filter("user_id = 1").collect()
    assert [(r["session_idx"], r["n_events"]) for r in rows] == [(1, 2), (2, 1)]
