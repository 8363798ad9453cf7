"""Custom stateful streaming operator: cross-micro-batch first-seen dedup.

An incremental crawl re-fetches urls; downstream consumers want each url's
extraction exactly once. This operator keeps a per-group "seen" state with
``applyInPandasWithState`` (the Structured Streaming escape hatch for
stateful logic the built-in aggregations can't express) and emits only
rows whose url was never seen in any earlier micro-batch.

Scale design: state is keyed by a shard of the url hash (bounded group
count, ~uniform), and each group's state stores the set of seen url
*hashes* (8-byte ints, not strings) — at 10^12 urls this is still large,
so production bounds state with ``ttl_seconds`` (per-entry processing-time
TTL + ``GroupStateTimeout.ProcessingTimeTimeout`` for idle shards; see
``first_seen_urls``); the exact-set default keeps the test oracle crisp.
"""
from __future__ import annotations

from typing import Any, Iterable, Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from pdf2doi_spark.sources.io import shard_of

N_STATE_SHARDS = 64

DEDUP_OUTPUT_SCHEMA = "url string, warc_ts timestamp, first_seen boolean"
_STATE_SCHEMA = "seen array<long>"


def _dedup_group(
    key: Tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    seen = set(state.get[0]) if state.exists else set()
    out = []
    for pdf in batches:
        mask = []
        for h in pdf["url_hash"]:
            h = int(h)
            if h in seen:
                mask.append(False)
            else:
                seen.add(h)
                mask.append(True)
        fresh = pdf.loc[mask, ["url", "warc_ts"]]
        if len(fresh):
            fresh = fresh.assign(first_seen=True)
            out.append(fresh)
    state.update((list(seen),))
    for o in out:
        yield o


_TTL_STATE_SCHEMA = "seen array<long>, last_ms array<long>"


def _make_ttl_dedup_group(ttl_ms: int):
    """Bounded-state variant (VERDICT r3 #4): state stores (hash, last-seen
    processing time) pairs; entries idle longer than the TTL are evicted at
    every invocation, and a shard that goes fully idle past the TTL has its
    whole state removed by the ProcessingTimeTimeout callback. Tradeoff
    (the reason this is opt-in): a url re-fetched more than ``ttl`` after
    its last sighting is emitted AGAIN — exactly-once becomes
    exactly-once-per-TTL-window, the same contract as
    ``dropDuplicatesWithinWatermark``, in exchange for state bounded by
    the crawl rate × TTL instead of the all-time distinct-url count."""

    def fn(
        key: Tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # idle shard: the whole seen-set aged out
            state.remove()
            return
        now = state.getCurrentProcessingTimeMs()
        if state.exists:
            hashes, stamps = state.get
            seen = {
                int(h): int(t)
                for h, t in zip(hashes, stamps)
                if now - int(t) <= ttl_ms
            }
        else:
            seen = {}
        out = []
        for pdf in batches:
            mask = []
            for h in pdf["url_hash"]:
                h = int(h)
                # re-sighting refreshes the entry (sliding TTL) but is
                # never re-emitted within the window
                mask.append(h not in seen)
                seen[h] = now
            fresh = pdf.loc[mask, ["url", "warc_ts"]]
            if len(fresh):
                out.append(fresh.assign(first_seen=True))
        state.update((list(seen.keys()), list(seen.values())))
        state.setTimeoutDuration(ttl_ms)
        for o in out:
            yield o

    return fn


def first_seen_urls(pages_stream: DataFrame,
                    ttl_seconds: float | None = None) -> DataFrame:
    """Streaming DataFrame → stream of urls never emitted before.

    Groups by a bounded url-hash shard; state per group is the seen-hash
    set. Exactly-once emission per url across all micro-batches.

    ``ttl_seconds`` (production knob): evict seen-hashes idle longer than
    the TTL and time out fully-idle shards, bounding total state to
    ~(crawl rate × TTL) hashes instead of the all-time distinct-url count
    (unbounded at 10^12 urls). A url re-fetched after the TTL is emitted
    again — see ``_make_ttl_dedup_group``. Default ``None`` keeps the
    exact unbounded set.

    Trigger caveat (measured, not theoretical): ``ProcessingTimeTimeout``
    makes Spark's ``shouldRunAnotherBatch`` permanently true (a registered
    timeout could always fire one batch later), so with default confs a
    TTL run never reaches the "no new data" state — ``availableNow``
    schedules empty "cleaning up state" batches forever and even
    ``processAllAvailable()`` blocks forever. For bounded catch-up runs
    set ``spark.sql.streaming.noDataMicroBatches.enabled=false``: timeout
    sweeps then piggyback on data batches only (idle shards are evicted at
    the next batch that carries data, not mid-idle — fine for a dedup
    whose state is only read when data arrives), and both
    ``processAllAvailable()`` and ``availableNow`` terminate normally. A
    24×7 continuous run keeps the default (mid-idle sweeps are what you
    want there). The ``ttl_seconds=None`` exact variant uses ``NoTimeout``
    and composes with ``availableNow`` unconditionally.
    """
    keyed = pages_stream.select(
        "url",
        "warc_ts",
        F.xxhash64("url").alias("url_hash"),
        # long, as the grouping key of existing state checkpoints
        shard_of(N_STATE_SHARDS, "url").cast("long").alias("shard"),
    )
    if ttl_seconds is None:
        return keyed.groupBy("shard").applyInPandasWithState(
            _dedup_group,
            outputStructType=DEDUP_OUTPUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    if ttl_seconds <= 0:
        raise ValueError(f"ttl_seconds must be positive, got {ttl_seconds}")
    return keyed.groupBy("shard").applyInPandasWithState(
        _make_ttl_dedup_group(int(ttl_seconds * 1000)),
        outputStructType=DEDUP_OUTPUT_SCHEMA,
        stateStructType=_TTL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
