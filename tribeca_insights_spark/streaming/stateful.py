"""Custom stateful streaming operator — cross-batch first-seen dedup via
``applyInPandasWithState`` (task brief: "applyInPandasWithState for custom
stateful operators").

A crawl stream revisits urls (refetches, mirrors, replayed WARCs); exactly
one record per url should enter the extraction pipeline no matter how many
micro-batches apart the duplicates arrive. Built-in
``dropDuplicatesWithinWatermark`` bounds state by event time; this operator
is the unbounded-key variant with explicit per-key state (a seen flag),
the template for richer custom state (per-domain rate stats, incremental
TF, crawl frontier).

Emission semantics (append-mode constraint): within one micro-batch the
emitted ``first_ts`` is the MIN ``warc_ts`` across the whole batch and
``n_batch_dups`` counts that batch's duplicates; across micro-batches the
FIRST-ARRIVING batch wins — an append sink cannot retract an emitted row,
so later batches only mark state and emit nothing. Callers needing a
global min across batches should aggregate downstream of the sink.

State sizing at 10^12 urls: group key IS the url, so state lives in the
state store partitioned by ``spark.sql.shuffle.partitions`` — size that to
the key cardinality, or key by ``xxhash64(url)`` to keep keys fixed-width.
For OPEN-ENDED streams, unbounded per-url state eventually exhausts the
store; ``dedup_first_seen(ttl_ms=...)`` bounds it with a processing-time
timeout — semantics weaken from exactly-once-per-url to at-least-once-per-
TTL-window (a url re-arriving after its state expired is emitted again,
exactly like a cache miss). Pick the TTL at the crawl-revisit horizon.
"""

from __future__ import annotations

from functools import partial
from typing import Iterator, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "url string, first_ts timestamp, n_batch_dups long"
STATE_SCHEMA = "seen long"


def _first_seen(
    key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState,
    ttl_ms: Optional[int] = None,
) -> Iterator[pd.DataFrame]:
    if state.hasTimedOut:
        # TTL expiry callback: drop the seen flag; the next arrival of this
        # url re-emits (documented at-least-once-per-TTL semantics)
        state.remove()
        return
    n = 0
    first = None
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        # a group's micro-batch may arrive as several Arrow chunks — take
        # the min across ALL of them, not the head of the first
        m = pdf["warc_ts"].min()
        if first is None or m < first:
            first = m
        n += len(pdf)
    if n == 0:
        return
    if state.exists:  # url already emitted in an earlier micro-batch
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)  # refresh TTL on re-arrival
        return
    state.update((1,))
    if ttl_ms is not None:
        state.setTimeoutDuration(ttl_ms)
    yield pd.DataFrame(
        {
            "url": [key[0]],
            "first_ts": [first],
            "n_batch_dups": [n - 1],
        }
    )


def dedup_first_seen(stream: DataFrame,
                     ttl_ms: Optional[int] = None) -> DataFrame:
    """Streaming (url, warc_ts, …) → one row per url, first occurrence
    wins across micro-batches; per-url state persists in the checkpoint.

    ``ttl_ms``: optional processing-time state TTL. Default (None) keeps
    state forever — exact first-seen, state grows with distinct urls; with
    a TTL, state for a url is evicted ``ttl_ms`` after its last arrival and
    a later re-arrival is emitted again (at-least-once per TTL window) —
    the bounded-state mode an open-ended crawl stream needs. With a TTL,
    Spark runs a batch on every trigger to fire timeouts, so the query
    never goes idle: under ``Trigger.AvailableNow`` it never terminates
    and ``processAllAvailable()`` never returns. Watch its progress
    (``recentProgress``) and ``stop()`` it."""
    return (
        stream.select("url", "warc_ts")
        .groupBy("url")
        .applyInPandasWithState(
            partial(_first_seen, ttl_ms=ttl_ms),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=(
                GroupStateTimeout.NoTimeout
                if ttl_ms is None
                else GroupStateTimeout.ProcessingTimeTimeout
            ),
        )
    )


RL_OUTPUT_SCHEMA = (
    "event_id long, host long, tsu long, n_recent long, allowed boolean"
)
RL_STATE_SCHEMA = "recent array<long>"


def _rate_limit(
    key: Tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    window_us: int,
    capacity: int,
) -> Iterator[pd.DataFrame]:
    rows = [p for p in pdfs if len(p)]
    if not rows:
        return
    batch = pd.concat(rows).sort_values(["tsu", "event_id"])
    recent = list(state.get[0]) if state.exists else []
    out_eid, out_ts, out_n, out_ok = [], [], [], []
    for eid, tsu in zip(batch["event_id"], batch["tsu"]):
        lo = int(tsu) - window_us + 1
        # pruning below `lo` is safe for every LATER arrival too: their
        # windows start even higher (rows walk in ascending tsu order)
        recent = [t for t in recent if t >= lo]
        n = sum(1 for t in recent if t <= int(tsu) - 1)
        out_eid.append(int(eid))
        out_ts.append(int(tsu))
        out_n.append(n)
        out_ok.append(n < capacity)
        recent.append(int(tsu))
    state.update((recent,))
    yield pd.DataFrame(
        {
            "event_id": out_eid,
            "host": [key[0]] * len(out_eid),
            "tsu": out_ts,
            "n_recent": out_n,
            "allowed": out_ok,
        }
    )


def rate_limit_log(
    stream: DataFrame,
    window_us: int,
    capacity: int,
) -> DataFrame:
    """Streaming per-host SLIDING-LOG rate limiter via
    ``applyInPandasWithState`` — the crawl-politeness admission gate at
    ingest: request ``e`` is admitted iff fewer than ``capacity``
    requests for the same host arrived with timestamps in
    ``[e.tsu − window + 1, e.tsu − 1]`` (the standard sliding-log rule;
    same-microsecond ties do not block each other, matching a RANGE
    window's exclusive peer handling).

    The verdict is a PURE function of the per-host event sequence —
    no processing-time dependence — so a batch RANGE-window oracle
    replays it exactly however the stream is micro-batched (the same
    stream≡batch equivalence contract as stream_dedup_gate/q211).
    State per host is the arrival log inside the trailing window —
    bounded by window × peak rate, pruned on every arrival; hosts
    partition across the state store like every keyed stateful op.

    Input columns: (event_id long, host long, tsu long — event-time
    epoch micros). Output: one row per event with (n_recent, allowed).
    """
    return (
        stream.select("event_id", "host", "tsu")
        .groupBy("host")
        .applyInPandasWithState(
            partial(_rate_limit, window_us=window_us, capacity=capacity),
            outputStructType=RL_OUTPUT_SCHEMA,
            stateStructType=RL_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
