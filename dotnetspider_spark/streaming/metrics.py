"""Streaming crawl telemetry — the continuous monitor-flush analog.

The reference's monitor flushes ``{success, error, avgDownloadSpeed,
avgProcessorSpeed, ...}`` counters every N handled requests
(Spider.cs:1500-1518,1524-1538; LogMonitor/HttpMonitor). The batch loop
already records per-iteration metrics rows, observed on the write of
its fact log (crawler/loop.py ``fetched/iter=N``); this module is the
CONTINUOUS view of the same telemetry for a long-running deployment
where fetch events land as a stream:

- :func:`windowed_host_metrics` — per-host tumbling/sliding event-time
  windows with a WATERMARK bounding state: late fetch events within the
  watermark still land in their window; older ones are dropped and the
  window state is released (the property that keeps the state store
  bounded when 10^10 events flow through). Note Spark's documented
  one-sided guarantee: events behind the watermark are dropped for
  certain only once the watermark has PROPAGATED — late-event filtering
  uses the previous micro-batch's watermark while state eviction uses
  the current one (SPARK-40925), so an event arriving in the very batch
  that finalizes its window may still merge.
- :func:`sessionize_hosts` — a CUSTOM STATEFUL operator
  (``applyInPandasWithState``): gap-based per-host fetch sessions, the
  streaming twin of the batch ``sessionize_gap`` query. State per host
  is three scalars (open-session start / last-seen / count) no matter
  how many events pass — the state store never holds events.

Both transforms are written against plain DataFrames, so the SAME code
path runs in a batch job (unit-testable, oracle-checkable) and under
``readStream`` (watermark + state semantics active). Tests drive them
through a real file-source stream with ``availableNow`` triggers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

#: fetch-event stream shape: one row per fetched URL (the loop's
#: ``fetched`` columns that telemetry needs — never html/bytes payloads)
FETCH_EVENT_SCHEMA = StructType(
    [
        StructField("host", StringType()),
        StructField("url", StringType()),
        StructField("ts", TimestampType()),
        StructField("status", IntegerType()),
        StructField("n_bytes", LongType()),
        StructField("fetch_ms", LongType()),
    ]
)


def windowed_host_metrics(
    events: DataFrame,
    window: str = "1 minute",
    slide: str | None = None,
    watermark: str = "2 minutes",
) -> DataFrame:
    """Per-host per-window fetch telemetry with late-data handling.

    Success = any 2xx/3xx after redirects (Downloader.cs:57-64); errors
    are everything else, mirroring the scheduler's success/error
    counters (QueueDuplicateRemovedScheduler.cs:110-131). On a stream
    the watermark both admits late events (within ``watermark``) and
    bounds the state store; on a batch frame ``withWatermark`` is a
    no-op and the same expression is a plain windowed groupBy — the
    batch twin IS the streaming query, so one oracle pins both.
    """
    # NULL status (e.g. a timeout that never got an HTTP response) is an
    # ERROR: without the coalesce, a null propagates through both sums
    # and the worst failures vanish from the error counter. Success =
    # 2xx ONLY — the same predicate as the batch loop's _status_ok
    # (crawler/loop.py): fetchers follow redirects internally, so a
    # FINAL 3xx means the redirect budget ran out / no Location, which
    # the loop counts as an error — the streaming view must agree
    is_ok = F.coalesce(
        (F.col("status") >= 200) & (F.col("status") < 300), F.lit(False)
    )
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("win"), "host")
        .agg(
            F.count("*").alias("n_fetched"),
            F.sum(is_ok.cast("long")).alias("n_success"),
            F.sum((~is_ok).cast("long")).alias("n_error"),
            F.sum("n_bytes").alias("bytes"),
            F.avg("fetch_ms").alias("avg_fetch_ms"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "host",
            "n_fetched",
            "n_success",
            "n_error",
            "bytes",
            "avg_fetch_ms",
        )
    )


SESSION_SCHEMA = StructType(
    [
        StructField("host", StringType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n", LongType()),
    ]
)


def sessionize_hosts(events: DataFrame, gap_s: int = 30) -> DataFrame:
    """Gap-based per-host fetch sessions as a custom stateful operator.

    A session CLOSES when the next same-host event arrives more than
    ``gap_s`` after the previous one (the batch ``sessionize_gap``
    query's rule); the closed session is emitted and the new event
    opens the next one. State per host is (start, last, count) — three
    longs regardless of event volume, the shape that survives 10^10
    events. The still-open tail session stays in state (never emitted)
    until a later same-host event closes it — a host's tail is, by
    definition, a session that may still grow; a deployment that wants
    tails flushed on idle would switch ``timeoutConf`` to
    ``ProcessingTimeTimeout`` and emit on ``state.hasTimedOut``.
    Closed-session rows are identical between the batch and streaming
    runs, which is what the test pins.
    """
    import pandas as pd

    gap_us = gap_s * 1_000_000

    def fn(key, pdf_iter, state):
        host = key[0]
        if state.exists:
            start_us, last_us, n = state.get
        else:
            start_us, last_us, n = None, None, 0
        out = []
        all_ts = pd.concat([pdf["ts"] for pdf in pdf_iter]).sort_values()
        for ts in all_ts:
            us = int(ts.value // 1000)  # pandas ns -> epoch micros
            if last_us is not None and us <= last_us:
                # LATE event (batches are sorted internally, but an event
                # in a later micro-batch can predate the open session's
                # last-seen): merge into the open session WITHOUT moving
                # its boundaries backward — session_end >= session_start
                # stays invariant and counts stay monotone
                n += 1
                continue
            if last_us is not None and us - last_us > gap_us:
                out.append((host, start_us, last_us, n))
                start_us, n = us, 0
            elif last_us is None:
                start_us = us
            last_us = us
            n += 1
        state.update((start_us, last_us, n))
        if out:
            yield pd.DataFrame(
                {
                    "host": [o[0] for o in out],
                    "session_start": pd.to_datetime(
                        [o[1] for o in out], unit="us"
                    ),
                    "session_end": pd.to_datetime([o[2] for o in out], unit="us"),
                    "n_events": [o[3] for o in out],
                }
            )

    return events.groupBy("host").applyInPandasWithState(
        fn,
        outputStructType=SESSION_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )
