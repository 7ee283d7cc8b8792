"""Streaming admission control — politeness + dedup on the live path.

The batch loop enforces politeness by BUDGET (top-k per host per
iteration, operators/frontier.select_fetch_batch) because a BSP
iteration has no wall-clock inside it. A streaming deployment does:
requests flow continuously, so the per-host rule becomes the
reference's literal semantics — at most one send per host per
``delay_ms`` window (Spider.cs:181,805 sleeps SleepTime per worker
thread between requests; here the throttle is the distributed twin).

- :func:`throttle_hosts` — CUSTOM STATEFUL operator
  (``applyInPandasWithState``): per-host minimum-spacing gate. State
  per host is ONE long (the next-allowed send time) no matter how many
  requests pass — the state store stays host-cardinality-bounded at
  10^10 requests. Admitted timestamps per host are strictly increasing
  by construction (an admit requires ts >= next_allowed > previous
  admit), so the spacing invariant survives out-of-order arrivals
  without the operator having to sort across micro-batches.
- :func:`stream_request_dedup` — bounded-state streaming dedup via
  ``dropDuplicatesWithinWatermark``: drops identity duplicates whose
  first sighting is within the watermark horizon. This is the HOT-PATH
  filter only; the durable, exact seen-set remains the batch anti-join
  against the seen table (crawler/loop.py) — the stream layer exists to
  keep obvious dupes out of the fetch queue without unbounded state.

Both run identically under ``readStream`` (state/watermark active) and
are pinned by tests through a real file-source stream with per-file
micro-batches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

#: throttle output: every input request, tagged admitted/denied
THROTTLE_SCHEMA = StructType(
    [
        StructField("host", StringType()),
        StructField("url", StringType()),
        StructField("ts", TimestampType()),
        StructField("admitted", BooleanType()),
    ]
)

_THROTTLE_STATE = StructType([StructField("next_allowed_us", LongType())])


def throttle_hosts(requests: DataFrame, delay_ms: int = 100) -> DataFrame:
    """Tag each request admitted/denied under a per-host minimum send
    spacing of ``delay_ms``. Within a micro-batch requests are
    processed in (ts, url) order — url as the tie-break so replays are
    byte-deterministic; across micro-batches only the one-long state
    carries. A denied request is the caller's to re-enqueue (the batch
    frontier keeps it; denial here is back-pressure, not loss).
    """
    import pandas as pd

    delay_us = delay_ms * 1000

    def fn(key, pdf_iter, state):
        host = key[0]
        next_allowed = state.get[0] if state.exists else None
        frames = list(pdf_iter)
        if not frames:
            return
        batch = pd.concat(frames).sort_values(["ts", "url"])
        admitted = []
        for ts in batch["ts"]:
            us = int(ts.value // 1000)  # pandas ns -> epoch micros
            ok = next_allowed is None or us >= next_allowed
            if ok:
                next_allowed = us + delay_us
            admitted.append(ok)
        state.update((next_allowed,))
        yield pd.DataFrame(
            {
                "host": host,
                "url": batch["url"].values,
                "ts": batch["ts"].values,
                "admitted": admitted,
            }
        )

    return requests.groupBy("host").applyInPandasWithState(
        fn,
        outputStructType=THROTTLE_SCHEMA,
        stateStructType=_THROTTLE_STATE,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def stream_request_dedup(
    requests: DataFrame,
    identity_col: str = "identity",
    ts_col: str = "ts",
    horizon: str = "10 minutes",
) -> DataFrame:
    """First sighting of each identity within the watermark horizon
    passes; later duplicates are dropped. State is bounded: an identity
    older than the horizon is evicted (and would pass again) — which is
    exactly why this layer PRUNES and the batch seen-table anti-join
    remains authoritative. ``horizon`` trades state size against how
    long a duplicate storm stays filtered."""
    return requests.withWatermark(ts_col, horizon).dropDuplicatesWithinWatermark(
        [identity_col]
    )
