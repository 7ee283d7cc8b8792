"""Structured Streaming fetch telemetry (streaming/metrics.py): the
windowed per-host metrics and the gap-session operator, each driven
through a real file-source stream with one file per micro-batch."""

from __future__ import annotations


def _write_events(spark, path, rows, mtime):
    """One parquet file of fetch events with a forced mtime so the file
    source's modification-time ordering is deterministic."""
    import os

    from dotnetspider_spark.streaming.metrics import FETCH_EVENT_SCHEMA

    df = spark.createDataFrame(
        [
            (h, f"http://{h}/p/{i}", ts, st, nb, ms)
            for i, (h, ts, st, nb, ms) in enumerate(rows)
        ],
        FETCH_EVENT_SCHEMA,
    )
    df.coalesce(1).write.parquet(str(path))
    for root, _dirs, files in os.walk(path):
        for f in files:
            os.utime(os.path.join(root, f), (mtime, mtime))


def test_windowed_metrics_stream_matches_batch_and_drops_late(spark, tmp_path):
    """Per-host windowed fetch telemetry: the streaming run (file source,
    one file per micro-batch) emits the same finalized windows as the
    batch twin, and an event older than the watermark is DROPPED —
    the state-bounding property."""
    from datetime import datetime as dt

    from dotnetspider_spark.streaming.metrics import (
        FETCH_EVENT_SCHEMA,
        windowed_host_metrics,
    )

    ev_dir = tmp_path / "events"
    ev_dir.mkdir()
    t = lambda s: dt.fromisoformat(f"2024-01-01 00:{s}")
    # batch 1: two on-time fetches + one far-future row that pushes the
    # watermark (2 min) past the first window's end
    _write_events(
        spark,
        ev_dir / "f1",
        [
            ("a.example", t("00:10"), 200, 1000, 50),
            ("a.example", t("00:20"), 503, 0, 80),
            ("a.example", t("10:00"), 200, 500, 40),
        ],
        mtime=1_700_000_000,
    )
    # batch 2: innocuous on-time row. The watermark advanced by f1's
    # 00:10:00 row takes effect for EVICTION this batch (the first
    # window finalizes here) but — per SPARK-40925 — late-event
    # FILTERING uses the previous batch's watermark, so a drop is only
    # guaranteed one batch later.
    _write_events(
        spark,
        ev_dir / "f2",
        [("a.example", t("10:30"), 200, 7, 9)],
        mtime=1_700_000_050,
    )
    # batch 3: a first-window event now older than the (propagated)
    # watermark -> guaranteed drop; it must neither resurrect the closed
    # window (duplicate append row) nor change its finalized counts
    _write_events(
        spark,
        ev_dir / "f3",
        [("a.example", t("00:30"), 200, 9999, 10)],
        mtime=1_700_000_100,
    )

    stream = (
        spark.readStream.schema(FETCH_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{ev_dir}/*")
    )
    q = (
        windowed_host_metrics(stream, window="1 minute", watermark="2 minutes")
        .writeStream.format("memory")
        .queryName("winmetrics")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM winmetrics").collect()
    first = [
        r for r in rows
        if r.window_start.isoformat() == "2024-01-01T00:00:00"
        and r.host == "a.example"
    ]
    # exactly ONE finalized row for the first window, with ONLY the
    # on-time events: the f3 row (00:00:30, behind the watermark) was
    # dropped — bytes would read 11999 had it merged
    assert len(first) == 1
    r = first[0]
    assert (r.n_fetched, r.n_success, r.n_error, r.bytes) == (2, 1, 1, 1000)
    emitted = {
        (x.window_start.isoformat(), x.host): (x.n_fetched, x.n_success, x.n_error)
        for x in rows
    }

    # batch twin over the ON-TIME rows agrees (same code path)
    batch = windowed_host_metrics(
        spark.read.schema(FETCH_EVENT_SCHEMA).parquet(f"{ev_dir}/f1"),
        window="1 minute",
    )
    b = {
        (r.window_start.isoformat(), r.host): (r.n_fetched, r.n_success, r.n_error)
        for r in batch.collect()
    }
    assert b[("2024-01-01T00:00:00", "a.example")] == emitted[
        ("2024-01-01T00:00:00", "a.example")
    ]


def test_sessionize_hosts_state_survives_micro_batches(spark, tmp_path):
    """Custom stateful operator: gap sessions close correctly when the
    closing event arrives in a LATER micro-batch (state store carries
    the open session across triggers); the still-open tail session is
    not emitted."""
    from datetime import datetime as dt

    from dotnetspider_spark.streaming.metrics import (
        FETCH_EVENT_SCHEMA,
        sessionize_hosts,
    )

    ev_dir = tmp_path / "events"
    ev_dir.mkdir()
    t = lambda s: dt.fromisoformat(f"2024-01-01 00:{s}")
    # batch 1: session A1 (2 events, 10s apart) then a 50s gap -> A2 opens
    _write_events(
        spark,
        ev_dir / "f1",
        [
            ("a.example", t("00:00"), 200, 10, 5),
            ("a.example", t("00:10"), 200, 10, 5),
            ("a.example", t("01:00"), 200, 10, 5),
            ("b.example", t("00:05"), 200, 10, 5),
        ],
        mtime=1_700_000_000,
    )
    # batch 2: 60s after A2's event -> closes A2 (proves state carry)
    _write_events(
        spark,
        ev_dir / "f2",
        [("a.example", t("02:00"), 200, 10, 5)],
        mtime=1_700_000_100,
    )
    # batch 3: a LATE event (01:30 <= open session's last-seen 02:00)
    # must merge into the open session WITHOUT moving its boundaries
    # backward, then 03:00 closes it — emitted as [02:00, 02:00] n=2,
    # never end-before-start
    _write_events(
        spark,
        ev_dir / "f3",
        [
            ("a.example", t("01:30"), 200, 10, 5),
            ("a.example", t("03:00"), 200, 10, 5),
        ],
        mtime=1_700_000_200,
    )

    stream = (
        spark.readStream.schema(FETCH_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{ev_dir}/*")
    )
    q = (
        sessionize_hosts(stream, gap_s=30)
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.host, r.session_start.isoformat(), r.session_end.isoformat(), r.n_events)
        for r in spark.sql("SELECT * FROM sessions").collect()
    }
    assert got == {
        ("a.example", "2024-01-01T00:00:00", "2024-01-01T00:00:10", 2),
        ("a.example", "2024-01-01T00:01:00", "2024-01-01T00:01:00", 1),
        ("a.example", "2024-01-01T00:02:00", "2024-01-01T00:02:00", 2),
    }  # late 01:30 merged into [02:00] without corrupting boundaries;
    #    open tails (a@03:00, b@00:05) not emitted
