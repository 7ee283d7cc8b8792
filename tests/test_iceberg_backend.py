"""Optional Iceberg backend (sinks/iceberg.py).

The sandbox ships no Iceberg runtime jar, so the native legs SKIP with
an explicit reason; what runs everywhere is (a) backend auto-detection
returning the delta-parquet implementation with zero behavior drift,
(b) the shared batch-dedup resolution both backends use, and (c) the
MERGE statements the Iceberg adapter would issue (text-level pin, so a
future cluster run starts from a known-correct statement shape).
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from dotnetspider_spark.sinks.iceberg import (
    IcebergTable,
    iceberg_catalog,
    open_table,
)
from dotnetspider_spark.sinks.tables import ParquetTable


def _events(spark):
    return spark.createDataFrame(
        [(1, "a", 10, 100), (1, "b", 11, 101), (2, "c", 12, 102)],
        "k int, v string, x int, seq int",
    )


def _have_iceberg(spark) -> bool:
    return iceberg_catalog(spark) is not None


def test_sandbox_has_no_iceberg_and_auto_falls_back(spark, tmp_path):
    assert iceberg_catalog(spark) is None
    t = open_table(spark, str(tmp_path / "t"), ["k"])
    assert isinstance(t, ParquetTable)
    with pytest.raises(RuntimeError, match="no Iceberg catalog"):
        open_table(spark, str(tmp_path / "t"), ["k"], backend="iceberg")
    with pytest.raises(ValueError):
        open_table(spark, str(tmp_path / "t"), ["k"], backend="bogus")


@pytest.mark.parametrize("backend", ["parquet", "iceberg"])
def test_write_modes_identical_across_backends(spark, tmp_path, backend):
    """The ParquetTable-interface contract, parameterized per round-4
    verdict task 3: identical mode semantics on both backends."""
    if backend == "iceberg" and not _have_iceberg(spark):
        pytest.skip("no Iceberg runtime jar in this sandbox; leg runs "
                    "on clusters with spark.sql.catalog configured")
    t = open_table(spark, str(tmp_path / "modes"), ["k"],
                   backend=backend if backend == "iceberg" else "auto")
    t.insert_ignore(_events(spark), seq_col="seq")
    assert {r.k: r.v for r in t.read().collect()} == {1: "a", 2: "c"}
    t.upsert(
        spark.createDataFrame(
            [(2, "z", 99, 300), (4, "e", 14, 301)],
            "k int, v string, x int, seq int",
        ),
        seq_col="seq",
    )
    got = {r.k: (r.v, r.x) for r in t.read().collect()}
    assert got == {1: ("a", 10), 2: ("z", 99), 4: ("e", 14)}
    t.update(
        spark.createDataFrame(
            [(1, "VV", 0, 1), (9, "nope", 0, 2)],
            "k int, v string, x int, seq int",
        ),
        update_cols=["v"],
        seq_col="seq",
    )
    got = {r.k: (r.v, r.x) for r in t.read().collect()}
    assert got[1] == ("VV", 10)  # x untouched
    assert 9 not in got  # Update mode drops unknown keys


def test_shared_batch_dedup_resolution(spark):
    """IcebergTable delegates batch-internal duplicate resolution to the
    SAME code ParquetTable uses — both backends must resolve a batch
    identically before the storage layer sees it. Instantiating the
    adapter needs no catalog."""
    it = IcebergTable(spark, "cat.default.t", ["k"])
    first = {r.k: r.v for r in
             it._dedup(_events(spark), "seq", last=False).collect()}
    last = {r.k: r.v for r in
            it._dedup(_events(spark), "seq", last=True).collect()}
    assert first == {1: "a", 2: "c"} and last == {1: "b", 2: "c"}


def test_merge_statement_shapes(spark, monkeypatch):
    """Pin the exact MERGE text per mode (the part a sandbox cannot
    execute) so the cluster path is reviewable and regression-gated."""
    it = IcebergTable(spark, "cat.db.frontier", ["k", "host"])
    issued = []
    monkeypatch.setattr(
        it.spark.__class__, "sql",
        lambda self, q, **kw: issued.append(" ".join(q.split())) or _events(spark),
        raising=True,
    )
    monkeypatch.setattr(it.__class__, "exists", lambda self: True)
    df = _events(spark).withColumn("host", F.lit("h"))
    it.insert_ignore(df, seq_col="seq")
    it.upsert(df, seq_col="seq")
    it.update(df, update_cols=["v"], seq_col="seq")
    # each call merges from its own temp view, dropped afterwards, so
    # concurrent merges cannot replace each other's source
    srcs = [re.search(r"USING (\S+) s ", q).group(1) for q in issued]
    assert len(set(srcs)) == 3
    for src in srcs:
        assert re.fullmatch(r"__iceberg_merge_src_[0-9a-f]{32}", src)
        assert not spark.catalog.tableExists(src)
    on = "ON t.k = s.k AND t.host = s.host"
    assert issued == [
        f"MERGE INTO cat.db.frontier t USING {srcs[0]} s {on} "
        "WHEN NOT MATCHED THEN INSERT *",
        f"MERGE INTO cat.db.frontier t USING {srcs[1]} s {on} "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
        f"MERGE INTO cat.db.frontier t USING {srcs[2]} s {on} "
        "WHEN MATCHED THEN UPDATE SET t.v = s.v",
    ]


def test_open_table_routes_paths_to_parquet_even_in_auto(spark, tmp_path):
    # review fix: a filesystem path is not a valid SQL identifier; on a
    # catalog-equipped cluster 'auto' must still route paths to the
    # parquet backend instead of building 'cat.default./tmp/...'
    p = str(tmp_path / "run.1" / "t")  # dotted path — not an identifier
    t = open_table(spark, p, ["k"], backend="auto")
    assert isinstance(t, ParquetTable)


def test_iceberg_read_uses_snapshot_id_option(spark, monkeypatch):
    # pin the documented Iceberg read option name ('snapshot-id', not
    # Delta's 'versionAsOf') without needing the runtime jar
    it = IcebergTable(spark, "cat.db.t", ["k"])
    calls = {}

    class FakeReader:
        def option(self, k, v):
            calls[k] = v
            return self

        def table(self, ident):
            calls["table"] = ident
            return "df"

    monkeypatch.setattr(
        spark.__class__, "read", property(lambda self: FakeReader()),
        raising=True,
    )
    assert it.read(snapshot_id=12345) == "df"
    assert calls == {"snapshot-id": 12345, "table": "cat.db.t"}
