"""Optional Apache Iceberg backend for the keyed-table sinks.

The north rule names Iceberg tables as the frontier/corpus substrate.
This sandbox ships no Iceberg runtime jar, so the engine's default
backend is ``ParquetTable`` (sinks/tables.py) — an atomic-swap
delta-parquet emulation of the same single-writer snapshot semantics.
This module makes the design claim executable on a real cluster
WITHOUT code changes: when the active ``SparkSession`` has an Iceberg
catalog configured (``spark.sql.catalog.<name> =
org.apache.iceberg.spark.SparkCatalog`` and the class on the
classpath), :func:`open_table` returns an :class:`IcebergTable` that
implements the exact ``ParquetTable`` write-mode interface with native
``MERGE INTO`` / snapshot time travel; otherwise it returns the
parquet implementation.

Write-mode mapping (DbEntityPipeline.cs:105-138 semantics, same as
ParquetTable):

====================  =============================================
mode                  Iceberg statement
====================  =============================================
``insert``            ``writeTo(t).append()``
``insert_ignore``     ``MERGE ... WHEN NOT MATCHED THEN INSERT *``
``upsert``            ``MERGE ... WHEN MATCHED UPDATE * / INSERT *``
``update``            ``MERGE ... WHEN MATCHED THEN UPDATE SET
                      <update_cols>`` (no NOT MATCHED: unknown keys
                      are dropped, like the reference's ``Update``)
====================  =============================================

Batch-internal duplicate resolution (first/last per key by ``seq_col``)
is shared with ``ParquetTable`` so both backends resolve identically.

Time travel: ``read(snapshot_id=...)`` reads an Iceberg snapshot —
the native form of what ``crawler/timetravel.py`` provides over the
delta-parquet manifests.

No root reaches this module (the crawl loop persists its state as
delta-parquet dirs); it is kept because the ``BASELINE.json`` north rule
names Iceberg tables as the frontier/corpus substrate, and this is the
only Iceberg implementation.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession

from dotnetspider_spark.sinks.tables import ParquetTable

_ICEBERG_CATALOG_CLASSES = (
    "org.apache.iceberg.spark.SparkCatalog",
    "org.apache.iceberg.spark.SparkSessionCatalog",
)


def iceberg_catalog(spark: SparkSession) -> str | None:
    """Name of a usable Iceberg catalog on this session, or None.

    A catalog counts only when BOTH the conf entry exists and its
    implementation class loads (conf without the jar is a
    misconfiguration, not a backend). Checks the RUNTIME SQL conf
    (``SET``) merged over the SparkConf snapshot: catalogs registered
    after session creation (``spark.conf.set(...)``) live only in
    SQLConf and are fully usable — reading just
    ``sparkContext.getConf()`` would silently ignore them.
    """
    try:
        confs = dict(spark.sparkContext.getConf().getAll())
        confs.update(
            (r["key"], r["value"])
            for r in spark.sql("SET").collect()
            if r["key"].startswith("spark.sql.catalog.")
        )
    except Exception:  # pragma: no cover - defensive: session torn down
        return None
    for k, v in confs.items():
        if not k.startswith("spark.sql.catalog."):
            continue
        name = k[len("spark.sql.catalog."):]
        if "." in name:  # sub-keys like spark.sql.catalog.x.type
            continue
        if v in _ICEBERG_CATALOG_CLASSES and _class_loadable(spark, v):
            return name
    return None


def _class_loadable(spark: SparkSession, cls: str) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(cls)  # type: ignore[union-attr]
        return True
    except Exception:
        return False


class IcebergTable:
    """``ParquetTable``-interface adapter over a native Iceberg table.

    ``ident`` is the catalog-qualified table name
    (``<catalog>.<db>.<table>``). The first write creates the table
    (``createOrReplace`` on insert paths when absent).
    """

    def __init__(self, spark: SparkSession, ident: str, key_cols: list[str]):
        assert key_cols
        self.spark = spark
        self.ident = ident
        self.key_cols = list(key_cols)

    # -------------------------------------------------------------- util

    def exists(self) -> bool:
        return self.spark.catalog.tableExists(self.ident)

    def read(self, snapshot_id: int | None = None) -> DataFrame:
        """Current table, or time travel to an Iceberg SNAPSHOT ID via
        the documented ``snapshot-id`` read option. Note this is
        Iceberg's generated long id, NOT the parquet layer's sequential
        iteration number."""
        if snapshot_id is None:
            return self.spark.read.table(self.ident)
        return (
            self.spark.read.option("snapshot-id", snapshot_id)
            .table(self.ident)
        )

    def _dedup(self, df: DataFrame, seq_col: str | None, last: bool) -> DataFrame:
        # identical batch-internal resolution to the parquet backend
        return ParquetTable._first_per_key(self, df, seq_col, last)

    def _merge(self, batch: DataFrame, clauses: str) -> None:
        # a view per call: two merges running at once on one session
        # must not replace each other's source
        src = f"__iceberg_merge_src_{uuid.uuid4().hex}"
        batch.createOrReplaceTempView(src)
        on = " AND ".join(f"t.{k} = s.{k}" for k in self.key_cols)
        try:
            self.spark.sql(
                f"MERGE INTO {self.ident} t USING {src} s ON {on} {clauses}"
            )
        finally:
            self.spark.catalog.dropTempView(src)

    # ------------------------------------------------------------- modes

    def insert(self, df: DataFrame) -> None:
        if not self.exists():
            df.writeTo(self.ident).create()
        else:
            df.writeTo(self.ident).append()

    def insert_ignore(self, df: DataFrame, seq_col: str | None = None) -> None:
        batch = self._dedup(df, seq_col, last=False)
        if not self.exists():
            batch.writeTo(self.ident).create()
            return
        self._merge(batch, "WHEN NOT MATCHED THEN INSERT *")

    def upsert(self, df: DataFrame, seq_col: str | None = None) -> None:
        batch = self._dedup(df, seq_col, last=True)
        if not self.exists():
            batch.writeTo(self.ident).create()
            return
        self._merge(
            batch,
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
        )

    def update(
        self, df: DataFrame, update_cols: list[str], seq_col: str | None = None
    ) -> None:
        cols = self.key_cols + update_cols + ([seq_col] if seq_col else [])
        batch = self._dedup(df.select(*cols), seq_col, last=True)
        if seq_col:
            batch = batch.drop(seq_col)
        sets = ", ".join(f"t.{c} = s.{c}" for c in update_cols)
        # no NOT MATCHED clause: unknown keys dropped (Update mode)
        self._merge(batch, f"WHEN MATCHED THEN UPDATE SET {sets}")


def open_table(
    spark: SparkSession,
    location: str,
    key_cols: list[str],
    backend: str = "auto",
):
    """Backend-selecting factory for keyed sink tables.

    ``backend='auto'``: Iceberg when a configured+loadable catalog
    exists on the session AND ``location`` is a table identifier, else
    delta-parquet. ``location`` is either a filesystem path (contains a
    path separator — always the parquet backend; a path is not a valid
    SQL identifier, so 'auto' must not feed it to a catalog) or a table
    identifier: a full ``catalog.db.table`` or a bare name qualified
    into ``<catalog>.default.<name>``.
    """
    if backend not in ("auto", "iceberg", "parquet"):
        raise ValueError(f"unknown backend {backend!r}")
    is_path = "/" in location or "\\" in location
    cat = (
        iceberg_catalog(spark) if backend in ("auto", "iceberg") else None
    )
    if backend == "iceberg":
        if cat is None:
            raise RuntimeError(
                "Iceberg backend requested but no Iceberg catalog is "
                "configured/loadable on this SparkSession"
            )
        if is_path:
            raise ValueError(
                f"Iceberg backend needs a table identifier, got the "
                f"filesystem path {location!r} — pass 'catalog.db.table' "
                "or a bare table name"
            )
    if cat is not None and not is_path:
        ident = location if "." in location else f"{cat}.default.{location}"
        return IcebergTable(spark, ident, key_cols)
    return ParquetTable(spark, location, key_cols)
