"""File pipelines — per-identity directory layout sinks.

Reference: ``FilePipeline`` writes one ``.dsd`` text file per result
under ``{BaseDirectory}/data/{Identity}/`` with ``key:\tvalue`` lines
(FilePipeline.cs:34-70); ``JsonFilePipeline`` appends one JSON object
per result to ``{base}/json/{Identity}.json`` (JsonFilePipeline.cs:38-57).

Spark-first re-expression: ``partitionBy(identity)`` IS the per-identity
directory layout (``{path}/identity=X/part-*``), written distributed —
each task streams its own partition files, no driver funnel, and the
layout is partition-prunable on read-back (a query for one spider run's
output scans only its directory). The reference's one-file-per-result /
single-appended-file shapes are single-writer bottlenecks at 10^10 rows;
part-files per identity preserve the contract that matters (all of an
identity's results live under its own directory, line-per-result) while
staying parallel.

No entry point imports this module yet; it is kept because SURVEY.md
(§2.8, line 263) maps File/JsonFilePipeline to it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_json_pipeline(
    df: DataFrame,
    path: str,
    identity_col: str = "identity",
    mode: str = "append",
) -> None:
    """JsonFilePipeline analog: JSON-lines per result, one directory per
    identity (JsonFilePipeline.cs:38-57)."""
    df.write.partitionBy(identity_col).mode(mode).json(path)


def write_file_pipeline(
    df: DataFrame,
    path: str,
    identity_col: str = "identity",
    url_col: str = "url",
    mode: str = "append",
) -> None:
    """FilePipeline analog: ``key:\tvalue`` text lines per result, one
    directory per identity (FilePipeline.cs:34-70). Each result row
    renders as a ``url:`` header line plus one line per non-key column,
    rows separated by a blank line (the multi-file ``.dsd`` boundary
    re-expressed as a record separator inside parallel part files)."""
    value_cols = [c for c in df.columns if c not in (identity_col, url_col)]
    lines = [F.concat(F.lit("url:\t"), F.col(url_col).cast("string"))]
    for c in value_cols:
        lines.append(
            F.concat(
                F.lit(f"{c}:\t"),
                F.coalesce(F.col(c).cast("string"), F.lit("")),
            )
        )
    rendered = df.select(
        F.col(identity_col),
        F.concat_ws("\n", *lines, F.lit("")).alias("value"),
    )
    rendered.write.partitionBy(identity_col).mode(mode).text(path)
