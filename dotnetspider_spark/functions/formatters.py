"""The reference's 17 field formatters as Spark column expressions.

Reference: ``src/DotnetSpider.Extraction/Model/Formatter/*.cs`` (833 LoC,
applied per extracted field at ``ModelExtractor.cs:132-149``). Each C#
class becomes a small factory returning a Column — all built-in, codegen'd
expressions except html_decode (no built-in; Arrow pandas UDF).

Base-class semantics (``Formatter.cs``): a null input short-circuits to
``value_when_null``. ``chain()`` reproduces the formatter list application
order.
"""

from __future__ import annotations

from functools import lru_cache

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def with_null_default(col: Column, value_when_null: str | None) -> Column:
    """Formatter.cs base behavior: null -> ValueWhenNull."""
    if value_when_null is None:
        return col
    return F.coalesce(col, F.lit(value_when_null))


def replace_fmt(col: Column, old: str, new: str) -> Column:
    """ReplaceFormatter.cs — literal replace."""
    return F.replace(col, F.lit(old), F.lit(new))


def regex_fmt(
    col: Column,
    pattern: str,
    true_value: str | None = None,
    false_value: str | None = None,
    group: int = -1,
) -> Column:
    """RegexFormatter.cs:40-58 — match maps to True/False values, with
    the reference's sentinel defaults: True unset ⇒ return the matched
    text itself (whole match, or ``group`` when ≥0); False unset ⇒ ''."""
    if not pattern or not pattern.strip():
        raise ValueError("Pattern should not be null or empty")
    if true_value is None:
        matched = F.regexp_extract(col, pattern, max(group, 0))
    else:
        matched = F.lit(true_value)
    return F.when(col.rlike(pattern), matched).otherwise(
        F.lit(false_value if false_value is not None else "")
    )


def regex_replace_fmt(col: Column, pattern: str, new: str) -> Column:
    """RegexReplaceFormatter.cs."""
    return F.regexp_replace(col, pattern, new)


def regex_append_fmt(col: Column, pattern: str, suffix: str) -> Column:
    """RegexAppendFormatter.cs — append suffix when pattern matches."""
    return F.when(col.rlike(pattern), F.concat(col, F.lit(suffix))).otherwise(col)


def character_case_fmt(col: Column, upper: bool = True) -> Column:
    """CharacterCaseFormatter.cs."""
    return F.upper(col) if upper else F.lower(col)


def displace_fmt(col: Column, equal_to: str, displacement: str) -> Column:
    """DisplaceFormatter.cs — whole-value equality swap."""
    return F.when(col == F.lit(equal_to), F.lit(displacement)).otherwise(col)


def digit_unit_fmt(col: Column) -> Column:
    """DigitUnitFormatter.cs — Chinese numeric units: '3.5万'→35000,
    '2亿'→200000000; plain numbers pass through. Returns double, NULL
    when the leading digits are not a number ('1.2.3万')."""
    num = F.regexp_extract(col, r"^([0-9.]+)", 1).try_cast("double")
    return (
        F.when(col.endswith("亿"), num * F.lit(1e8))
        .when(col.endswith("万"), num * F.lit(1e4))
        .otherwise(num)
    )


def cutout_fmt(
    col: Column,
    start_marker: str,
    end_marker: str,
    start_offset: int = 0,
    end_offset: int = 0,
) -> Column:
    """CutoutFormatter.cs — substring between two markers with offsets.
    Start index = locate(start)+len(start)+start_offset; end = locate(end
    after start)+end_offset. 1-based locate; missing marker -> null."""
    s0 = F.locate(start_marker, col)
    start = s0 + F.lit(len(start_marker) + start_offset)
    e0 = F.locate(end_marker, col, pos=0) if False else None  # noqa: F841
    # locate end marker *after* the start marker
    rest_pos = s0 + F.lit(len(start_marker))
    tail = F.substring(col, rest_pos, F.lit(2_000_000_000))
    e_rel = F.locate(end_marker, tail)
    end = rest_pos + e_rel - F.lit(1) + F.lit(end_offset)
    out = F.substring(col, start, (end - start))
    return F.when((s0 > 0) & (e_rel > 0), out).otherwise(F.lit(None))


def split_fmt(col: Column, sep: str, index: int) -> Column:
    """SplitFormatter.cs — split on literal sep, take element (0-based;
    negative = from end, matching C# index-from-end usage)."""
    import re as _re

    arr = F.split(col, _re.escape(sep))
    return F.element_at(arr, index + 1 if index >= 0 else index)


def string_format_fmt(col: Column, template: str) -> Column:
    """StringFormatter.cs — ``string.Format("pre{0}post", v)``; an empty
    or blank template is a plan-time error (CheckArguments parity)."""
    if not template or not template.strip():
        raise ValueError("FormatString should not be null or empty")
    return F.format_string(template.replace("{0}", "%s"), col)


def timestamp_fmt(col: Column, millis: bool = False) -> Column:
    """TimeStampFormater.cs — unix seconds/millis -> timestamp."""
    if millis:
        return F.timestamp_millis(col.cast("long"))
    return F.from_unixtime(col.cast("long")).cast("timestamp")


def trim_fmt(col: Column, mode: str = "all") -> Column:
    """TrimFormatter.cs — All/Left/Right."""
    return {"all": F.trim, "left": F.ltrim, "right": F.rtrim}[mode](col)


def _html_decode(s: pd.Series) -> pd.Series:
    import html

    return s.map(lambda v: html.unescape(v) if v is not None else None)


@lru_cache(maxsize=None)
def _html_decode_udf():
    # lazy: pandas_udf parses its DDL type against the live session
    return pandas_udf(_html_decode, "string")


def html_decode_fmt(col: Column) -> Column:
    """HtmlDecodeFormatter.cs — entity unescape (no Spark built-in)."""
    return _html_decode_udf()(col)


def url_decode_fmt(col: Column) -> Column:
    """UrlDecodeFormatter.cs."""
    return F.url_decode(col)


def url_encode_fmt(col: Column) -> Column:
    """UrlEncodeFormatter.cs."""
    return F.url_encode(col)


def chain(col: Column, *formatters) -> Column:
    """Apply formatters in declaration order (ModelExtractor.cs:132-149)."""
    for f in formatters:
        col = f(col)
    return col


def download_fmt(col: Column, base_dir: str = "images") -> Column:
    """Download formatter (Download.cs:19-25): the reference side-fetches
    the field's URL value with a WebClient and replaces the value with
    the local target path ``{base}/images/{filename}``. The path mapping
    is this pure column (codegen'd); the byte fetch itself is NOT a
    per-row side effect at scale — pair with ``fetch_payloads`` to join
    the bytes in as a column (sandbox: corpus payload table replay;
    production: a mapInPandas HTTP stage)."""
    name = F.element_at(F.split(F.split(col, r"\?").getItem(0), "/"), -1)
    return F.concat_ws("/", F.lit(base_dir), name)


def fetch_payloads(df, payload, url_col: str = "url", out_col: str = "bytes"):
    """Side-fetch companion of ``download_fmt``: left-join the payload
    table (url, bytes) so each row carries its downloaded content. The
    payload table is joined on the narrow url key only — payload bytes
    never enter a shuffle wider than this join, and the join inherits
    AQE/broadcast planning when the payload side is small."""
    p = payload.select(
        F.col(url_col).alias("__p_url"), F.col(out_col).alias("__p_bytes")
    )
    return (
        df.join(p, df[url_col] == F.col("__p_url"), "left")
        .withColumn(out_col, F.col("__p_bytes"))
        .drop("__p_url", "__p_bytes")
    )
