"""WARC source — the web-archive format crawl corpora ship in.

The reference replays pages from its own download directory only; the
de-facto interchange format for crawl corpora (Common Crawl, IA) is
WARC (ISO 28500, public spec). This module reads WARC files into the
engine's page shape so a 100 TB archived crawl becomes a joinable
DataFrame:

- :func:`read_warc` — binaryFile scan over ``*.warc`` →
  one row per ``response`` record: (warc_path, url, warc_date,
  record_content_type, http_status, http_content_type, body binary).

Record splitting runs in ``mapInPandas`` (one Arrow batch of whole
files in, one batch of records out — bytes never cross per-row), and
the splitter itself is a pure function (:func:`split_warc_records`)
unit-tested against deterministically synthesized archives
(:func:`build_warc` — no external data, per the driver mandate).

Scale note: one task per WARC file (binaryFile cannot split inside a
file — matching how Common Crawl jobs shard: ~1 GB per .warc.gz, tens
of thousands of files → natural partition parallelism). Gzip members
(.warc.gz) are transparently decompressed per-file; record-level
member-splitting (seekable gz) is out of scope here.

Fail-closed: a file whose gzip stream is truncated or corrupt makes the
splitter raise ``ValueError``, and :func:`read_warc` turns that into one
row holding only the file's ``warc_path`` (every other column NULL), so
one bad archive is visible in the output but never fails the job.
"""

from __future__ import annotations

import gzip
import io
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

WARC_SCHEMA = (
    "warc_path string, url string, warc_date string, "
    "record_content_type string, http_status int, "
    "http_content_type string, body binary"
)

_CRLF = b"\r\n"


def format_warc_record(
    url: str, date: str, status: int, content_type: str, body: bytes
) -> bytes:
    """One WARC/1.0 ``response`` record with an embedded HTTP/1.1
    response (pure function — shared by the test-fixture builder and
    the :mod:`..sinks.warc` writer so written archives are readable by
    :func:`split_warc_records` byte-for-byte).

    Header values are interpolated into CRLF-delimited framing, so a
    CR/LF (or a stray control char) inside ``url``/``date``/
    ``content_type`` would forge extra header lines and corrupt every
    record after it — crawl-discovered links are CRLF-free by
    construction, but this is a public sink API: fail loudly."""
    for name, val in (("url", url), ("date", date),
                      ("content_type", content_type)):
        if val is not None and ("\r" in val or "\n" in val):
            raise ValueError(
                f"format_warc_record: CR/LF in {name} would corrupt "
                f"record framing: {val!r}"
            )
    http = (
        f"HTTP/1.1 {status} X\r\n"
        f"Content-Type: {content_type}\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode() + body
    head = (
        "WARC/1.0\r\n"
        "WARC-Type: response\r\n"
        f"WARC-Target-URI: {url}\r\n"
        f"WARC-Date: {date}\r\n"
        "Content-Type: application/http;msgtype=response\r\n"
        f"Content-Length: {len(http)}\r\n\r\n"
    ).encode()
    return head + http + _CRLF + _CRLF


def build_warc(records: list[dict]) -> bytes:
    """Synthesize a minimal valid WARC/1.0 byte stream (test fixture
    builder — deterministic, no external data). Each record dict:
    ``{url, date, status, content_type, body: bytes}``."""
    out = io.BytesIO()
    for r in records:
        out.write(
            format_warc_record(
                r["url"], r["date"], r["status"], r["content_type"], r["body"]
            )
        )
    return out.getvalue()


def _parse_headers(block: bytes) -> dict:
    headers: dict[str, str] = {}
    for line in block.split(_CRLF):
        if b":" in line:
            k, _, v = line.partition(b":")
            headers[k.decode("latin-1").strip().lower()] = v.decode(
                "latin-1"
            ).strip()
    return headers


def split_warc_records(data: bytes, path: str = "") -> list[dict]:
    """Pure-function record splitter: walk WARC headers, slice each
    record body by its Content-Length (never regex over payload bytes —
    bodies may contain 'WARC/1.0'), keep ``response`` records, parse
    the embedded HTTP status line + headers. A truncated or corrupt
    gzip stream raises ``ValueError``."""
    if path.endswith(".gz") or data[:2] == b"\x1f\x8b":
        try:
            data = gzip.decompress(data)
        except (EOFError, zlib.error, gzip.BadGzipFile) as e:
            raise ValueError(f"corrupt gzip stream in {path!r}: {e!r}") from None
    rows: list[dict] = []
    pos = 0
    n = len(data)
    while pos < n:
        if not data.startswith(b"WARC/", pos):
            nxt = data.find(b"WARC/", pos + 1)
            if nxt == -1:
                break
            pos = nxt
            continue
        hdr_end = data.find(_CRLF + _CRLF, pos)
        if hdr_end == -1:
            break
        headers = _parse_headers(data[pos:hdr_end])
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            break  # malformed: cannot locate the next record safely
        if length < 0:
            break  # would walk backwards (and never end)
        body_start = hdr_end + 4
        body = data[body_start : body_start + length]
        pos = body_start + length + 4  # trailing CRLF CRLF
        if headers.get("warc-type") != "response":
            continue
        http_status = None
        http_ct = None
        payload = body
        if body[:5] == b"HTTP/":
            hh_end = body.find(_CRLF + _CRLF)
            if hh_end != -1:
                status_line = body[: body.find(_CRLF)]
                parts = status_line.split(b" ")
                # three digits (RFC 9110 §15): anything longer may not
                # fit the int column
                if len(parts) >= 2 and len(parts[1]) == 3 and parts[1].isdigit():
                    http_status = int(parts[1])
                http_ct = _parse_headers(body[:hh_end]).get("content-type")
                payload = body[hh_end + 4 :]
        rows.append(
            {
                "warc_path": path,
                "url": headers.get("warc-target-uri"),
                "warc_date": headers.get("warc-date"),
                "record_content_type": headers.get("content-type"),
                "http_status": http_status,
                "http_content_type": http_ct,
                "body": payload,
            }
        )
    return rows


def read_warc(spark, glob: str) -> DataFrame:
    """binaryFile scan over ``glob`` → one row per WARC response record,
    plus one ``warc_path``-only row per archive the splitter rejects."""
    files = spark.read.format("binaryFile").load(glob).select("path", "content")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [
            "warc_path", "url", "warc_date", "record_content_type",
            "http_status", "http_content_type", "body",
        ]
        for pdf in batches:
            rows: list[dict] = []
            for _, r in pdf.iterrows():
                try:
                    rows.extend(split_warc_records(bytes(r["content"]), r["path"]))
                except ValueError:
                    rows.append(dict.fromkeys(cols) | {"warc_path": r["path"]})
            out = pd.DataFrame(rows, columns=cols)
            out["http_status"] = out["http_status"].astype("Int32")
            yield out

    return files.mapInPandas(run, WARC_SCHEMA)
