"""WARC (ISO 28500) source — the container web corpora actually arrive in.

Common Crawl and every serious web archive ship WARC: a stream of records
("WARC/1.0" + named headers + Content-Length-framed body), usually stored
as per-record gzip members concatenated into one file so records are
individually seekable. A training pipeline's first operator is reading
these into (uri, date, content) rows; this module implements that
stdlib-only:

* ``parse_warc`` — handles plain and member-gzipped files, any record
  types (warcinfo/request/response/...), HTTP response unwrapping
  (status line + headers stripped, charset honored from Content-Type);
* ``read_warc`` — Spark source: a binary (path, content) frame explodes
  into one row per response record via Arrow-batched mapInPandas — WARC
  files are independent, so the operator is embarrassingly parallel and
  scales with input splits exactly like the PDF/HTML kernels;
* ``write_warc`` / ``documents_as_warc`` (in docgen style) — the
  producer side, so the round-trip catalog query can oracle exact
  content against the raw tables.

Reference: no counterpart (drive files, not crawls); part of the
beyond-the-reference web-corpus surface (htmlmini → urls → robots → warc).
"""

from __future__ import annotations

import gzip
import io
import zlib
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from frappe_data_pipelines_spark.operators import kernel

CRLF = b"\r\n"


def _gunzip_members(payload: bytes) -> bytes:
    """Concatenated gzip members → concatenated plaintext (the standard
    WARC packaging: one member per record). A corrupt member ends the
    walk — everything inflated so far still parses (totality: a damaged
    archive yields its readable prefix, never an exception)."""
    out = bytearray()
    data = payload
    while data[:2] == b"\x1f\x8b":
        d = zlib.decompressobj(wbits=31)
        try:
            out += d.decompress(data)
        except zlib.error:
            break
        nxt = d.unused_data
        if nxt == data:  # no progress — malformed trailing member
            break
        data = nxt
    return bytes(out) if out else payload


def write_warc(records: list[dict], gzip_members: bool = True) -> bytes:
    """Records → WARC bytes. Each record dict: ``warc_type``, ``uri``,
    ``date``, ``content_type``, ``body`` (bytes). Response records get an
    HTTP/1.1 wrapper, mirroring how crawlers store fetches."""
    out = bytearray()
    for rec in records:
        body = rec["body"]
        if rec["warc_type"] == "response":
            http = (
                b"HTTP/1.1 200 OK\r\nContent-Type: "
                + rec["content_type"].encode()
                + b"\r\nContent-Length: "
                + str(len(body)).encode()
                + b"\r\n\r\n"
            )
            body = http + body
            block_type = b"application/http; msgtype=response"
        else:
            block_type = rec["content_type"].encode()
        head = (
            b"WARC/1.0\r\n"
            b"WARC-Type: " + rec["warc_type"].encode() + CRLF
            + (b"WARC-Target-URI: " + rec["uri"].encode() + CRLF if rec.get("uri") else b"")
            + b"WARC-Date: " + rec.get("date", "2026-01-01T00:00:00Z").encode() + CRLF
            + b"Content-Type: " + block_type + CRLF
            + b"Content-Length: " + str(len(body)).encode() + CRLF
            + CRLF
        )
        record = head + body + CRLF + CRLF
        if gzip_members:
            buf = io.BytesIO()
            # mtime pinned: gzip headers embed a timestamp; fixture bytes
            # must be reproducible
            with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
                gz.write(record)
            record = buf.getvalue()
        out += record
    return bytes(out)


def parse_warc(payload: bytes) -> list[dict]:
    """WARC bytes → [{warc_type, uri, date, content_type, text, n_bytes}].
    Response records have the HTTP envelope stripped and the body decoded
    per its Content-Type charset (utf-8 fallback, replacement on errors —
    total like every other kernel). Non-HTTP records pass their block
    through as latin-1-preserved text."""
    data = _gunzip_members(payload)
    records = []
    pos = 0
    while True:
        # resync only on a record BOUNDARY: 'WARC/' at offset 0 or preceded
        # by the CRLFCRLF record trailer (ADVICE r5: an unanchored find can
        # land on 'WARC/' bytes inside an unskipped body after a record with
        # a corrupt Content-Length, fabricating bogus records from content)
        start = data.find(b"WARC/", pos)
        while start > 0 and data[max(0, start - 4) : start] != b"\r\n\r\n":
            start = data.find(b"WARC/", start + 1)
        if start < 0:
            break
        head_end = data.find(b"\r\n\r\n", start)
        if head_end < 0:
            break
        headers: dict[str, str] = {}
        for line in data[start:head_end].split(CRLF)[1:]:
            k, _, v = line.decode("latin-1").partition(":")
            headers[k.strip().lower()] = v.strip()
        try:
            length = int(headers["content-length"])
            if length < 0:
                raise ValueError
        except (KeyError, ValueError):
            # no parseable Content-Length → the record cannot be framed;
            # drop it (never emit a guessed body) and resync at the next
            # boundary-anchored 'WARC/'
            pos = head_end + 4
            continue
        body = data[head_end + 4 : head_end + 4 + length]
        pos = head_end + 4 + length
        ctype = headers.get("content-type", "")
        text_bytes, charset = body, "utf-8"
        if ctype.startswith("application/http"):
            http_end = body.find(b"\r\n\r\n")
            if http_end >= 0:
                http_head = body[:http_end].decode("latin-1")
                text_bytes = body[http_end + 4 :]
                for line in http_head.split("\r\n")[1:]:
                    k, _, v = line.partition(":")
                    if k.strip().lower() == "content-type":
                        ctype = v.strip()
                        if "charset=" in v:
                            charset = v.split("charset=", 1)[1].split(";")[0].strip()
        try:
            text = text_bytes.decode(charset, errors="replace")
        except LookupError:
            text = text_bytes.decode("utf-8", errors="replace")
        records.append(
            {
                "warc_type": headers.get("warc-type", ""),
                "uri": headers.get("warc-target-uri", ""),
                "date": headers.get("warc-date", ""),
                "content_type": ctype,
                "text": text,
                "n_bytes": len(text_bytes),
            }
        )
    return records


WARC_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("warc_type", T.StringType()),
        T.StructField("uri", T.StringType()),
        T.StructField("date", T.StringType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def read_warc(
    binary_df: DataFrame,
    path_col: str = "path",
    content_col: str = "content",
    response_only: bool = True,
) -> DataFrame:
    """Binary (path, content) frame → one row per WARC record. Files are
    independent → no shuffle, parallelism = input splits. A file that
    fails to parse yields no rows instead of failing the batch."""
    narrow = binary_df.select(
        F.col(path_col).alias("path"), F.col(content_col).alias("content")
    )

    def rows(path, content):
        try:
            recs = parse_warc(bytes(content) if content is not None else b"")
        except Exception:  # noqa: BLE001 — total on corrupt archives
            return []
        return [
            (path, r["warc_type"], r["uri"], r["date"], r["content_type"], r["text"], r["n_bytes"])
            for r in recs
            if not response_only or r["warc_type"] == "response"
        ]

    return kernel.map_rows(narrow, rows, WARC_SCHEMA)
