"""WARC (Web ARChive, ISO 28500) reader/writer — the container format
web crawls actually arrive in (Common Crawl ships WARC; every crawl
curation pipeline starts by exploding WARC records into rows).

Spark-first shape mirrors llm/webdataset.py: `binaryFile` reads whole
archives as (path, content) rows — one task per archive, the format's
own parallelism unit — then an Arrow-batched pass walks the records
in-memory and explodes them to (offset, headers, payload) rows. The
writer hand-serializes records (fixed header order, \r\n framing) so
identical input yields byte-identical archives with no library-version
or clock dependence, and the reader therefore round-trips an
INDEPENDENTLY constructed archive, not its own serializer's output.

Format (public spec, iipc/warc-specifications WARC/1.0): each record is
  WARC/1.0\r\n
  <Name>: <value>\r\n ...          (Content-Length mandatory)
  \r\n
  <payload: Content-Length bytes>
  \r\n\r\n                         (record separator)

Scale: archives are the split unit (Common Crawl segments are ~1 GB
WARCs); parsing is per-archive sequential CPU with no shuffle — the
spec makes records self-delimiting via Content-Length, so a reader
never scans payload bytes. Malformed tails are reported as a truncated
flag, never an executor exception (corrupt crawl data is normal).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

_CRLF = b"\r\n"

WARC_RECORD_SCHEMA = StructType(
    [
        StructField("archive", StringType(), False),
        StructField("rec_offset", LongType(), False),
        StructField("warc_type", StringType(), True),
        StructField("record_id", StringType(), True),
        StructField("target_uri", StringType(), True),
        StructField("content_length", LongType(), False),
        StructField("payload", BinaryType(), False),
        StructField("truncated", StringType(), True),
    ]
)

WARC_ARCHIVE_SCHEMA = StructType(
    [
        StructField("path", StringType(), False),
        StructField("content", BinaryType(), False),
    ]
)


def serialize_record(
    warc_type: str,
    record_id: str,
    target_uri: str | None,
    payload: bytes,
) -> bytes:
    """One WARC/1.0 record, fixed header order (Type, Record-ID,
    Target-URI, Content-Length) — deterministic byte layout."""
    out = bytearray()
    out += b"WARC/1.0" + _CRLF
    out += b"WARC-Type: " + warc_type.encode() + _CRLF
    out += b"WARC-Record-ID: " + record_id.encode() + _CRLF
    if target_uri is not None:
        out += b"WARC-Target-URI: " + target_uri.encode() + _CRLF
    out += b"Content-Length: " + str(len(payload)).encode() + _CRLF
    out += _CRLF
    out += payload
    out += _CRLF + _CRLF
    return bytes(out)


def parse_warc_bytes(archive: str, blob: bytes) -> list[tuple]:
    """Walk one archive's records. Returns WARC_RECORD_SCHEMA tuples.
    Content-Length self-delimits each record; a record whose declared
    payload overruns the archive is emitted with truncated='length'
    and the remaining bytes, then parsing stops. Garbage where a
    record header should be stops parsing with a truncated='header'
    marker row (crawl archives do arrive damaged; one bad archive must
    never fail the task)."""
    rows: list[tuple] = []
    pos, n = 0, len(blob)
    while pos < n:
        start = pos
        end = blob.find(b"\r\n\r\n", pos)
        if not blob.startswith(b"WARC/", pos) or end < 0:
            rows.append((archive, start, None, None, None, 0, b"", "header"))
            break
        headers: dict[str, str] = {}
        for line in blob[pos:end].split(_CRLF)[1:]:
            k, _, v = line.partition(b":")
            if _:
                headers[k.strip().lower().decode("latin-1")] = v.strip().decode(
                    "latin-1"
                )
        try:
            clen = int(headers.get("content-length", ""))
        except ValueError:
            rows.append((archive, start, None, None, None, 0, b"", "header"))
            break
        body_at = end + 4
        body = blob[body_at : body_at + clen]
        trunc = "length" if len(body) < clen else None
        rows.append(
            (
                archive,
                start,
                headers.get("warc-type"),
                headers.get("warc-record-id"),
                headers.get("warc-target-uri"),
                clen,
                body,
                trunc,
            )
        )
        if trunc:
            break
        pos = body_at + clen
        # tolerate a missing final separator at EOF
        if blob.startswith(b"\r\n\r\n", pos):
            pos += 4
    return rows


def warc_records(archives: DataFrame) -> DataFrame:
    """(path, content) archive rows -> one row per WARC record.
    Arrow-batched, per-archive CPU, no shuffle (the untar_members
    shape)."""

    def walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            for p, content in zip(pdf["path"], pdf["content"]):
                rows.extend(parse_warc_bytes(str(p), bytes(content)))
            yield pd.DataFrame(rows, columns=[f.name for f in WARC_RECORD_SCHEMA])

    return archives.select("path", "content").mapInPandas(walk, WARC_RECORD_SCHEMA)


def warc_archives(
    records: DataFrame,
    archive_col: str = "archive",
    order_col: str = "order_key",
    type_col: str = "warc_type",
    id_col: str = "record_id",
    uri_col: str = "target_uri",
    payload_col: str = "payload",
) -> DataFrame:
    """WARC WRITER: serialize record rows into one archive per group ->
    (path, content). Records serialize in `order_col` order, so offsets
    are a pure prefix sum any engine can predict. One shuffle on the
    archive key; each task builds its archive in memory (archives are
    bounded ~1 GB by crawl convention, the webdataset/tar_shards
    memory contract)."""

    def pack(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col)
        blob = b"".join(
            serialize_record(
                str(t),
                str(r),
                # null URIs arrive as None OR pandas NaN — both mean
                # "omit the header", never the literal string 'nan'
                None if u is None or (isinstance(u, float) and pd.isna(u)) else str(u),
                bytes(p),
            )
            for t, r, u, p in zip(
                pdf[type_col], pdf[id_col], pdf[uri_col], pdf[payload_col]
            )
        )
        return pd.DataFrame([(str(key[0]), blob)], columns=["path", "content"])

    return records.groupBy(archive_col).applyInPandas(pack, WARC_ARCHIVE_SCHEMA)
