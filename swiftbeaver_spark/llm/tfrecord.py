"""TFRecord shard reader/writer — the TensorFlow training-data
interchange format, implemented from the PUBLIC on-disk spec
(tensorflow/core/lib/io/record_writer.h documentation; the format is
also described in the TFRecord section of the TF data guide):

    each record:  uint64 length (little-endian)
                  uint32 masked_crc32c(length bytes)
                  byte   data[length]
                  uint32 masked_crc32c(data)
    mask(crc) = ((crc >> 15) | (crc << 17)) + 0xa282ead8   (mod 2^32)

crc32c is the Castagnoli CRC (reflected poly 0x82F63B78), table-driven
here — pinned in tests against the RFC 3720 check value
crc32c(b"123456789") == 0x E3069283, so the implementation is verified
against the spec, not against itself.

Spark-first shape mirrors webdataset.py: the writer packs one shard
per group via applyInPandas (shard size bounded by executor memory,
exactly how TFRecord shards are bounded by convention); the reader
takes (path, content) rows from `binaryFile` — whole-shard rows with
locality-aware scheduling — and emits one row per record with both
CRCs re-verified."""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

_CRC_TABLE: list[int] | None = None


def _crc32c_table() -> list[int]:
    global _CRC_TABLE
    if _CRC_TABLE is None:
        table = []
        for n in range(256):
            c = n
            for _ in range(8):
                c = (c >> 1) ^ 0x82F63B78 if c & 1 else c >> 1
            table.append(c)
        _CRC_TABLE = table
    return _CRC_TABLE


def crc32c(data: bytes) -> int:
    """Castagnoli CRC-32 (reflected), table-driven."""
    table = _crc32c_table()
    crc = 0xFFFFFFFF
    for b in data:
        crc = table[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


def masked_crc32c(data: bytes) -> int:
    c = crc32c(data)
    return (((c >> 15) | (c << 17)) + 0xA282EAD8) & 0xFFFFFFFF


def pack_tfrecord(records: list[bytes]) -> bytes:
    """Serialize records into one TFRecord stream (spec framing)."""
    out = bytearray()
    for rec in records:
        length = struct.pack("<Q", len(rec))
        out += length
        out += struct.pack("<I", masked_crc32c(length))
        out += rec
        out += struct.pack("<I", masked_crc32c(rec))
    return bytes(out)


def unpack_tfrecords(blob: bytes) -> list[tuple[bytes, bool]]:
    """Parse a TFRecord stream -> [(record_bytes, crc_ok), ...].
    Truncated tails stop the walk; per-record CRC failures surface as
    crc_ok=False rather than raising (one bad record must not kill a
    whole-shard task)."""
    out = []
    pos = 0
    n = len(blob)
    while pos + 12 <= n:
        length_bytes = blob[pos : pos + 8]
        (length,) = struct.unpack("<Q", length_bytes)
        (len_crc,) = struct.unpack_from("<I", blob, pos + 8)
        body_end = pos + 12 + length
        if length > n or body_end + 4 > n:
            break
        rec = blob[pos + 12 : body_end]
        (rec_crc,) = struct.unpack_from("<I", blob, body_end)
        ok = (
            masked_crc32c(length_bytes) == len_crc
            and masked_crc32c(rec) == rec_crc
        )
        out.append((rec, ok))
        pos = body_end + 4
    return out


TFRECORD_SHARD_SCHEMA = StructType(
    [
        StructField("path", StringType(), False),
        StructField("content", BinaryType(), False),
    ]
)

TFRECORD_MEMBER_SCHEMA = StructType(
    [
        StructField("shard", StringType(), False),
        StructField("record_idx", LongType(), False),
        StructField("size", LongType(), False),
        StructField("sha", StringType(), False),
        StructField("crc_ok", BooleanType(), False),
        StructField("payload", BinaryType(), False),
    ]
)


def tfrecord_shards(
    members: DataFrame,
    shard_col: str = "shard",
    order_col: str = "name",
    payload_col: str = "payload",
) -> DataFrame:
    """TFRecord WRITER: one deterministic shard stream per group,
    records packed in `order_col` order -> (path, content) rows for a
    binary sink. One shuffle on the shard key; each task builds its
    shard in memory (bounded by design, the webdataset.tar_shards
    shape)."""

    def pack(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col)
        blob = pack_tfrecord([bytes(p) for p in pdf[payload_col]])
        return pd.DataFrame([(str(key[0]), blob)], columns=["path", "content"])

    return members.groupBy(shard_col).applyInPandas(pack, TFRECORD_SHARD_SCHEMA)


def tfrecord_members(shards: DataFrame) -> DataFrame:
    """TFRecord READER: (path, content) whole-shard rows -> one row
    per record with size, sha256, and the CRC verdict. Arrow-batched;
    payload bytes never leave executors."""

    def unpack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                for i, (rec, ok) in enumerate(unpack_tfrecords(bytes(content))):
                    rows.append(
                        (
                            str(path).rsplit("/", 1)[-1],
                            i,
                            len(rec),
                            hashlib.sha256(rec).hexdigest(),
                            ok,
                            rec,
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=["shard", "record_idx", "size", "sha", "crc_ok", "payload"],
            )

    return shards.select("path", "content").mapInPandas(
        unpack, TFRECORD_MEMBER_SCHEMA
    )
