"""WebDataset-style tar-shard reader: the standard multimodal training
input layout (one tar per shard; each sample = consecutive members
sharing a basename, e.g. `00042.jpg` + `00042.json` + `00042.txt`).

Spark-first shape: `binaryFile` lists and reads whole shards as rows
(path, content) — Spark distributes shard files across executors, one
task per shard, which is exactly WebDataset's own parallelism unit —
then an Arrow-batched pass untars in-memory and explodes members to
(sample_key, ext, payload) rows. Payloads never touch the driver; the
downstream multimodal ops (extract_media_meta) consume the rows
directly.

Scale: shards are the split unit (a 100 TB corpus = ~100k 1 GB
shards); `binaryFile` gives locality-aware scheduling and the untar is
pure per-shard CPU with no shuffle. Sample grouping is a narrow
per-shard operation because WebDataset guarantees members of a sample
are contiguous within one shard.
"""

from __future__ import annotations

import io
import os
import tarfile
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

WDS_SCHEMA = StructType(
    [
        StructField("shard", StringType(), False),
        StructField("sample_key", StringType(), False),
        StructField("ext", StringType(), False),
        StructField("payload", BinaryType(), False),
        StructField("size", LongType(), False),
    ]
)


def _split_key(name: str) -> tuple[str, str]:
    """WebDataset key split: basename up to the FIRST dot is the
    sample key; the rest is the (possibly dotted) extension."""
    base = os.path.basename(name)
    if "." in base:
        key, ext = base.split(".", 1)
    else:
        key, ext = base, ""
    return key, ext


def untar_members(shards: DataFrame) -> DataFrame:
    """The untar stage alone: (path, content) shard rows -> one row per
    member (shard, sample_key, ext, payload, size). Arrow-batched,
    per-shard CPU, no shuffle — tar bytes from ANY source (binaryFile,
    a synthesized column, carved output) go through the same reader."""

    def untar(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for p, content in zip(pdf["path"], pdf["content"]):
                with tarfile.open(fileobj=io.BytesIO(bytes(content))) as tf:
                    for m in tf:
                        if not m.isfile():
                            continue
                        fh = tf.extractfile(m)
                        if fh is None:
                            continue
                        data = fh.read()
                        key, ext = _split_key(m.name)
                        rows.append((str(p), key, ext, data, len(data)))
            yield pd.DataFrame(
                rows, columns=["shard", "sample_key", "ext", "payload", "size"]
            )

    return shards.select("path", "content").mapInPandas(untar, WDS_SCHEMA)


TAR_SHARD_SCHEMA = StructType(
    [
        StructField("path", StringType(), False),
        StructField("content", BinaryType(), False),
    ]
)


def pack_tar(members: list[tuple[str, bytes]]) -> bytes:
    """Minimal deterministic USTAR archive from (name, payload) pairs:
    hand-built 512-byte headers (fixed mode 0644, uid/gid 0, mtime 0 —
    byte-identical output for identical input, no tarfile-version or
    clock dependence), 512-aligned payloads, two zero end blocks. The
    layout is the public POSIX ustar format; tarfile (and any tar
    reader) parses it — which also means the reader side of this module
    round-trips an INDEPENDENTLY constructed archive, not its own
    serializer's output."""
    out = bytearray()
    for name, data in members:
        nb = name.encode("utf-8")
        if len(nb) > 100:
            raise ValueError(f"tar member name too long ({len(nb)} > 100): {name!r}")
        hdr = bytearray(512)
        hdr[0 : len(nb)] = nb                                  # name
        hdr[100:108] = b"0000644\x00"                          # mode
        hdr[108:116] = b"0000000\x00"                          # uid
        hdr[116:124] = b"0000000\x00"                          # gid
        hdr[124:136] = ("%011o" % len(data)).encode() + b"\x00"  # size
        hdr[136:148] = b"00000000000\x00"                      # mtime
        hdr[148:156] = b" " * 8                                # chksum (spaces while summing)
        hdr[156:157] = b"0"                                    # typeflag: regular file
        hdr[257:263] = b"ustar\x00"                            # magic
        hdr[263:265] = b"00"                                   # version
        chksum = sum(hdr)
        hdr[148:156] = ("%06o" % chksum).encode() + b"\x00 "
        out += hdr
        out += data
        out += b"\x00" * ((-len(data)) % 512)
    out += b"\x00" * 1024
    return bytes(out)


def tar_shards(
    members: DataFrame,
    shard_col: str = "shard",
    name_col: str = "name",
    payload_col: str = "payload",
) -> DataFrame:
    """WebDataset WRITER: pack member rows into one deterministic tar
    per shard group -> (path, content) rows ready for a binary sink
    (or untar_members, for a full round trip). Members are packed in
    name order, so a sample's dotted-extension members (`00042.json`,
    `00042.txt`) stay contiguous — the format's contract.

    Scale: one shuffle on the shard key; each task builds its shard's
    tar in memory, so shard size is bounded by executor memory exactly
    as WebDataset shards are bounded by design (~1 GB). No driver
    involvement, no global ordering."""

    def pack(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(name_col)
        blob = pack_tar(
            [
                (str(n), bytes(p))
                for n, p in zip(pdf[name_col], pdf[payload_col])
            ]
        )
        return pd.DataFrame([(str(key[0]), blob)], columns=["path", "content"])

    return members.groupBy(shard_col).applyInPandas(pack, TAR_SHARD_SCHEMA)


def samples(members: DataFrame) -> DataFrame:
    """Member rows -> one row per sample with a map ext -> payload.
    The groupBy key is (shard, sample_key): sample members live in one
    shard by the format's contract, so the shuffle moves each sample
    once and never crosses shard boundaries logically."""
    from pyspark.sql import functions as F

    return members.groupBy("shard", "sample_key").agg(
        F.map_from_entries(
            F.collect_list(F.struct("ext", "payload"))
        ).alias("parts"),
        F.sum("size").cast("long").alias("total_bytes"),
        F.count("*").cast("long").alias("n_parts"),
    )
