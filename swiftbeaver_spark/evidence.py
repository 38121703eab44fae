"""Evidence ingest helpers: hashing and container conversion.

Reference parity: evidence SHA-256 provenance pass
(src/evidence.rs:450-473, CLI src/main.rs:102-115) and the EWF/E01
source (src/evidence.rs:165-400).

Spark design: a full-evidence sequential SHA-256 is inherently a
single-stream computation. Two provenance modes:

- `evidence_sha256_local`: exact sequential digest (streamed, 64 KiB
  buffers) — for ingest time, where the file is being read once anyway.
- `chunk_digests` + `evidence_digest_of_digests`: a per-chunk sha256
  column (computed JVM-side via F.sha2, fully distributed) plus a
  deterministic hash-of-hashes over chunk order. At 100 TB the per-chunk
  digest table IS the practical provenance record (verifiable in
  parallel, pinpoints corruption to a chunk); the sequential whole-image
  digest is an ingest-time artifact.

EWF/E01 containers are read natively: `source.open_evidence` returns an
`ewf.EwfReader` (pure Python, public EWF spec) over the decompressed
media, so every scan and carve takes E01 directly. `convert_ewf_to_raw`
remains for callers that want a raw copy at ingest.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from swiftbeaver_spark.carvers.base import IO_BUF


def evidence_sha256_local(path: str) -> str:
    """Exact sequential digest of the evidence MEDIA (ingest-time).
    Container-aware: for E01 this hashes the decompressed media, not
    the container file — the digest a court compares against the
    original disk."""
    from swiftbeaver_spark.source import open_evidence

    h = hashlib.sha256()
    reader = open_evidence(path)
    try:
        pos, total = 0, reader.length()
        while pos < total:
            buf = reader.read_at(pos, min(IO_BUF, total - pos))
            if not buf:
                break
            h.update(buf)
            pos += len(buf)
    finally:
        reader.close()
    return h.hexdigest()


def chunk_digests(chunks: DataFrame) -> DataFrame:
    """Distributed per-chunk sha256 over the *valid* region (overlap
    bytes excluded so digests compose without double-counting)."""
    return chunks.select(
        "chunk_id",
        "start",
        "valid_length",
        F.sha2(F.expr("substring(data, 1, cast(valid_length as int))"), 256).alias(
            "chunk_sha256"
        ),
    )


def evidence_digest_of_digests(chunks: DataFrame) -> str:
    """Deterministic hash-of-hashes provenance id: sha256 over the
    ordered per-chunk digests. The chain is sequential by nature, but
    the driver never materializes the digest table: `toLocalIterator`
    streams one ordered range partition at a time (orderBy gives range
    partitioning, so partitions arrive in chunk order), holding at most
    one partition of ~40 B rows in driver memory — a few MB at the
    default shuffle partitioning even for 100 TB / 512 MiB chunks
    (~200k digests), vs the full table a collect() would pin. Chunk
    DATA never leaves the executors either way."""
    rows = (
        chunk_digests(chunks)
        .select("chunk_id", "chunk_sha256")
        .orderBy("chunk_id")
        .toLocalIterator()
    )
    h = hashlib.sha256()
    for r in rows:
        h.update(bytes.fromhex(r.chunk_sha256))
    return h.hexdigest()


def convert_ewf_to_raw(ewf_path: str, out_path: str) -> None:
    """E01 -> raw conversion for ingest (reference reads E01 via libewf,
    src/evidence.rs:165-400) via the pure-Python EWF reader
    (swiftbeaver_spark.ewf, public EWF spec — no native deps)."""
    from swiftbeaver_spark.ewf import EwfReader

    reader = EwfReader(ewf_path)
    try:
        reader.convert_to_raw(out_path)
    finally:
        reader.close()


def verify_against_manifest(carved: DataFrame, manifest: DataFrame) -> DataFrame:
    """Golden-manifest check (reference tests/common/mod.rs
    verify_carved_files): for each manifest row, is there a carved row
    with matching (offset, size, sha256)? Returns manifest rows with a
    `recovered` flag — a full outer view for forensic triage."""
    hits = (
        carved.select(
            F.col("global_start").alias("offset"),
            F.col("size").alias("size"),
            F.col("sha256").alias("sha256"),
        )
        .distinct()
        .withColumn("recovered", F.lit(True))
    )
    return manifest.join(hits, ["offset", "size", "sha256"], "left").withColumn(
        "recovered", F.coalesce(F.col("recovered"), F.lit(False))
    )
