"""Evidence source factory: raw/dd or EWF/E01, sniffed by signature.

Reference parity: evidence open dispatch (src/evidence.rs open_source —
raw file vs libewf handle behind one EvidenceSource trait). Spark
design: every distributed operator that positioned-reads evidence
(chunk-table ingest, carve, browser extraction, multimodal fetch) opens its OWN reader inside the task via `open_evidence`, so an
E01 container is a first-class distributed source — no ingest-time
full-image conversion, each executor decompresses only the chunks its
reads touch. Container metadata (section/table parse) is a few KiB per
open; chunk decompression is cached per reader.
"""

from __future__ import annotations

from swiftbeaver_spark.carvers.base import FileReader, Reader
from swiftbeaver_spark.ewf import SIGNATURE as EWF_SIGNATURE
from swiftbeaver_spark.ewf import EwfReader


def is_ewf(path: str) -> bool:
    with open(path, "rb") as fh:
        return fh.read(8) == EWF_SIGNATURE


def open_evidence(path: str) -> Reader:
    """Positioned-read handle over the evidence MEDIA (decompressed
    bytes for containers). Callers close() when done."""
    if is_ewf(path):
        return EwfReader(path)
    return FileReader(path)


def evidence_length(path: str) -> int:
    """Media length (container-aware getsize)."""
    reader = open_evidence(path)
    try:
        return reader.length()
    finally:
        reader.close()
