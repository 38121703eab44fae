"""Evidence provenance: the SHA-256 of the evidence media.

Reference parity: evidence SHA-256 provenance pass
(src/evidence.rs:450-473, CLI src/main.rs:102-115) and the EWF/E01
source (src/evidence.rs:165-400).

A full-evidence sequential SHA-256 is inherently a single-stream
computation, so there is one provenance mode: `evidence_sha256_local`,
the exact sequential digest (streamed, 64 KiB buffers) at ingest time,
where the file is being read once anyway.

EWF/E01 containers are read natively: `source.open_evidence` returns an
`ewf.EwfReader` (pure Python, public EWF spec) over the decompressed
media, so the digest, every scan and every carve take E01 directly.
"""

from __future__ import annotations

import hashlib

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
