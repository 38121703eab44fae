"""Checkpoint & resume: high-watermark over the chunk table.

Reference parity: CheckpointState (src/checkpoint.rs:8-37) stores
chunk_size/overlap/next_offset/evidence_len/run_id; resume validates
geometry and skips already-scanned chunks
(src/pipeline/mod.rs:186-231,343-345).

Spark design (SURVEY §2.6): batch resume = a parent-start >= next_offset
filter on the scan plan (chunking.keep_parents), and a limit-cut run
writes the end of the last chunk it scanned (chunking.scanned_end). The
state file is plain JSON (object-store friendly).
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass
from datetime import datetime, timezone


@dataclass
class CheckpointState:
    chunk_size: int
    overlap: int
    next_offset: int
    evidence_len: int
    run_id: str
    created_at: str = ""

    def save(self, path: str) -> None:
        state = asdict(self)
        state["created_at"] = datetime.now(timezone.utc).isoformat()
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(state, fh)
        os.replace(tmp, path)

    @classmethod
    def load(cls, path: str) -> "CheckpointState | None":
        if not os.path.exists(path):
            return None
        with open(path) as fh:
            return cls(**json.load(fh))

    def validate(self, chunk_size: int, overlap: int, evidence_len: int) -> None:
        """Reject resume against different geometry (reference
        src/pipeline/mod.rs:186-231)."""
        if self.chunk_size != chunk_size:
            raise ValueError(
                f"checkpoint chunk_size {self.chunk_size} != config {chunk_size}"
            )
        if self.overlap != overlap:
            raise ValueError(f"checkpoint overlap {self.overlap} != config {overlap}")
        if self.evidence_len != evidence_len:
            raise ValueError(
                f"checkpoint evidence_len {self.evidence_len} != actual {evidence_len}"
            )
