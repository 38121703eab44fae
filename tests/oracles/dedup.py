"""Near-dup oracle: the per-document numpy minhash and simhash kernels
the JVM UDFs (sb_minhash, sb_simhash) are pinned bit-exact against.
"""

from __future__ import annotations

import zlib

import numpy as np

from swiftbeaver_spark.llm.dedup import _minhash_family


def minhash_signature(
    text: str | None, num_hashes: int = 64, shingle_k: int = 9
) -> tuple[int, ...] | None:
    """Signature of one document: per affine transform of the program's
    hash family, the unsigned minimum of a*crc32(shingle)+b (uint64
    wraparound) over the distinct k-char shingles of the lowercased,
    whitespace-collapsed text. None for null or empty text (the kernel
    drops those rows)."""
    if text is None:
        return None
    norm = " ".join(str(text).lower().split())
    n = len(norm)
    if n == 0:
        return None
    a, b = _minhash_family(num_hashes)
    upper = max(n - shingle_k + 1, 1)
    shingles = {norm[i : i + shingle_k] for i in range(upper)}
    base = np.fromiter(
        (zlib.crc32(s.encode()) for s in shingles), dtype=np.uint64, count=len(shingles)
    )
    with np.errstate(over="ignore"):
        mins = (a[:, None] * base[None, :] + b[:, None]).min(axis=1)
    return tuple(mins.astype(np.int64).tolist())


def _splitmix64(h: np.ndarray) -> np.ndarray:
    with np.errstate(over="ignore"):
        z = h + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def simhash(text: str | None) -> int:
    """64-bit SimHash of one document: crc32 per lowercased whitespace
    token, mixed by splitmix64, one ±1 vote per bit, bit set where the
    votes are positive. Null/empty text hashes to 0."""
    toks = [] if text is None else str(text).lower().split()
    if not toks:
        return 0
    bit_idx = np.arange(64, dtype=np.uint64)
    base = np.fromiter((zlib.crc32(t.encode()) for t in toks), dtype=np.uint64, count=len(toks))
    h = _splitmix64(base)
    votes = (2 * ((h[:, None] >> bit_idx[None, :]) & np.uint64(1)).astype(np.int64) - 1).sum(axis=0)
    packed = ((votes > 0).astype(np.uint64) << bit_idx).sum(dtype=np.uint64)
    return int(packed.astype(np.int64))
