"""Driver-side Hilbert index: the exhaustive reference
layout.with_hilbert_key is pinned against."""

from __future__ import annotations


def hilbert_xy2d(n: int, x: int, y: int) -> int:
    """Public xy2d algorithm (quadrant fold + rotate) on an n x n grid,
    n a power of two."""
    d = 0
    s = n >> 1
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = n - 1 - x
                y = n - 1 - y
            x, y = y, x
        s >>= 1
    return d
