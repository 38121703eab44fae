"""Generate a golden evidence image + manifest on disk (parity with the
reference's tests/golden_image/generate.sh: every known format packed at
4096-aligned offsets, manifest rows carrying offset/size/sha256).

Usage: python tools/make_golden_image.py [out_dir]
Writes out_dir/golden.raw and out_dir/manifest.json.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tests.test_pipeline import build_golden


def main() -> None:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else "golden_image"
    os.makedirs(out_dir, exist_ok=True)
    evidence, manifest = build_golden()
    raw = os.path.join(out_dir, "golden.raw")
    with open(raw, "wb") as fh:
        fh.write(evidence)
    with open(os.path.join(out_dir, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=2)
    print(f"wrote {raw} ({len(evidence)} bytes, {len(manifest)} planted files)")


if __name__ == "__main__":
    main()
