"""Decompose the chunk-strategy carve wall.

Measures, over the jpeg-dense artifacts, three walls so the
dominant term stays identified:

  scan_only    : parquet chunk scan, JVM-side length sum
  full         : the production carve_hits_with_chunks (one bucketed
                 cogroup of hits with contiguous chunk spans)
  positioned   : strategy-1 baseline

`full - scan_only` is the cogroup's shuffle plus the shared per-hit
carve cost; `positioned` is the same carve with no chunk table at all.

Usage: python tools/profile_carve_chunkjoin.py [sf0.1|sf1]
"""
import dataclasses
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from swiftbeaver_spark.carve_op import carve_hits_with_chunks, carve_hits_with_evidence
from swiftbeaver_spark.chunking import read_chunks
from swiftbeaver_spark.config import DEFAULT_CONFIG
from swiftbeaver_spark.fused_scan import scan_all_from_evidence
from swiftbeaver_spark.session import get_spark

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BLOCK = 4096


def main() -> None:
    label = sys.argv[1] if len(sys.argv) > 1 else "sf1"
    img = os.path.join(ROOT, ".scale", "carve", f"jpeg_dense_{label}.raw")
    chunk_pq = os.path.join(ROOT, ".scale", "carve", f"chunks_{label}.parquet")
    spark = get_spark(app_name="carve-profile")
    spark.sparkContext.setLogLevel("ERROR")
    cfg = dataclasses.replace(
        DEFAULT_CONFIG,
        chunk_size=BLOCK,
        overlap=0,
        file_types=tuple(ft for ft in DEFAULT_CONFIG.file_types if ft.type_id == "jpeg"),
    )
    hits = scan_all_from_evidence(spark, img, cfg)["hits"].persist()
    n_hits = hits.count()
    chunks = read_chunks(spark, chunk_pq)
    ev_len = os.path.getsize(img)
    out = {"label": label, "hits": n_hits}

    def timed(name, fn):
        t0 = time.time()
        r = fn()
        out[name] = round(time.time() - t0, 3)
        print(f"# {name}: {out[name]}s ({r})", file=sys.stderr)

    timed("scan_only", lambda: chunks.select(F.sum(F.length("data"))).collect()[0][0])
    timed("full", lambda: len(
        carve_hits_with_chunks(
            hits, chunks, cfg, window_cap=2 * BLOCK, evidence_len=ev_len
        ).collect()))
    timed("positioned", lambda: len(
        carve_hits_with_evidence(hits, img, cfg).collect()))
    hits.unpersist()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
