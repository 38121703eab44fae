"""Decompose the chunk-strategy carve wall (round-8 architecture).

Measures, over the jpeg-dense artifacts, cumulative walls for prefixes
of the STREAM strategy so the dominant term stays identified:

  scan_only    : parquet chunk scan, JVM-side length sum
  join_only    : + broadcast of per-chunk hit lists (left join), JVM sum
  stream_xfer  : + mapInArrow passthrough (Arrow transfer, no carve)
  full         : the production carve_hits_with_chunks (stream +
                 boundary-resolve + cogroup backstop)
  positioned   : strategy-1 baseline

The round-7 findings this architecture answered: the collect_list
reassembly shuffled every chunk byte once per claiming hit (~3x table
size) and crossed Arrow duplicated — both terms are gone; what remains
is scan + one Arrow crossing + the shared per-hit carve cost.

Usage: python tools/profile_carve_chunkjoin.py [sf0.1|sf1]
"""
import dataclasses
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa
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

    hit_by_chunk = (
        hits.select(
            F.expr(f"global_offset div {BLOCK}").alias("chunk_id"),
            F.struct("global_offset", "file_type_id", "pattern_id").alias("h"),
        )
        .groupBy("chunk_id")
        .agg(F.collect_list("h").alias("hs"))
    )
    joined = chunks.join(F.broadcast(hit_by_chunk), "chunk_id", "left").select(
        "start", "valid_length", "data", "hs"
    )

    def walk(batches):
        n = b = 0
        for tbl in batches:
            n += tbl.num_rows
            col = tbl.column("data")
            for i in range(tbl.num_rows):
                b += len(col[i].as_buffer())
        yield pa.RecordBatch.from_pydict({"n": [n], "b": [b]})

    timed("scan_only", lambda: chunks.select(F.sum(F.length("data"))).collect()[0][0])
    timed("join_only", lambda: joined.select(F.sum(F.length("data"))).collect()[0][0])
    timed("stream_xfer", lambda: joined.mapInArrow(
        walk, "n long, b long").agg(F.sum("n"), F.sum("b")).collect()[0][0])
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
