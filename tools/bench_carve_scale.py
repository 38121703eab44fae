"""Carve-engine scale measurement (VERDICT r6 item 1): the one heavy
family with no BENCH_SCALE row yet. Builds jpeg-dense on-disk evidence
images at sf0.1 and the 10x sf1-equivalent (one 4096-aligned minimal
JPEG per document — the q30 synthesis written to a real file; reference
bar benches/throughput.rs:83-97 `jpeg_dense` is exactly this
isolation), then runs BOTH SURVEY §7.3 evidence-access strategies over
the same scanned hits:

  1. positioned reads  — carve_hits_with_evidence: each task re-opens
     the evidence path (local / NFS / fuse-mounted object store).
  2. chunk-equi-join   — carve_hits_with_chunks over the parquet-
     materialized chunk table (the declared 100 TB path: no evidence
     re-read; hits claim chunk ranges via an exploded-sequence
     EQUI-join, never an O(n^2) range join).

Per scale the two strategies are verified to produce IDENTICAL
(global_start, size, sha256) sets, walls are recorded, plan profiles
are checked for forbidden joins, and the strategy-2/strategy-1 ratio is
reported (target: within ~2x — the chunk join pays one narrow shuffle
for never touching the evidence again).

Timing notes (memory: measurement-gotchas): collect(), never count()
(mapInPandas output can't be eliminated, but keep one convention);
scan cost is EXCLUDED from the strategy walls — hits are computed once
per scale via the production fused JVM scan and persisted, so each
strategy wall is carve-only + its own evidence access.

Usage: python tools/bench_carve_scale.py  -> one JSON line per row.
"""
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import dataclasses

import duckdb

from swiftbeaver_spark.carve_op import carve_hits_with_chunks, carve_hits_with_evidence
from swiftbeaver_spark.chunking import chunks_from_file, materialize_chunks, read_chunks
from swiftbeaver_spark.config import DEFAULT_CONFIG
from swiftbeaver_spark.fused_scan import scan_all_from_evidence
from swiftbeaver_spark.session import get_spark

SF01 = "/root/testdata/sf0.1"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF1 = os.path.join(ROOT, ".scale", "sf1")
WORK = os.path.join(ROOT, ".scale", "carve")

BLOCK = 4096
FORBIDDEN = ("CartesianProduct", "BroadcastNestedLoopJoin")
STRATS = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")


def build_image(sf_dir: str, out_path: str) -> int:
    """documents.parquet -> jpeg-dense raw image: per doc one minimal
    JPEG (FFD8FFE0 + 600 BYTES of text + FFD9) zero-padded to a
    4096-aligned block at doc_id-order. Driver-side one-time generation
    (205 MB at sf1), mirroring tools/gen_scale10.py's role.

    Alignment is done in BYTES after utf-8 encoding — a character-count
    rpad would break the 4096-byte block arithmetic on any multi-byte
    character in the corpus (round-7 review finding)."""
    if os.path.exists(out_path):
        return os.path.getsize(out_path)
    con = duckdb.connect()
    rows = con.execute(
        "SELECT text FROM "
        f"read_parquet('{sf_dir}/documents.parquet') ORDER BY doc_id"
    ).fetchall()
    tmp = out_path + ".tmp"
    with open(tmp, "wb") as fh:
        for (text,) in rows:
            interior = (text or "").encode("utf-8")[:600]
            interior += b"x" * (600 - len(interior))
            fh.write(
                b"\xff\xd8\xff\xe0" + interior + b"\xff\xd9" + b"\x00" * (BLOCK - 606)
            )
    os.replace(tmp, out_path)
    return os.path.getsize(out_path)


def plan_profile(df, executed: bool) -> dict:
    txt = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )
    if executed:
        assert "isFinalPlan=false" not in txt, "profiled before execution"
    return {s: len(re.findall(s, txt)) for s in STRATS + FORBIDDEN}


def main() -> None:
    spark = get_spark(app_name="swiftbeaver-bench-carve-scale")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(WORK, exist_ok=True)
    cfg = dataclasses.replace(
        DEFAULT_CONFIG,
        chunk_size=BLOCK,
        overlap=0,
        file_types=tuple(ft for ft in DEFAULT_CONFIG.file_types if ft.type_id == "jpeg"),
    )
    out = {}
    for label, sf_dir in (("sf0.1", SF01), ("sf1", SF1)):
        img = os.path.join(WORK, f"jpeg_dense_{label}.raw")
        size = build_image(sf_dir, img)
        n_docs = size // BLOCK
        print(f"# image @{label}: {size} bytes, {n_docs} jpegs", file=sys.stderr)

        # hits once, via the production fused JVM scan; persisted so the
        # strategy walls below are carve-only + evidence access
        hits = scan_all_from_evidence(spark, img, cfg)["hits"].persist()
        t0 = time.time()
        n_hits = hits.count()
        scan_wall = round(time.time() - t0, 3)
        assert n_hits == n_docs, f"scan found {n_hits} != {n_docs} headers"

        # strategy 2's chunk table: parquet-materialized (the repeated-
        # scan convention in chunking.py — at 100 TB this is the one-pass
        # columnar copy that replaces all later evidence reads)
        chunk_pq = os.path.join(WORK, f"chunks_{label}.parquet")
        t0 = time.time()
        materialize_chunks(chunks_from_file(spark, img, BLOCK, 0), chunk_pq)
        mat_wall = round(time.time() - t0, 3)
        chunks = read_chunks(spark, chunk_pq)

        sel = ("global_start", "size", "sha256")
        c1 = carve_hits_with_evidence(hits, img, cfg).select(*sel)
        t0 = time.time()
        r1 = sorted(map(tuple, c1.collect()))
        w1 = round(time.time() - t0, 3)
        # steady: fresh plan object (bench.py's convention — rebuild,
        # rerun; JIT/page-cache warm, AQE stage waves still paid)
        c1b = carve_hits_with_evidence(hits, img, cfg).select(*sel)
        t0 = time.time()
        c1b.collect()
        w1s = round(time.time() - t0, 3)

        # evidence_len is threaded exactly as engine.py does (the chunk
        # plan knows it arithmetically) — it lets the carve tell an
        # over-cap cut from evidence end
        c2 = carve_hits_with_chunks(hits, chunks, cfg, window_cap=2 * BLOCK, evidence_len=size)
        c2 = c2.select(*sel)
        p2_planned = plan_profile(c2, executed=False)
        t0 = time.time()
        r2 = sorted(map(tuple, c2.collect()))
        w2 = round(time.time() - t0, 3)
        p2_exec = plan_profile(c2, executed=True)
        c2b = carve_hits_with_chunks(
            hits, chunks, cfg, window_cap=2 * BLOCK, evidence_len=size
        ).select(*sel)
        t0 = time.time()
        c2b.collect()
        w2s = round(time.time() - t0, 3)

        assert r1 == r2, (
            f"strategy outputs diverge @{label}: {len(r1)} vs {len(r2)} rows"
        )
        assert len(r1) == n_docs
        bad = {k: v for k, v in {**p2_planned, **p2_exec}.items() if k in FORBIDDEN and v}
        hits.unpersist()
        spark.catalog.clearCache()
        out[label] = {
            "image_bytes": size,
            "files": n_docs,
            "scan_wall_sec": scan_wall,
            "materialize_wall_sec": mat_wall,
            "positioned_wall_sec": w1,
            "positioned_steady_sec": w1s,
            "chunkjoin_wall_sec": w2,
            "chunkjoin_steady_sec": w2s,
            "chunkjoin_plan": p2_planned,
            "chunkjoin_plan_executed": p2_exec,
            "forbidden": bad,
            "outputs_identical": True,
        }
        print(f"# carve @{label}: positioned {w1}s, chunkjoin {w2}s "
              f"(scan {scan_wall}s, materialize {mat_wall}s), plan={p2_planned}",
              file=sys.stderr)

    row = {
        "sf0.1": out["sf0.1"],
        "sf1": out["sf1"],
        "ratio_positioned": round(
            out["sf1"]["positioned_wall_sec"] / max(out["sf0.1"]["positioned_wall_sec"], 1e-9), 2
        ),
        "ratio_chunkjoin": round(
            out["sf1"]["chunkjoin_wall_sec"] / max(out["sf0.1"]["chunkjoin_wall_sec"], 1e-9), 2
        ),
        "chunkjoin_vs_positioned_sf1": round(
            out["sf1"]["chunkjoin_wall_sec"] / max(out["sf1"]["positioned_wall_sec"], 1e-9), 2
        ),
        "chunkjoin_vs_positioned_sf1_steady": round(
            out["sf1"]["chunkjoin_steady_sec"]
            / max(out["sf1"]["positioned_steady_sec"], 1e-9),
            2,
        ),
        "plan_shape": (
            "stable"
            if {k: out["sf0.1"]["chunkjoin_plan"][k] for k in STRATS}
            == {k: out["sf1"]["chunkjoin_plan"][k] for k in STRATS}
            else "unstable"
        ),
    }
    print(json.dumps({"carve_strategies_jpeg_dense": row}))


if __name__ == "__main__":
    main()
