"""One-pass per-executor memory law: N consecutive full-pipeline runs
at a stated heap (VERDICT r13 task 1).

Round 13 fixed two structural causes of the first 10 GiB one-pass OOM
(double-persisted span bytes, async unpersist) but the final tree
still OOMed ONCE at 8 GiB heap before completing at the same heap —
so "MEMORY_AND_DISK spills, never OOMs" was sizing, not proof. This
tool is the proof harness: build the bench_engine_1gib stress image
ONCE, then drive the FULL pipeline (all tables + manifest recovery
check) N consecutive times in ONE session at the heap under test —
the exact back-to-back shape that exposed the r13 async-unpersist
overlap — with GC logging so the recorded row carries the measured
peak heap occupancy, not just completed/OOMed.

The law the runs verify (derivation in SCALE.md round 14): the
storage pool (spark.memory.fraction = 0.6 of heap minus 300 MB
reserved) self-bounds by spill/evict, so the OOM-able term is the
UNMANAGED ~0.4 share, which must hold every concurrent task's
transient working set. Per one-pass scan task that set is bounded by
a small multiple of the 16 MiB sub-chunk granule: the block read
(granule + 256 KiB back margin + strings overlap), the span rows'
content strings (<= granule bytes of text share, materialized once
as JVM Strings and once as Catalyst UTF8String), and the serialized
cache-build buffer for the partition being persisted. With c ~ 4-6x
granule per thread: threads x c x granule <= 0.4 x heap, i.e. heap
>= threads x c x granule / 0.4 — at 32 threads and 16 MiB granule
that is 5.1-7.7 GiB, putting 8 GiB (0.25 GB/thread) at the boundary
(matches the r13 observation: one OOM, then completion) and 16 GiB
(0.5 GB/thread, the session.py default) at ~2x headroom.

Usage: python tools/bench_memory_law.py [mib] [heap] [reps]
  e.g.  python tools/bench_memory_law.py 10240 8g 5
Prints one JSON line; deletes the multi-GiB image when done.
"""

import json
import os
import re
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SIZE_MIB = int(sys.argv[1]) if len(sys.argv) > 1 else 10240
HEAP = sys.argv[2] if len(sys.argv) > 2 else "8g"
REPS = int(sys.argv[3]) if len(sys.argv) > 3 else 5

# must precede get_spark: the driver JVM reads this at launch
os.environ["SPARK_DRIVER_MEMORY"] = HEAP

import dataclasses  # noqa: E402

from swiftbeaver_spark.config import DEFAULT_CONFIG  # noqa: E402
from swiftbeaver_spark.engine import Engine, write_tables  # noqa: E402
from swiftbeaver_spark.session import get_spark  # noqa: E402
from tools.bench_engine_1gib import build_image  # noqa: E402
from tools.hostinfo import host_snapshot  # noqa: E402


def gc_peak_mib(log_path: str) -> int | None:
    """Max heap-before-collection across the GC log (unified logging
    'NNNM->MMMM(SSSM)' pause lines) — a lower bound on true peak, but
    GCs are frequent enough under cache-build pressure that it tracks
    the real number within one young-gen."""
    if not os.path.exists(log_path):
        return None
    peak = 0
    pat = re.compile(r"(\d+)M->\d+M\(\d+M\)")
    with open(log_path) as fh:
        for line in fh:
            m = pat.search(line)
            if m:
                peak = max(peak, int(m.group(1)))
    return peak or None


def main() -> None:
    host_start = host_snapshot()
    gc_log = os.path.join(tempfile.gettempdir(), f"sb_gc_{os.getpid()}.log")
    spark = get_spark(
        app_name="swiftbeaver-memory-law",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Xlog:gc:file={gc_log}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="sbmem_")
    path = os.path.join(tmp, "stress.raw")
    t0 = time.time()
    manifest = build_image(path, SIZE_MIB)
    gen_wall = round(time.time() - t0, 3)
    print(f"# image {SIZE_MIB} MiB, {len(manifest)} planted, gen {gen_wall}s,"
          f" heap {HEAP}, reps {REPS}", file=sys.stderr)

    planted_types = {m["type"] for m in manifest}
    cfg = dataclasses.replace(
        DEFAULT_CONFIG,
        file_types=tuple(
            dataclasses.replace(ft, min_size=5)
            for ft in DEFAULT_CONFIG.file_types
            if ft.type_id in planted_types
        ),
        enable_string_scan=True,
        enable_entropy_detection=True,
        enable_sqlite_page_recovery=True,
    )
    engine = Engine(spark, cfg)
    want = {(m["offset"], m["size"], m["sha256"]) for m in manifest}

    runs = []
    try:
        for i in range(REPS):
            load = host_snapshot()["load_1m"]
            t0 = time.time()
            run = engine.run(evidence_path=path, cache_intermediates=True)
            carved = run["carved_files"].select(
                "global_start", "size", "sha256").collect()
            write_tables(run, tmp, fmt="dryrun")  # drives every table
            wall = round(time.time() - t0, 3)
            run.unpersist()  # blocking (r13) — next run must not overlap
            got = {(r["global_start"], r["size"], r["sha256"]) for r in carved}
            recovered = len(want & got)
            runs.append({
                "wall_sec": wall,
                "mib_per_sec": round(SIZE_MIB / wall, 1),
                "recovered": f"{recovered}/{len(want)}",
                "load_1m_at_start": load,
            })
            print(f"# run {i + 1}/{REPS}: {wall}s, {recovered}/{len(want)} "
                  f"recovered, load {load}", file=sys.stderr)
            assert recovered == len(want), "manifest recovery failed"
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    out = {
        "one_pass_memory_law": {
            "size_mib": SIZE_MIB,
            "heap": HEAP,
            "threads": int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
            "consecutive_completions": len(runs),
            "runs": runs,
            "gc_peak_heap_mib": gc_peak_mib(gc_log),
            "host_start": host_start,
            "host_end": host_snapshot(),
        }
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
