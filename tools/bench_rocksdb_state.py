"""Streaming state-store heap evidence at 1e6-1e7 keys (VERDICT r8
task 5).

The round-8 RocksDB sweep proved provider-independent SEMANTICS at
test scale; the 100 TB claim is about RESIDENCY — the HDFS-backed
store keeps every state entry in executor heap (state ~ key
cardinality), RocksDB keeps the working set native/on-SSD with
changelog checkpointing. This tool runs the q37 sessionizer
(native session_window, one open session per user) over
synthetic event streams with N distinct users under BOTH providers —
each in its OWN subprocess/JVM so heap numbers don't contaminate each
other — and records:

  heap_used_mb    — MemoryMXBean heap after 2x System.gc() post-run
  wall_sec        — availableNow stream to completion
  checkpoint_mb   — du of the streaming checkpoint dir

Usage:
  python tools/bench_rocksdb_state.py [n_keys ...]  # both providers x sizes
  python tools/bench_rocksdb_state.py _one hdfs 1000000   # child mode
  -> one JSON line {"rocksdb_state_residency": {...}}

r13: sizes take from argv (default 2M/5M/10M — the growth-curve steps
VERDICT r12 task 5 asked for after both providers hit the old 1800 s
cap unfinished at 10M), the await cap rises to SB_STATE_CAP_SEC
(default 3600), and each row records keys_per_sec so the throughput
penalty is readable directly.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SIZES = [2_000_000, 5_000_000, 10_000_000]
CAP_SEC = int(os.environ.get("SB_STATE_CAP_SEC", "3600"))


def run_one(provider: str, n_keys: int) -> dict:
    from pyspark.sql import functions as F

    from swiftbeaver_spark.session import get_spark
    from swiftbeaver_spark.streaming import sessionize_stream

    spark = get_spark(
        app_name=f"sb-state-{provider}-{n_keys}",
        rocksdb_state=(provider == "rocksdb"),
    )
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix=f"sbstate_{provider}_")
    src = os.path.join(tmp, "events")
    ckpt = os.path.join(tmp, "ckpt")
    out = os.path.join(tmp, "out")
    # 1.2 events per user on average; every user leaves one OPEN
    # session record in the store (the watermark never passes it in an
    # availableNow run) — state entries == n_keys exactly
    (
        spark.range(int(n_keys * 1.2))
        .selectExpr(
            f"id % {n_keys} as user_id",
            "timestamp_micros(1700000000000000 + id * 1000) as ts",
        )
        .write.mode("overwrite")
        .parquet(src)
    )
    events = spark.readStream.schema("user_id long, ts timestamp").parquet(src)
    sessions = sessionize_stream(events, gap_minutes=30, watermark="10 minutes")
    t0 = time.time()
    q = (
        sessions.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(CAP_SEC)
    if not finished:
        q.stop()
    wall = round(time.time() - t0, 3)
    jvm = spark.sparkContext._jvm  # noqa: SLF001
    jvm.java.lang.System.gc()
    time.sleep(1)
    jvm.java.lang.System.gc()
    time.sleep(1)
    heap = (
        jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        .getHeapMemoryUsage()
        .getUsed()
    )
    ck_bytes = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _dirs, files in os.walk(ckpt)
        for f in files
    )
    res = {
        "provider": provider,
        "keys": n_keys,
        "wall_sec": wall,
        "finished": bool(finished),
        "keys_per_sec": round(n_keys / wall) if finished and wall > 0 else None,
        "heap_used_mb": round(heap / (1 << 20), 1),
        "checkpoint_mb": round(ck_bytes / (1 << 20), 1),
    }
    shutil.rmtree(tmp, ignore_errors=True)
    return res


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "_one":
        print(json.dumps(run_one(sys.argv[2], int(sys.argv[3]))))
        return
    sizes = [int(a) for a in sys.argv[1:]] or SIZES
    rows = []
    for n in sizes:
        for provider in ("hdfs", "rocksdb"):
            p = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "_one", provider, str(n)],
                capture_output=True,
                text=True,
                timeout=CAP_SEC + 900,
            )
            line = [l for l in p.stdout.splitlines() if l.startswith("{")][-1]
            row = json.loads(line)
            rows.append(row)
            print(f"# {row}", file=sys.stderr)
    print(json.dumps({"rocksdb_state_residency": rows}))


if __name__ == "__main__":
    main()
