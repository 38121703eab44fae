"""Repository benchmark: one command, one workload per invocation.

    python3 perfbench/run.py --workload carve_raw_text --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It builds its inputs from `--seed`,
runs the workload as a closed loop on one local Spark session sized to
this host, checks every output, and prints a run record (host state,
pass walls, tallies) and then, as the last line of stdout, one JSON
object: {"correct", "attempted", "failed", "metrics"}. `--trace 0`
reports the end-to-end metrics, `--trace 1` the per-layer ones.

Everything it writes goes under `.perfbench_work/` in the checkout,
which is removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
NEEDED = ("__spark_entry__.py", "swiftbeaver_spark/__main__.py", "tools/check_oracle.py", "java/src")


def host_memory_mib() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def pin_environment() -> None:
    """Size the session to this host and keep every scratch file inside
    the checkout: without these the session defaults to local[32] and a
    16g heap, and the streaming queries' mkdtemp trees land in /tmp."""
    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("tmp", "jvm-tmp", "spark-local", "data", "out"):
        os.makedirs(os.path.join(WORK, sub))
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = f"{min(4096, host_memory_mib() // 4)}m"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    tempfile.tempdir = None
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.pop("SPARK_MASTER", None)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    missing = [n for n in NEEDED if not os.path.exists(os.path.join(ROOT, n))]
    if missing:
        print(f"perfbench: not a checkout of the repository (missing {missing})", file=sys.stderr)
        return 2
    pin_environment()
    from perfbench import workloads
    from tools.hostinfo import host_snapshot

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    host_start = host_snapshot()
    try:
        h = workloads.start_session(WORK)
        run = workloads.run_carve if args.workload == "carve_raw_text" else workloads.run_catalog_stream
        res = run(h, args.seed, args.seconds, bool(args.trace))
    finally:
        workloads.stop_session()
        shutil.rmtree(WORK, ignore_errors=True)

    if args.trace:
        values = {**h.setup, **res["layers"]}
        metrics = {n: {"value": values.get(n, 0), "unit": unit_of(n)} for n in workloads.per_layer_names()}
    else:
        metrics = {n: {"value": v, "unit": u} for n, (v, u) in res["metrics"].items()}
    tally = res["tally"]
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host_start": host_start,
        "host_end": host_snapshot(),
        "setup": h.setup,
        "pass_walls_s": res.get("walls"),
    }
    print(json.dumps({"run": record}))
    print(
        json.dumps(
            {
                "correct": tally["failed"] == 0,
                "attempted": tally["attempted"],
                "failed": tally["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


def unit_of(name: str) -> str:
    field = name.rsplit(".", 1)[-1]
    if field.startswith("mib_per_core") or field.endswith("mib_s"):
        return "MiB/s"
    if field.endswith("_s"):
        return "s"
    if field.endswith("_ms"):
        return "ms"
    if field.endswith("_bytes"):
        return "bytes"
    if field.endswith("_mib"):
        return "MiB"
    if field in ("yield", "artefacts_per_span", "bytes_per_evidence_byte"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
