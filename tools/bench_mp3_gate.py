"""mp3 scan-time gate A/B (VERDICT r12 task 3): the per-format profile
showed mp3 as the top aggregate carve term — ~10k bare-sync false
hits/GiB (11-bit frame sync) for ~23 real files, ~6 s of the 1 GiB
carve stage. Round 13 hoists the carver's 3-consecutive-valid-frames
rule to hit time (ScanGates.java). This tool
measures what that buys, in-session and alternating (host-variance
discipline):

  - hits-table volume (total + mp3) with the gate ON vs OFF;
  - scan-stage wall ON vs OFF (the gate pays a ~2-header lookahead
    per bare-sync hit at scan time);
  - carve-stage wall over the full hit set ON vs OFF;
  - carved rows asserted IDENTICAL between modes (the gate may only
    remove hits that carve to None).

Gate OFF is produced by patching scanner.mp3_gate_indexes to return
no indices — removing the m3 trailer and the fallback's mp3 check.
This ISOLATES the mp3 gate: the bm/ic gates added later in r13 stay
active in BOTH modes, so the on/off delta measures the mp3 term
alone (it understates the total scan-gate effect — see the
carve_format_profile_all_gates row in BENCH_SCALE_r13.json for the
full-gate hit-volume picture).

Usage: python tools/bench_mp3_gate.py [mib] [rounds] -> one JSON line.
"""
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import dataclasses

from swiftbeaver_spark.config import DEFAULT_CONFIG
from swiftbeaver_spark.session import get_spark
from tools.bench_engine_1gib import build_image
from tools.hostinfo import host_snapshot

SIZE_MIB = int(sys.argv[1]) if len(sys.argv) > 1 else 1024
ROUNDS = int(sys.argv[2]) if len(sys.argv) > 2 else 2


def main() -> None:
    host_start = host_snapshot()
    spark = get_spark(app_name="swiftbeaver-mp3-gate-ab")
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="sbmp3_")
    path = os.path.join(tmp, "stress.raw")
    build_image(path, SIZE_MIB)

    import swiftbeaver_spark.scanner as scanner_mod
    from swiftbeaver_spark.carve_op import carve_hits_with_evidence
    from swiftbeaver_spark.fused_scan import scan_all_from_evidence

    cfg = dataclasses.replace(
        DEFAULT_CONFIG, enable_string_scan=False, enable_entropy_detection=False
    )
    real_gate = scanner_mod.mp3_gate_indexes
    sel = ["file_type", "global_start", "global_end", "size", "sha256", "truncated"]

    def one_mode(gate_on: bool) -> dict:
        scanner_mod.mp3_gate_indexes = real_gate if gate_on else (lambda _cfg: [])
        try:
            t0 = time.time()
            hits = scan_all_from_evidence(spark, path, cfg)["hits"]
            total = hits.count()
            scan_wall = round(time.time() - t0, 3)
            mp3 = hits.where(hits.file_type_id == "mp3").count()
            t0 = time.time()
            carved = carve_hits_with_evidence(hits, path, cfg)
            rows = sorted(map(tuple, carved.select(*sel).collect()))
            carve_wall = round(time.time() - t0, 3)
            return {
                "hits_total": total,
                "hits_mp3": mp3,
                "scan_wall_sec": scan_wall,
                "carve_wall_sec": carve_wall,
                "carved_rows": len(rows),
                "_rows": rows,
            }
        finally:
            scanner_mod.mp3_gate_indexes = real_gate

    obs = {"on": [], "off": []}
    ref_rows = None
    for r in range(ROUNDS):
        for mode in ("on", "off"):
            m = one_mode(mode == "on")
            rows = m.pop("_rows")
            if ref_rows is None:
                ref_rows = rows
            assert rows == ref_rows, f"carved rows differ in mode {mode} round {r}"
            obs[mode].append(m)
            print(f"# round {r} gate={mode}: {m}", file=sys.stderr)

    os.unlink(path)
    best = {
        mode: min(runs, key=lambda m: m["carve_wall_sec"]) for mode, runs in obs.items()
    }
    print(
        json.dumps(
            {
                "mp3_gate_ab": {
                    "image_mib": SIZE_MIB,
                    "rounds": ROUNDS,
                    "observations": obs,
                    "best": best,
                    "mp3_hits_ratio": round(
                        best["on"]["hits_mp3"] / max(best["off"]["hits_mp3"], 1), 4
                    ),
                    "carved_rows_identical": True,
                    "host_start": host_start,
                    "host_end": host_snapshot(),
                }
            }
        )
    )


if __name__ == "__main__":
    main()
