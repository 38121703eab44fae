"""Per-format carve hit-cost profile (VERDICT r11 task 5): with the
scan stages collapsed to one read (one-pass adoption) the carve
stage's positioned reads become the top per-byte term, so this tool
measures WHERE the carve wall goes by format family — is another
family sweep-bound the way zip's EOCD scan was before the shared
index (r11), or is the stage at its per-hit I/O floor?

Method: build the stress image (bench_engine_1gib textures + one
planted file per MiB), scan once, then carve each file_type's hits as
its own timed action through carve_hits_with_evidence (the positioned-
read strategy the one-pass engine uses). Per-format wall / hits =
cost per hit; a family whose per-hit cost is orders above its peers
at matching hit counts is sweep-bound and a candidate for the shared-
index pattern. Hit counts differ by format (signature specificity),
so the table reports hits, rows, wall and wall/hit together.

Usage: python tools/profile_carve_formats.py [mib] -> one JSON line.
"""
import dataclasses
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from swiftbeaver_spark.config import DEFAULT_CONFIG
from swiftbeaver_spark.session import get_spark
from tools.bench_engine_1gib import MIB, build_image
from tools.hostinfo import host_snapshot

SIZE_MIB = int(sys.argv[1]) if len(sys.argv) > 1 else 1024


def main() -> None:
    host_start = host_snapshot()
    spark = get_spark(app_name="swiftbeaver-carve-profile")
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="sbcarve_")
    path = os.path.join(tmp, "stress.raw")
    build_image(path, SIZE_MIB)

    from swiftbeaver_spark.carve_op import carve_hits_with_evidence
    from swiftbeaver_spark.fused_scan import scan_all_from_evidence

    # ALL default formats, not just the planted six: random/text fill
    # produces false-positive hits for loose signatures, which is the
    # realistic per-hit mix a real image drives through the carvers
    cfg = dataclasses.replace(
        DEFAULT_CONFIG,
        enable_string_scan=False,
        enable_entropy_detection=False,
    )
    hits = scan_all_from_evidence(spark, path, cfg)["hits"].cache()
    n_hits = hits.count()
    by_type = {
        r["file_type_id"]: r["n"]
        for r in hits.groupBy("file_type_id").count().withColumnRenamed("count", "n").collect()
    }
    print(f"# {n_hits} hits across {len(by_type)} formats", file=sys.stderr)

    table = {}
    for ft_id in sorted(by_type, key=by_type.get, reverse=True):
        sub_cfg = cfg  # carve registry stays full; only the hit set narrows
        sub = hits.where(hits.file_type_id == ft_id)
        t0 = time.time()
        rows = carve_hits_with_evidence(sub, path, sub_cfg).count()
        wall = round(time.time() - t0, 3)
        per_hit_ms = round(1000.0 * wall / max(by_type[ft_id], 1), 3)
        table[ft_id] = {
            "hits": by_type[ft_id],
            "carved_rows": rows,
            "wall_sec": wall,
            "ms_per_hit": per_hit_ms,
        }
        print(
            f"# {ft_id}: {by_type[ft_id]} hits -> {rows} rows, "
            f"{wall}s ({per_hit_ms} ms/hit)",
            file=sys.stderr,
        )
    hits.unpersist()
    os.unlink(path)
    print(
        json.dumps(
            {
                "carve_format_profile": {
                    "image_mib": SIZE_MIB,
                    "total_hits": n_hits,
                    "formats": table,
                    "host_start": host_start,
                    "host_end": host_snapshot(),
                }
            }
        )
    )


if __name__ == "__main__":
    main()
