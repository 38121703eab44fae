"""bzip2 sweep-index density A/B (VERDICT r12 task 4 / what's-wrong #1).

The r12 generalization added bzip2 to _SWEEP_FAMILIES on the zip-EOCD
analogy, but the only in-hand measurement was the SPARSE regime (24
hits/GiB) where the >=2-hits-per-bucket gate keeps the per-hit path —
the dense branch itself was never measured. This tool plants the
motivating pathology: a text corpus dense in "BZh"+digit false syncs
(they occur naturally in prose/base64) with byte-aligned end markers
scattered through it, so each per-hit sweep scans forward to the next
marker while the bucketed branch builds the marker index once per
bucket and serves every co-located hit from it.

Method (host-variance discipline): modes alternate in ONE session
(bucketed/per-hit x rounds), carved outputs sorted-collected and
asserted identical every round; bucketed mode INSTALLS a bzip2 entry
into _SWEEP_FAMILIES for the call (the r12 branch — removed from the
shipping table in r13 after this tool measured it 7.3x/8.1x slower
at marker-dense/marker-free density: the stage wall is the hashing
of the truncated carve outputs, which range-bucketing serializes
into one task per max_size bucket). Config narrows to the bzip2 file
type so the carve wall isolates the family under test.

Usage: python tools/bench_bzip2_density.py [mib] [hit_stride_kib]
       [end_stride_kib] [rounds] -> one JSON line.
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
from tools.hostinfo import host_snapshot

SIZE_MIB = int(sys.argv[1]) if len(sys.argv) > 1 else 256
HIT_STRIDE = (int(sys.argv[2]) if len(sys.argv) > 2 else 64) * 1024
END_STRIDE = (int(sys.argv[3]) if len(sys.argv) > 3 else 1024) * 1024
ROUNDS = int(sys.argv[4]) if len(sys.argv) > 4 else 2

_LOREM = (
    b"Lorem ipsum dolor sit amet, consectetur adipiscing elit, sed do "
    b"eiusmod tempor incididunt ut labore et dolore magna aliqua. "
)


def build_corpus(path: str, size: int) -> tuple[int, int]:
    """Text fill + "BZh9" every HIT_STRIDE + end marker every END_STRIDE."""
    from swiftbeaver_spark.carvers.archives import _BZIP2_END

    n_hits = n_ends = 0
    with open(path, "wb") as fh:
        pos = 0
        text = _LOREM * (1 + (1 << 20) // len(_LOREM))
        while pos < size:
            chunk = bytearray(text[: min(1 << 20, size - pos)])
            for i in range(0, len(chunk) - 4, HIT_STRIDE):
                off = (pos + i) % HIT_STRIDE
                j = i + (HIT_STRIDE - off) % HIT_STRIDE
                if j + 4 <= len(chunk):
                    chunk[j : j + 4] = b"BZh9"
                    n_hits += 1
            for i in range(0, len(chunk) - len(_BZIP2_END), END_STRIDE):
                off = (pos + i) % END_STRIDE
                j = i + (END_STRIDE - off) % END_STRIDE + 512
                if j + len(_BZIP2_END) <= len(chunk):
                    chunk[j : j + len(_BZIP2_END)] = _BZIP2_END
                    n_ends += 1
            fh.write(bytes(chunk))
            pos += len(chunk)
    return n_hits, n_ends


def main() -> None:
    host_start = host_snapshot()
    spark = get_spark(app_name="swiftbeaver-bzip2-density-ab")
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="sbbz2_")
    path = os.path.join(tmp, "dense.raw")
    n_hits, n_ends = build_corpus(path, SIZE_MIB << 20)
    print(f"# planted {n_hits} BZh syncs, {n_ends} end markers", file=sys.stderr)

    import swiftbeaver_spark.carve_op as carve_mod
    from swiftbeaver_spark.carve_op import carve_hits_with_evidence
    from swiftbeaver_spark.fused_scan import scan_all_from_evidence

    cfg = dataclasses.replace(
        DEFAULT_CONFIG,
        file_types=tuple(
            ft for ft in DEFAULT_CONFIG.file_types if ft.type_id == "bzip2"
        ),
        enable_string_scan=False,
        enable_entropy_detection=False,
    )
    hits = scan_all_from_evidence(spark, path, cfg)["hits"].cache()
    total_hits = hits.count()
    print(f"# scanned {total_hits} hits", file=sys.stderr)

    def _collect_bzip2_ends_kw(reader, lo, hi):
        from swiftbeaver_spark.carvers.archives import _BZIP2_END
        from swiftbeaver_spark.carvers.base import collect_magic_positions

        return {"end_candidates": collect_magic_positions(reader, lo, hi, _BZIP2_END)}

    orig_fams = carve_mod._SWEEP_FAMILIES
    no_bz = {k: v for k, v in orig_fams.items() if k != "bzip2"}
    real_fams = dict(no_bz)
    real_fams["bzip2"] = (_collect_bzip2_ends_kw, True)
    sel = ["global_start", "global_end", "size", "sha256", "validated", "truncated"]

    def one_mode(bucketed: bool) -> tuple[float, list]:
        carve_mod._SWEEP_FAMILIES = real_fams if bucketed else no_bz
        try:
            t0 = time.time()
            rows = sorted(
                map(
                    tuple,
                    carve_hits_with_evidence(hits, path, cfg).select(*sel).collect(),
                )
            )
            return round(time.time() - t0, 3), rows
        finally:
            carve_mod._SWEEP_FAMILIES = orig_fams

    obs = {"bucketed": [], "per_hit": []}
    ref = None
    for r in range(ROUNDS):
        for mode in ("bucketed", "per_hit"):
            wall, rows = one_mode(mode == "bucketed")
            if ref is None:
                ref = rows
            assert rows == ref, f"outputs differ in mode {mode} round {r}"
            obs[mode].append(wall)
            print(f"# round {r} {mode}: {wall}s ({len(rows)} rows)", file=sys.stderr)

    hits.unpersist()
    os.unlink(path)
    best_b, best_p = min(obs["bucketed"]), min(obs["per_hit"])
    print(
        json.dumps(
            {
                "bzip2_density_ab": {
                    "corpus_mib": SIZE_MIB,
                    "hit_stride_kib": HIT_STRIDE >> 10,
                    "end_stride_kib": END_STRIDE >> 10,
                    "planted_hits": n_hits,
                    "planted_end_markers": n_ends,
                    "scanned_hits": total_hits,
                    "walls": obs,
                    "speedup_bucketed_vs_per_hit": round(best_p / max(best_b, 1e-9), 3),
                    "outputs_identical": True,
                    "host_start": host_start,
                    "host_end": host_snapshot(),
                }
            }
        )
    )


if __name__ == "__main__":
    main()
