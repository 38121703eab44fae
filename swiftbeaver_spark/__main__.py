"""CLI entry point: the Spark analog of the reference binary
(`swiftbeaver --input image.dd --output out/`, src/main.rs:37-204 /
src/cli.rs:20-172).

    python -m swiftbeaver_spark --input image.dd --output out/ \
        --types jpeg,png,sqlite --format parquet --enable-string-scan

Lifecycle parity (SURVEY §3.1): parse -> config merge + type filter ->
evidence open (+ optional sha256) -> scan/carve/strings/entropy ->
sinks -> run summary + checkpoint.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import sys
import time


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="swiftbeaver_spark", description="PySpark-native file/artefact carver"
    )
    p.add_argument("--input", required=True, help="evidence path (raw/dd or E01 image)")
    p.add_argument("--output", required=True, help="output directory for metadata tables")
    p.add_argument("--config", default=None, help="YAML config (reference default.yml shape); flags override")
    p.add_argument("--format", default="parquet", choices=["parquet", "jsonl", "csv"])
    p.add_argument("--types", help="comma-separated file types (zip/ole kinds expand)")
    p.add_argument("--chunk-size", type=int, default=None, help="bytes (default 512 MiB)")
    p.add_argument("--overlap", type=int, default=None, help="bytes (default 64 KiB)")
    p.add_argument("--max-bytes", type=int, default=None)
    p.add_argument("--max-chunks", type=int, default=None)
    p.add_argument("--max-files", type=int, default=None)
    p.add_argument("--enable-string-scan", action="store_true")
    p.add_argument("--scan-utf16", action="store_true")
    p.add_argument("--enable-entropy", action="store_true")
    p.add_argument("--entropy-window", type=int, default=None)
    p.add_argument("--entropy-threshold", type=float, default=None)
    p.add_argument("--enable-page-recovery", action="store_true")
    p.add_argument("--quicktime-mode", default=None, choices=["mov", "mp4"])
    p.add_argument("--carve-bytes-to", default=None, help="also write carved file bytes here")
    p.add_argument("--evidence-sha256", action="store_true", help="hash evidence before scan")
    p.add_argument("--checkpoint", default=None, help="checkpoint JSON path (resume if exists)")
    p.add_argument("--master", default=None, help="spark master (default local[N])")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    from swiftbeaver_spark.checkpoint import CheckpointState
    from swiftbeaver_spark.engine import Engine, make_run_id, write_tables
    from swiftbeaver_spark.evidence import evidence_sha256_local
    from swiftbeaver_spark.session import get_spark

    from swiftbeaver_spark.config_yaml import load_config

    loaded = load_config(args.config)
    cfg = loaded.config
    if args.types:
        cfg = cfg.with_types([t.strip() for t in args.types.split(",") if t.strip()])
    updates: dict = {}
    if args.chunk_size is not None:
        updates["chunk_size"] = args.chunk_size
    if args.overlap is not None:
        updates["overlap"] = args.overlap
    # flags override YAML only when actually given (store_true flags
    # can only turn features ON over the config file)
    for name, val in (
        ("max_bytes", args.max_bytes),
        ("max_chunks", args.max_chunks),
        ("max_files", args.max_files),
        ("entropy_window_size", args.entropy_window),
        ("entropy_threshold", args.entropy_threshold),
        ("quicktime_mode", args.quicktime_mode),
        ("output_dir", args.carve_bytes_to),
    ):
        if val is not None:
            updates[name] = val
    for name, flag in (
        ("enable_string_scan", args.enable_string_scan),
        ("string_scan_utf16", args.scan_utf16),
        ("enable_entropy_detection", args.enable_entropy),
        ("enable_sqlite_page_recovery", args.enable_page_recovery),
    ):
        if flag:
            updates[name] = True
    cfg = dataclasses.replace(cfg, **updates)

    # config may pin run_id for provenance linking (config_yaml's
    # load-then-generate contract); generate only when unset
    run_id = cfg.run_id or make_run_id()
    t0 = time.time()

    # E01/EWF containers are read natively (signature-sniffed, not by
    # extension): every task positioned-reads decompressed media through
    # swiftbeaver_spark.source — no ingest-time conversion pass.
    from swiftbeaver_spark.source import evidence_length, is_ewf

    if is_ewf(args.input):
        print("EWF container detected; reading media natively", file=sys.stderr)
    evidence_len = evidence_length(args.input)

    resume_from = None
    if args.checkpoint:
        state = CheckpointState.load(args.checkpoint)
        if state is not None:
            state.validate(cfg.chunk_size, cfg.overlap, evidence_len)
            if state.next_offset >= evidence_len:
                # resuming would scan zero chunks and overwrite the
                # completed run's tables with empty ones
                print("checkpoint complete, nothing to resume", file=sys.stderr)
                return 0
            resume_from = state.next_offset
            print(f"resuming from offset {resume_from}", file=sys.stderr)

    evidence_hash = None
    if args.evidence_sha256:
        evidence_hash = evidence_sha256_local(args.input)
        print(f"evidence sha256: {evidence_hash}", file=sys.stderr)

    spark = get_spark(app_name=f"swiftbeaver-{run_id}", master=args.master)
    spark.sparkContext.setLogLevel("WARN")
    result = Engine(spark, cfg).run(evidence_path=args.input, resume_from=resume_from)

    # the summary row write_tables wrote, from its own write counts
    summary = write_tables(result, args.output, fmt=args.format, run_id=run_id)
    result.unpersist()
    elapsed = time.time() - t0
    mib = summary["bytes_scanned"] / (1024 * 1024)
    report = {
        "run_id": run_id,
        "config_hash": loaded.config_hash,
        **summary,
        "elapsed_sec": round(elapsed, 2),
        "throughput_mib_s": round(mib / elapsed, 2) if elapsed > 0 else None,
        "evidence_sha256": evidence_hash,
    }
    print(json.dumps(report))

    if args.checkpoint:
        from swiftbeaver_spark.chunking import scanned_end

        CheckpointState(
            chunk_size=cfg.chunk_size,
            overlap=cfg.overlap,
            # a --max-bytes / --max-chunks run stops at its last chunk
            next_offset=scanned_end(evidence_len, cfg, resume_from),
            evidence_len=evidence_len,
            run_id=run_id,
        ).save(args.checkpoint)
    return 0


if __name__ == "__main__":
    sys.exit(main())
