"""Engine: the reference pipeline re-expressed as a DataFrame dataflow.

Reference lifecycle (src/pipeline/mod.rs:168-524): chunk reader ->
scan workers -> carve workers -> metadata writer, over bounded
channels. Spark trace of the same plan (SURVEY §3.2):

    raw = scan_all(evidence)                   # one read per sub-chunk feeds
    hits/strings/entropy = project(raw)        #   all three scans (JVM UDF,
                                               #   persisted)
    carved = carve(hits)                       # mapInPandas per hit (persisted)
    browser_* = parse(carved sqlite)           # one sqlite3-in-UDF pass per DB
                                               #   (persisted) + joins
    sinks: parquet/jsonl/csv per table, then the run_summary row

Thread boundaries become stage boundaries; bounded-channel
backpressure becomes Spark scheduling; the single-writer metadata
thread becomes parallel columnar writes.
"""

from __future__ import annotations

import secrets
from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from swiftbeaver_spark import chunking, schemas
from swiftbeaver_spark.carve_op import carve_hits_with_evidence
from swiftbeaver_spark.config import DEFAULT_CONFIG, EngineConfig
from swiftbeaver_spark.strings_scan import scan_string_artefacts

from pyspark.storagelevel import StorageLevel


def make_run_id() -> str:
    """`YYYYMMDDTHHMMSSZ_<hex>` (reference src/config.rs:114-126)."""
    now = datetime.now(timezone.utc).strftime("%Y%m%dT%H%M%SZ")
    return f"{now}_{secrets.token_hex(8)}"


@dataclass
class RunResult:
    tables: dict[str, DataFrame]
    # stage frames run() persisted (see Engine.run); the CALLER owns
    # their lifetime — repeated runs in one session leak executor
    # storage unless unpersist() frees them (ADVICE r9)
    persisted: list[DataFrame] = field(default_factory=list)
    # the run summary's scan counters (chunking.kept_extent): known
    # on the driver before any job runs
    bytes_scanned: int = 0
    chunks_processed: int = 0

    def __getitem__(self, name: str) -> DataFrame:
        return self.tables[name]

    def unpersist(self) -> None:
        """Free the stage caches run() created. Call once every
        consumer of the tables has materialised (lazy frames read
        through the cache while it is live).

        Blocking on purpose (r13): DataFrame.unpersist defaults to
        async block dropping, so back-to-back runs (stress bench,
        repeated write_tables) would build the next run's caches while
        the previous run's blocks were still draining — transient
        DOUBLE storage residency, measured as the 10 GiB one-pass OOM
        on an 8 GiB heap."""
        for df in self.persisted:
            df.unpersist(blocking=True)
        self.persisted.clear()


class Engine:
    """Public API analog of `run_pipeline` (reference src/pipeline/mod.rs:98-129).

    `run` builds one table graph: a fused scan (fused_scan.py — one
    positioned read per evidence sub-chunk) whose persisted raw frame
    feeds hits, spans and entropy, then a positioned-read carve.
    Chunk-table scans and carves (the chunk-table catalog queries)
    call fused_scan.scan_all_from_chunks and
    carve_op.carve_hits_with_chunks directly."""

    def __init__(self, spark: SparkSession, cfg: EngineConfig = DEFAULT_CONFIG):
        self.spark = spark
        self.cfg = cfg

    def run(
        self,
        evidence_path: str,
        cache_intermediates: bool = False,
        resume_from: int | None = None,
    ) -> RunResult:
        """The one-pass multi-scan (fused_scan.scan_all_from_evidence):
        ONE positioned read per sub-chunk feeds signature + strings +
        entropy, and carving does targeted positioned reads. The scan's
        raw metadata frame is persisted (that persist is what makes the
        scan run once) and every stage table derives from it in ONE
        table graph. Its rows equal the chunk-table scan and carve over
        cfg.chunk_size chunks (differential-pinned in
        tests/test_engine_one_pass.py against tests/oracles/chunk_run.py),
        except that the one-pass scan drops loose-signature hits at scan
        time (scanner.scan_gate_indexes) — hits the carver rejects
        anyway, so carved_files is the same.

        `resume_from` (a checkpoint's next_offset) skips every parent
        chunk that starts before it: the scan and the run's
        bytes_scanned / chunks_processed cover the rest.

        `cache_intermediates=True` persists each stage output
        (MEMORY_AND_DISK — recomputable on executor loss, unlike
        localCheckpoint) so multi-consumer reads evaluate each stage
        ONCE. The setting for runs whose tables are driven more than
        once (the stress bench, perfbench's traced run); OFF by default
        so single-table uses stay cache-free.

        Always persisted: the raw metadata frame (RunResult.persisted[0])
        and, when sqlite is among the types, the carve frame and the
        browser parse frame, so the carve and each DB's parse run once
        however many tables are driven. All are CALLER-owned: call
        RunResult.unpersist() when done, or repeated runs in one session
        accumulate executor storage."""
        from swiftbeaver_spark.fused_scan import scan_all_from_evidence
        from swiftbeaver_spark.source import evidence_length

        cfg = self.cfg
        total = evidence_length(evidence_path)
        extent = chunking.kept_extent(total, cfg, resume_from)
        scans = scan_all_from_evidence(
            self.spark, evidence_path, cfg, resume_from=resume_from
        )
        # the persist is what makes the scan run ONCE: every derived
        # table reads through this metadata cache (one row per sub-chunk:
        # packed hits + span rows + entropy islands). It is the one
        # SIZE-PROPORTIONAL intermediate (span content ~ the text share
        # of the corpus); MEMORY_AND_DISK degrades it to disk
        # partition by partition when it outgrows the storage pool (an
        # r13 A/B measured it within noise of DISK_ONLY at 4 GiB).
        persisted = [scans["raw"].persist(StorageLevel.MEMORY_AND_DISK)]
        carved = carve_hits_with_evidence(scans["hits"], evidence_path, cfg)
        if cfg.max_files is not None:
            # global cap is sequential semantics in the reference
            # (src/pipeline/mod.rs:328-416); distributed approximation
            carved = carved.orderBy("global_start").limit(cfg.max_files)
        tables = {"hits": scans["hits"], "carved_files": carved}
        if cfg.enable_string_scan:
            tables["string_spans"] = scans["string_spans"]
            tables["string_artefacts"] = scan_string_artefacts(scans["string_spans"], cfg)
        if cfg.enable_entropy_detection:
            tables["entropy_regions"] = scans["entropy_regions"]

        parse_browser = any(ft.type_id == "sqlite" for ft in cfg.file_types)
        to_persist: list[str] = []
        if cache_intermediates:
            # string_spans is NOT re-persisted: it is a cheap PROJECTION
            # of the raw frame and carries the dominant cache bytes (the
            # span content strings — ~1.4M rows/GiB on text-heavy
            # evidence); storing them twice OOMed an 8 GiB heap at 10 GiB
            # (r13). hits / entropy_regions are metadata-small and their
            # caches save a decode/merge-shuffle per extra drive;
            # real-compute stages (carve, artefact regexes) persist too.
            stages = ("hits", "carved_files", "string_artefacts", "entropy_regions")
            to_persist = [n for n in stages if n in tables]
        if parse_browser and "carved_files" not in to_persist:
            # the carve feeds both the carved_files sink and the browser
            # parse; unpersisted, each consumer re-runs it (and
            # re-writes the carved bytes under cfg.output_dir). One
            # metadata row per carved file, no payload bytes.
            to_persist.append("carved_files")
        for name in to_persist:
            tables[name] = tables[name].persist(StorageLevel.MEMORY_AND_DISK)
            persisted.append(tables[name])
        if parse_browser:
            from swiftbeaver_spark.parsers.browser import browser_tables, parse_carved_dbs

            # one parse pass per carved DB, persisted: the three browser
            # tables (and page recovery's merge) are projections of it
            recovery = cfg.enable_sqlite_page_recovery
            parsed = parse_carved_dbs(
                tables["carved_files"].where(F.col("file_type") == "sqlite"),
                evidence_path,
                recovery,
            ).persist(StorageLevel.MEMORY_AND_DISK)
            persisted.append(parsed)
            tables.update(browser_tables(parsed, recovery))
        chunks = -(-len(extent) // cfg.chunk_size)
        return RunResult(tables, persisted, len(extent), chunks)


def write_tables(
    result: RunResult,
    out_dir: str,
    fmt: str = "parquet",
    run_id: str | None = None,
) -> dict:
    """Sinks (reference src/metadata/{jsonl,csv,parquet}.rs). Parquet is
    the scale path; JSONL/CSV parity formats for the reference's outputs.

    Writes every table of the run, then the run_summary row (reference
    src/pipeline/mod.rs:256-264,434-448), and returns that row as a
    dict (dryrun writes nothing and returns the row it would have
    written). The row's table counts are the rows THIS function's own
    write actions produced (a fresh write-time Observation per table;
    dryrun counts directly), so no subtree is re-derived for them and a
    partial pre-drive between run() and write_tables cannot undercount
    them; the scan counters are the run's driver-side ints."""
    from pyspark.sql import Observation

    run_id = run_id or make_run_id()
    write_counts: dict[str, int] = {}

    def write(name: str, out: DataFrame) -> None:
        out = out.withColumn("run_id", F.lit(run_id))
        writer = out.write.mode("overwrite")
        path = f"{out_dir}/{name}"
        if fmt == "parquet":
            writer.parquet(path)
        elif fmt == "jsonl":
            writer.json(path)
        elif fmt == "csv":
            # csv can't nest arrays; flatten errors like the reference's
            # single nullable error column (src/metadata/parquet.rs:910)
            if "errors" in out.columns:
                out = out.withColumn("error", F.array_join("errors", "; ")).drop("errors")
            out.write.mode("overwrite").option("header", True).csv(path)
        else:
            raise ValueError(f"unknown sink format: {fmt}")

    for name in sorted(result.tables):
        df = result.tables[name]
        if fmt == "dryrun":
            # reference DryRun sink (src/metadata/mod.rs:129-171):
            # execute the pipeline, count, write nothing
            write_counts[name] = df.count()
            continue
        obs = Observation()
        write(name, df.observe(obs, F.count(F.lit(1)).alias("n")))
        # the write action just drove the observed frame end to end
        write_counts[name] = int(obs.get["n"])

    # summary last: its counts come from the writes above
    row = {
        "bytes_scanned": result.bytes_scanned,
        "chunks_processed": result.chunks_processed,
        "hits_found": write_counts["hits"],
        "files_carved": write_counts["carved_files"],
        "string_spans": write_counts.get("string_spans", 0),
        "artefacts_extracted": write_counts.get("string_artefacts", 0),
    }
    if fmt != "dryrun":
        spark = result["hits"].sparkSession
        write("run_summary", spark.createDataFrame([row], schemas.RUN_SUMMARY))
    return row
