"""Engine: the reference pipeline re-expressed as a DataFrame dataflow.

Reference lifecycle (src/pipeline/mod.rs:168-524): chunk reader ->
scan workers -> carve workers -> metadata writer, over bounded
channels. Spark trace of the same plan (SURVEY §3.2):

    raw = scan_all(evidence)                   # one read per sub-chunk feeds
    hits/strings/entropy = project(raw)        #   all three scans (JVM UDF)
    carved = carve(hits)                       # mapInPandas per hit (persisted)
    browser_* = parse(carved sqlite)           # one sqlite3-in-UDF pass per DB
                                               #   (persisted) + joins
    sinks: parquet/jsonl/csv per table

With chunk_join (or bytes input) the same three JVM kernels scan a
cached chunk table instead, and the carve reads the chunk table; same
rows.

Thread boundaries become stage boundaries; bounded-channel
backpressure becomes Spark scheduling; the single-writer metadata
thread becomes parallel columnar writes.
"""

from __future__ import annotations

import os
import secrets
from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from swiftbeaver_spark import chunking
from swiftbeaver_spark.carve_op import carve_hits_with_chunks, carve_hits_with_evidence
from swiftbeaver_spark.config import DEFAULT_CONFIG, EngineConfig
from swiftbeaver_spark.entropy import entropy_regions
from swiftbeaver_spark.scanner import scan_and_normalize
from swiftbeaver_spark.strings_scan import scan_string_artefacts, scan_string_spans

from pyspark.storagelevel import StorageLevel

# Storage level for the one-pass raw metadata frame (see _run_one_pass);
# module-level so tools/bench_persist_level.py can A/B levels in-session.
ONE_PASS_RAW_STORAGE = StorageLevel.MEMORY_AND_DISK


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

    def __getitem__(self, name: str) -> DataFrame:
        return self.tables[name]

    def summary_from_counts(self, counts: dict[str, int]) -> DataFrame:
        """run_summary from per-stage row counts the CALLER itself
        produced (one per full stage action — write_tables records the
        count of every stage write via a fresh write-time Observation),
        so a partial pre-drive between run() and the write cannot
        poison it (ADVICE r10 medium), and no consumed subtree is
        re-derived. A stage with no count reads 0."""

        def n(name: str) -> int:
            return int(counts.get(name, 0))

        return self.tables["chunks"].agg(
            F.coalesce(F.sum("valid_length"), F.lit(0)).cast("long").alias("bytes_scanned"),
            F.count("*").alias("chunks_processed"),
        ).select(
            "bytes_scanned",
            "chunks_processed",
            F.lit(n("hits")).cast("long").alias("hits_found"),
            F.lit(n("carved_files")).cast("long").alias("files_carved"),
            F.lit(n("string_spans")).cast("long").alias("string_spans"),
            F.lit(n("string_artefacts")).cast("long").alias("artefacts_extracted"),
        )

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

    Carve strategy selection (`carve`): pass `evidence_path` to use
    positioned reads — each task re-opens the evidence (right whenever
    executors can reach it as a path: local, NFS, fuse-mounted object
    store), with no window cap at all. Pass `chunks` to carve from the
    materialized chunk table alone (the 100 TB path: the one-pass
    columnar copy replaces all later evidence reads) — one bucketed
    cogroup of hits with contiguous chunk spans (carve_op.py). Heap
    sizing for the chunk-table strategy (run(chunk_join=True) /
    carve(chunks=...)): the working set is the chunk CACHE plus, per
    concurrent task, one bucket group — its bucket's `span` chunks plus
    the `reach` chunks after them, held once as the cogroup's pandas
    frame and once as the assembled run buffer — roughly
    cache_bytes + 2 x concurrent_tasks x (span + reach) x chunk_size,
    with reach = ceil((512 + window) / chunk_size) + 1 chunks and
    span = max(16 MiB / chunk_size, reach). At the production 512 MiB
    chunk and the default 128 MiB window a group is 4 chunks (2 GiB),
    so each concurrent task needs several GiB of heap. This is the CLUSTER
    strategy — the budget is per-executor on a many-node cluster
    (100 TB / 1000 nodes = 100 GB/node, disk-backed) — single-JVM
    local runs should use the default one-pass path, which
    never materializes chunk bytes. The chunk path bounds each
    in-flight hit's window at carve_op._WINDOW_CAP_LIMIT (1.5 GiB):
    per-type windows above that are rejected at plan time, and a carve
    the window cut short (while evidence continues) carries an explicit
    `over_cap` error — file types that genuinely need multi-GiB windows
    (mov/webm at 10 GiB max_size) must carve via `evidence_path`."""

    def __init__(self, spark: SparkSession, cfg: EngineConfig = DEFAULT_CONFIG):
        self.spark = spark
        self.cfg = cfg

    # -- ingestion -----------------------------------------------------------

    def chunks_from_file(self, path: str, resume_from: int | None = None) -> DataFrame:
        """resume_from: checkpoint next_offset (skip already-scanned
        chunks; see swiftbeaver_spark.checkpoint)."""
        return chunking.chunks_from_file(
            self.spark,
            path,
            self.cfg.chunk_size,
            self.cfg.overlap,
            max_bytes=self.cfg.max_bytes,
            max_chunks=self.cfg.max_chunks,
            min_offset=resume_from,
        )

    def chunks_from_bytes(self, data: bytes) -> DataFrame:
        return chunking.chunks_from_bytes(self.spark, data, self.cfg.chunk_size, self.cfg.overlap)

    # -- stages ---------------------------------------------------------------

    def hits(self, chunks: DataFrame) -> DataFrame:
        return scan_and_normalize(chunks, self.cfg)

    def carve(
        self,
        hits: DataFrame,
        evidence_path: str | None = None,
        chunks: DataFrame | None = None,
        evidence_len: int | None = None,
    ) -> DataFrame:
        """Carve by positioned reads when `evidence_path` is given,
        otherwise from the chunk table `chunks` (one bucketed cogroup;
        `evidence_len` lets over-cap cuts be told apart from evidence
        end). See the class docstring for when to use which."""
        if evidence_path is not None:
            carved = carve_hits_with_evidence(hits, evidence_path, self.cfg)
        elif chunks is not None:
            carved = carve_hits_with_chunks(
                hits,
                chunks,
                self.cfg,
                evidence_len=evidence_len,
            )
        else:
            raise ValueError("need evidence_path or chunks")
        if self.cfg.max_files is not None:
            # global cap is sequential semantics in the reference
            # (src/pipeline/mod.rs:328-416); distributed approximation
            carved = carved.orderBy("global_start").limit(self.cfg.max_files)
        return carved

    # -- full run --------------------------------------------------------------

    def run(
        self,
        evidence_path: str | None = None,
        evidence_bytes: bytes | None = None,
        chunk_join: bool = False,
        cache_intermediates: bool = False,
    ) -> RunResult:
        """Scan path: with `evidence_path`, the one-pass multi-scan
        (fused_scan.scan_all_from_evidence): ONE positioned read per
        sub-chunk feeds signature + strings + entropy, and carving does
        targeted positioned reads. With `chunk_join=True` or
        `evidence_bytes`, the scans run over the cached chunk table and
        the carve reads the chunk table itself. Both paths yield the
        same rows (differential-pinned in
        tests/test_engine_one_pass.py and tests/test_fused_scan.py),
        except that only the one-pass scan drops loose-signature hits
        at scan time (scanner.scan_gate_indexes) — hits the carver
        rejects anyway, so carved_files is the same.

        `cache_intermediates=True` persists each stage output
        (MEMORY_AND_DISK — recomputable on executor loss, unlike
        localCheckpoint) so multi-consumer reads evaluate each stage
        ONCE: the reference's single pass computes its run counters
        for free, but the Spark analog's run_summary otherwise
        re-derives every consumed subtree. The setting for full runs
        that drive several tables (write_tables, the stress bench);
        OFF by default so single-table uses stay cache-free. Stage
        outputs are metadata rows (spans/hits/carves), orders of
        magnitude smaller than evidence. On the one-pass path
        string_spans is NOT re-persisted — it is a projection of the
        raw frame below, and double-storing the span content bytes
        OOMed an 8 GiB heap at 10 GiB evidence (r13).

        Always persisted: the one-pass raw metadata frame (that persist
        is what makes the read happen once) and, when the run builds
        browser tables (`evidence_path` set, sqlite among the types),
        the carve frame and the browser parse frame, so the carve and
        each DB's parse run once however many tables are driven. All
        are in RunResult.persisted and CALLER-owned: call
        RunResult.unpersist() when done, or repeated runs in one
        session accumulate executor storage."""
        if evidence_path is not None and not chunk_join:
            return self._run_one_pass(evidence_path, cache_intermediates)
        if evidence_path is not None:
            from swiftbeaver_spark.source import evidence_length

            chunks = self.chunks_from_file(evidence_path)
            total = evidence_length(evidence_path)
        elif evidence_bytes is not None:
            chunks = self.chunks_from_bytes(evidence_bytes)
            total = len(evidence_bytes)
        else:
            raise ValueError("need evidence_path or evidence_bytes")
        chunks = chunks.cache()  # one pass feeds scan, strings, entropy, carve

        hits = self.hits(chunks)
        # evidence_len from the plan's arithmetic — no aggregation job.
        # Scan limits truncate the chunk table, so the byte horizon for
        # over_cap-vs-EOF attribution is the last INCLUDED chunk's end,
        # not the full media length (else a limit-cut carve would claim
        # withheld-by-cap bytes that were never scanned).
        horizon = total
        if self.cfg.max_bytes is not None and self.cfg.max_bytes < total:
            last = (max(self.cfg.max_bytes, 1) - 1) // self.cfg.chunk_size
            horizon = min(horizon, (last + 1) * self.cfg.chunk_size)
        if self.cfg.max_chunks is not None:
            horizon = min(horizon, self.cfg.max_chunks * self.cfg.chunk_size)
        carved = self.carve(hits, chunks=chunks, evidence_len=horizon)
        tables = {"chunks": chunks, "hits": hits, "carved_files": carved}
        if self.cfg.enable_string_scan:
            spans = scan_string_spans(chunks, self.cfg)
            tables["string_spans"] = spans
            tables["string_artefacts"] = scan_string_artefacts(spans, self.cfg)
        if self.cfg.enable_entropy_detection:
            tables["entropy_regions"] = entropy_regions(chunks, self.cfg)
        return self._finish(tables, evidence_path, cache_intermediates)

    def _run_one_pass(self, evidence_path: str, cache_intermediates: bool) -> RunResult:
        """One-pass table graph: scan_all_from_evidence's raw metadata
        frame (persisted — that persist IS the single read) feeds hits/
        spans/entropy; carve stays on targeted positioned reads (hit
        windows only — the one stage whose reads are sparse)."""
        from swiftbeaver_spark.chunking import plan_chunks
        from swiftbeaver_spark.fused_scan import scan_all_from_evidence
        from swiftbeaver_spark.source import evidence_length

        total = evidence_length(evidence_path)
        scans = scan_all_from_evidence(
            self.spark,
            evidence_path,
            self.cfg,
            max_bytes=self.cfg.max_bytes,
            max_chunks=self.cfg.max_chunks,
        )
        # the persist is what makes the evidence read happen ONCE: every
        # derived table reads through this metadata cache (one row per
        # sub-chunk: packed hits + span rows + entropy islands). The
        # frame is the one SIZE-PROPORTIONAL intermediate (span content
        # ~ the text share of the corpus); MEMORY_AND_DISK lets Spark
        # degrade it to disk partition-by-partition when it outgrows
        # the storage pool — the in-session persist-level A/B
        # (tools/bench_persist_level.py, r13) measured MEMORY_AND_DISK
        # vs DISK_ONLY within noise at 4 GiB on local[32], so the
        # graceful default keeps the memory-hit fast path where the
        # frame fits and the disk shape where it does not. Module
        # constant so the A/B tool can swap levels in one session.
        raw = scans["raw"].persist(ONE_PASS_RAW_STORAGE)
        plan = plan_chunks(self.spark, total, self.cfg.chunk_size, self.cfg.overlap)
        if self.cfg.max_bytes is not None:
            plan = plan.where(F.col("start") < int(self.cfg.max_bytes))
        if self.cfg.max_chunks is not None:
            plan = plan.where(F.col("chunk_id") < int(self.cfg.max_chunks))
        hits = scans["hits"]
        carved = self.carve(hits, evidence_path=evidence_path)
        tables = {"chunks": plan, "hits": hits, "carved_files": carved}
        if self.cfg.enable_string_scan:
            spans = scans["string_spans"]
            tables["string_spans"] = spans
            tables["string_artefacts"] = scan_string_artefacts(spans, self.cfg)
        if self.cfg.enable_entropy_detection:
            tables["entropy_regions"] = scans["entropy_regions"]
        return self._finish(
            tables, evidence_path, cache_intermediates, persisted_pre=[raw]
        )

    def _finish(
        self,
        tables: dict[str, DataFrame],
        evidence_path: str | None,
        cache_intermediates: bool,
        persisted_pre: list[DataFrame] | None = None,
    ) -> RunResult:
        """Stage tables -> RunResult (persists, browser tables, lazy
        run_summary). RunResult.persisted holds `persisted_pre` (the
        one-pass raw frame) first and the browser parse frame last; the
        caller frees them (RunResult.unpersist)."""
        persisted: list[DataFrame] = list(persisted_pre or [])
        parse_browser = evidence_path is not None and any(
            ft.type_id == "sqlite" for ft in self.cfg.file_types
        )
        to_persist: list[str] = []
        if cache_intermediates:
            # Under one-pass (persisted_pre holds the raw metadata
            # frame) string_spans is a cheap PROJECTION of that
            # already-persisted frame, and it carries the dominant
            # cache bytes (the span content strings — ~1.4M rows/GiB
            # on text-heavy evidence). Re-persisting it stores those
            # bytes TWICE (raw struct arrays + exploded rows); at
            # 10 GiB the doubled residency OOMed an 8 GiB heap (r13).
            # Skipping it costs one cached-columnar re-read + explode
            # per drive — no evidence I/O. hits / entropy_regions stay
            # persisted: they are metadata-small (thousands of rows
            # per GiB) and their caches save a decode/merge-shuffle
            # per extra drive; real-compute stages (carve, artefact
            # regexes) persist as before.
            skip = {"string_spans"} if persisted_pre else set()
            stages = ("hits", "carved_files", "string_spans", "string_artefacts", "entropy_regions")
            to_persist = [n for n in stages if n in tables and n not in skip]
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
            recovery = self.cfg.enable_sqlite_page_recovery
            parsed = parse_carved_dbs(
                tables["carved_files"].where(F.col("file_type") == "sqlite"),
                evidence_path,
                recovery,
            ).persist(StorageLevel.MEMORY_AND_DISK)
            persisted.append(parsed)
            tables.update(browser_tables(parsed, recovery))
        # the lazy run_summary DataFrame stays the standalone form
        # (single-table users); write_tables counts its own writes
        tables["run_summary"] = self.run_summary(tables)
        return RunResult(tables, persisted)

    def run_summary(self, tables: dict[str, DataFrame]) -> DataFrame:
        """Single-row counters table (reference src/pipeline/mod.rs:256-264,
        434-448). Declarative aggregation — Catalyst folds these into
        partial aggregates per table."""
        chunks = tables["chunks"]
        counts = chunks.agg(
            F.coalesce(F.sum("valid_length"), F.lit(0)).cast("long").alias("bytes_scanned"),
            F.count("*").alias("chunks_processed"),
        )
        hits_n = tables["hits"].agg(F.count("*").alias("hits_found"))
        carved_n = tables["carved_files"].agg(F.count("*").alias("files_carved"))
        spans = tables.get("string_spans")
        spans_n = (
            spans.agg(F.count("*").alias("string_spans"))
            if spans is not None
            else self.spark.range(1).select(F.lit(0).cast("long").alias("string_spans"))
        )
        arts = tables.get("string_artefacts")
        arts_n = (
            arts.agg(F.count("*").alias("artefacts_extracted"))
            if arts is not None
            else self.spark.range(1).select(F.lit(0).cast("long").alias("artefacts_extracted"))
        )
        return counts.crossJoin(hits_n).crossJoin(carved_n).crossJoin(spans_n).crossJoin(arts_n)


def write_tables(
    result: RunResult,
    out_dir: str,
    fmt: str = "parquet",
    run_id: str | None = None,
) -> dict:
    """Sinks (reference src/metadata/{jsonl,csv,parquet}.rs). Parquet is
    the scale path; JSONL/CSV parity formats for the reference's outputs.

    Returns the run_summary row it wrote (as a dict; dryrun writes
    nothing and returns the row it would have written). The row is
    built from row counts THIS function's own write actions produced
    (a fresh write-time Observation per stage write; dryrun uses the
    count directly) plus one arithmetic chunks aggregate, instead of
    re-deriving every subtree (the second-evidence-pass hazard, VERDICT
    r9 task 3); a partial pre-drive between run() and write_tables
    cannot undercount it (ADVICE r10 medium)."""
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

    for name in sorted(n for n in result.tables if n not in ("chunks", "run_summary")):
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

    # summary last: its counts come from the stage writes above
    summary = result.summary_from_counts(write_counts)
    row = summary.collect()[0]
    if fmt != "dryrun":
        write("run_summary", summary.sparkSession.createDataFrame([row], summary.schema))
    return row.asDict()
