"""Structured Streaming front-end: continuous carving over an arriving
chunk table.

The reference is a batch engine with streaming mechanics — bounded
channels, periodic flush, checkpoint/resume (SURVEY §2.6). Spark's
native continuous analog: the chunk table lands as parquet files (an
ingest job appends them as evidence is acquired), `readStream` picks
up new chunk files, the SAME scan/normalize logic runs per micro-batch
through `foreachBatch`, and the sink appends per-table outputs.
Checkpointing is Spark's own (`checkpointLocation`) — exactly replaces
the reference's next_offset resume file, including crash recovery.

foreachBatch (not a pure streaming DAG) because carving needs the
mapInPandas fan-out plus multi-table writes — both batch-only APIs.
"""

from __future__ import annotations

import dataclasses
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from swiftbeaver_spark import schemas
from swiftbeaver_spark.carve_op import carve_hits_with_chunks
from swiftbeaver_spark.config import EngineConfig
from swiftbeaver_spark.fused_scan import scan_all_from_chunks
from swiftbeaver_spark.progress import ProgressSnapshot, ProgressTracker


def stream_chunks(spark: SparkSession, chunk_dir: str, max_files_per_trigger: int = 4) -> DataFrame:
    """Streaming source over an append-only chunk-table directory."""
    return (
        spark.readStream.schema(schemas.CHUNKS)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(chunk_dir)
    )


def start_scan_stream(
    spark: SparkSession,
    chunk_dir: str,
    out_dir: str,
    cfg: EngineConfig,
    checkpoint_dir: str,
    carve: bool = True,
    available_now: bool = False,
    on_batch: Callable[[int, int], None] | None = None,
    on_progress: Callable[[ProgressSnapshot], None] | None = None,
    total_bytes: int | None = None,
) -> StreamingQuery:
    """chunks stream -> hits (+ carved files) appended per micro-batch.

    Each micro-batch is a bounded chunk set, so the batch carve path
    (chunk-range join) applies unchanged — the stream IS the reference's
    pipelined chunk loop with Spark-managed backpressure and restart.

    `on_progress` receives a ProgressSnapshot per micro-batch (the
    reference's periodic MiB/s + ETA tick, src/pipeline/mod.rs:526-583);
    pass `total_bytes` (known evidence size) to get pct/ETA.
    """
    # hits only: the kernel skips the span and entropy scans
    hits_cfg = dataclasses.replace(
        cfg, enable_string_scan=False, enable_entropy_detection=False
    )
    chunks_stream = stream_chunks(spark, chunk_dir)
    tracker = ProgressTracker(total_bytes=total_bytes)
    # cumulative hit count lives driver-side: O(1) per tick like the
    # reference's progress counter (src/pipeline/mod.rs:526-583) — never
    # re-read the accumulated output directory, which would cost
    # O(total-written-so-far) per batch (quadratic over a long run)
    hits_total = [0]

    def process(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.persist()
        hits = scan_all_from_chunks(batch_df, hits_cfg)["hits"]
        if on_batch is not None:
            hits = hits.persist()
        hits.write.mode("append").parquet(f"{out_dir}/hits")
        if carve:
            carved = carve_hits_with_chunks(hits, batch_df, cfg)
            carved.write.mode("append").parquet(f"{out_dir}/carved_files")
        if on_progress is not None:
            # partial-agg over the persisted batch — no source re-scan
            stats = batch_df.agg(
                F.count("*").alias("n"),
                F.coalesce(F.sum("valid_length"), F.lit(0)).alias("b"),
            ).collect()[0]
            on_progress(tracker.tick(batch_id, stats["n"], stats["b"]))
        if on_batch is not None:
            # count THIS batch's hits off the persisted frame (no output
            # re-scan) and fold into the driver-side running total
            hits_total[0] += hits.count()
            on_batch(batch_id, hits_total[0])
            hits.unpersist()
        batch_df.unpersist()

    writer = (
        chunks_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def sessionize_stream(
    events: DataFrame,
    gap_minutes: int = 30,
    watermark: str = "10 minutes",
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Gap-based sessionization over an event stream (the event-time
    analog of the batch q05 sessionize), as one native `session_window`
    aggregation in append mode.

    An event at most `gap_minutes` after its user's previous event
    extends the open session (exactly `gap` merges); a larger gap
    starts a new one. A session emits once, when the watermark passes
    its last event + gap, so late data within the watermark still
    extends it. `session_end` is the last event (`max(ts)`), not the
    window's end (last event + gap).
    """
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(
            F.col(user_col).cast("long").alias("user_id"),
            F.session_window(ts_col, f"{gap_minutes} minutes").alias("sw"),
        )
        .agg(F.max(ts_col).alias("session_end"), F.count("*").alias("n_events"))
        .select("user_id", F.col("sw.start").alias("session_start"), "session_end", "n_events")
    )


def neardup_probe_stream(
    batches: DataFrame,
    index_bands: DataFrame,
    corpus_texts: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.8,
    available_now: bool = True,
):
    """Continuous-ingest near-dup: each micro-batch of new documents
    probes the maintained MinHash-LSH band index
    (llm/dedup.py::incremental_minhash_near_dups) and appends its hits
    — the streaming face of the q95 batch probe, and the production
    loop a continuous crawl runs: the 100 TB corpus is banded once;
    only arriving documents compute signatures.

    foreachBatch (not a pure streaming DAG) because the probe needs a
    stream-batch -> static equi-join plus an Arrow/JVM verify — the
    same reason the scan pipeline uses it (see module docstring).
    Exactly-once: the parquet sink + checkpoint make batch replays
    idempotent."""
    from swiftbeaver_spark.llm.dedup import incremental_minhash_near_dups

    def process(batch_df: DataFrame, batch_id: int) -> None:
        hits = incremental_minhash_near_dups(
            batch_df, index_bands, corpus_texts, threshold=threshold
        )
        hits.write.mode("append").parquet(out_dir)

    writer = (
        batches.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def crawl_ingest_stream(
    archives: DataFrame,
    seen_digests: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Continuous CRAWL ingest: micro-batches of WARC archives are
    parsed by the real reader (llm/warc.py::warc_records), their
    response payloads content-digested, deduplicated IN-BATCH (min
    doc_id per digest), against the already-ingested corpus
    (`seen_digests`, the q58 incremental shape), AND against prior
    batches (the accepted table in `out_dir` is reread per batch),
    then appended exactly-once. This is q131's batch pipeline as the
    loop a crawler actually runs: the corpus is represented only by
    its digest table; arriving archives do all the work.

    foreachBatch for the same reason as the siblings above: the batch
    must run a mapInPandas parse plus static joins. Checkpoint +
    parquet append keep batch replays idempotent (re-runs of an
    already-committed batch re-reject their rows via the accepted
    table)."""
    from pyspark.sql import functions as F

    from swiftbeaver_spark.llm.warc import warc_records

    def _read_accepted(spark: SparkSession):
        """Probe the accepted table through Spark's own reader so the
        check works on ANY Hadoop-compatible filesystem (HDFS/S3/local),
        not just the driver's local disk. A missing or still-empty path
        raises AnalysisException ([PATH_NOT_FOUND] / unable to infer
        schema), which means 'no prior batches' — return None. Any
        OTHER failure (S3 hiccup, permissions, corrupt footer) must
        fail the batch rather than silently disable cross-batch dedup
        and append duplicates, so only AnalysisException is caught."""
        from pyspark.errors import AnalysisException

        try:
            return spark.read.parquet(out_dir).select("digest")
        except AnalysisException:  # path absent or no footer yet
            return None

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        recs = warc_records(batch_df)
        new = recs.select(
            F.substring(F.col("record_id"), 35, 12).cast("bigint").alias("doc_id"),
            F.md5(F.col("payload")).alias("digest"),
        )
        keep = new.groupBy("digest").agg(F.min("doc_id").alias("doc_id"))
        keep = keep.join(seen_digests, "digest", "left_anti")
        accepted = _read_accepted(spark)
        if accepted is not None:
            keep = keep.join(accepted, "digest", "left_anti")
        keep.select("doc_id", "digest").write.mode("append").parquet(out_dir)

    writer = (
        archives.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
