"""Structured Streaming query fronts: the catalog's continuous queries.

- `sessionize_stream`: gap-based sessionization as one native
  `session_window` aggregation in append mode;
- `neardup_probe_stream`: each micro-batch of new documents probes a
  maintained MinHash-LSH band index and appends its hits;
- `crawl_ingest_stream`: micro-batches of WARC archives are parsed,
  content-digested and deduplicated against the ingested corpus and
  prior batches.

The two probe fronts run through `foreachBatch` (not a pure streaming
DAG) because each batch needs a mapInPandas or Arrow step plus static
joins, which are batch-only APIs. Checkpointing is Spark's own
(`checkpointLocation`), with a parquet append sink, so batch replays
are idempotent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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
    stream-batch -> static equi-join plus an Arrow/JVM verify (see the
    module docstring).
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
