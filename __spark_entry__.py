"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises one operator family from SURVEY.md §2
against the driver-generated testdata tables, with a DuckDB oracle in
``oracle_sql()`` (same column names, deterministic values).

Oracle whitespace caveat (documented once, applies to every oracle that
replays ``normalized_text`` as ``regexp_replace(lower(text), '\\s+', ' ',
'g')``): Java's regex ``\\s`` matches vertical tab (0x0B) and file
separators; DuckDB's RE2 ``\\s`` does not match 0x0B. The generated
corpora contain no such bytes (pinned by the tri-SF sweeps), so the two
normalizations agree; a future corpus regen that introduces 0x0B would
need an explicit ``[\\x0b]`` term on the DuckDB side.

Operator coverage map (SURVEY §2 -> query):
  chunk scheduler/overlap      -> q01_chunk_plan, q02_chunked_scan
  multi-pattern signature scan -> q02_chunked_scan, q03_scan_counts
  hit normalization/dedup      -> q02_chunked_scan (overlap filter)
  entropy (shannon)            -> q04_entropy
  entropy region merge         -> q05_sessionize (gaps-and-islands)
  inner join (browser history) -> q06_join_history
  left join + coalesce         -> q07_left_join_coalesce
  groupby dedup first-non-null -> q08_group_dedup
  global aggregation (summary) -> q09_run_summary
  case mapping (dim decode)    -> q10_case_mapping
  webkit/unix time conversion  -> q11_time_conversions
  url parse                    -> q12_url_parse
  email split                  -> q13_email_split
  phone plausibility           -> q14_phone_plausible
  normalize_url                -> q15_normalize_url
  hint flags                   -> q16_string_flags
  url regex extraction         -> q17_extract_urls
  md5/sha2 hashing             -> q18_exact_dedup
plus the LLM-pipeline surface:
  exact dedup                  -> q18_exact_dedup
  ngram jaccard near-dup       -> q19_ngram_jaccard
  token counting               -> q20_token_stats
  quality scoring              -> q21_quality
  language id                  -> q22_langid
  embedding cosine top-k       -> q23_cosine_topk
  pricing summary (decimal agg)-> q24_pricing_summary
  window ranking               -> q25_top_orders
  minhash LSH near-dup         -> q26_minhash_neardup (planted-pair recall oracle)
  simhash near-dup             -> q27_simhash_neardup (planted-pair recall oracle)
  hyperplane-LSH ANN           -> q28_lsh_topk (md5-pinned full replay)
  multimodal metadata          -> q29_media_meta
  REAL carve engine (scan ->
  overlap dedup -> jpeg carver
  -> hash finalize)            -> q30_carve_roundtrip
  declared-size carvers        -> q31_carve_declared
  structured-walk carvers      -> q32_carve_structured
  remaining carver family      -> q33_carve_remaining
  IVF-Flat ANN (pinned
  quantizer, full replay)      -> q34_ivf_topk
  byte-level string spans
  (ascii + utf-16 both ends)   -> q35_string_spans
  near-dup cluster resolution
  (connected components)       -> q36_dedup_clusters
  stateful streaming sessions
  (native session_window)      -> q37_stream_sessionize
plus the training-pipeline surface (q38-q52):
  sequence packing             -> q38_pack_sequences
  stratified hash sampling     -> q39_hash_sample
  PII scrubbing                -> q40_pii_scrub
  vocabulary top-k             -> q41_vocab_topk
  decontamination              -> q42_decontaminate
  C4 line dedup                -> q43_line_dedup
  Gopher repetition metrics    -> q44_repetition_metrics
  built-in session_window      -> q45_session_window
  KMV distinct sketch          -> q46_kmv_sketch
  streaming window aggregation -> q47_stream_window_agg
  as-of join (union-carry)     -> q48_asof_join (DuckDB ASOF JOIN oracle)
  count-min frequency sketch   -> q49_countmin
  weighted sampling (A-ES)     -> q50_weighted_sample
  cross-doc dup-ngram fraction -> q51_crossdoc_dup
  streaming exact dedup        -> q52_stream_dedup
  stream-stream interval join  -> q53_stream_interval_join
  histogram quantile sketch    -> q54_histogram_quantiles
  hashed linear quality score  -> q55_linear_quality
  batch interval join (bucket) -> q56_interval_join_batch
  skew-salted join             -> q57_salted_join
  incremental ingestion dedup  -> q58_incremental_dedup
  BPE vocabulary induction     -> q59_bpe_learn (iterative; rows-only)
  curation pipeline capstone
  (filter -> dedup -> pack)    -> q60_curation_pipeline
round-3 additions (q61-q84):
  time-bucket rollup (OHLC)    -> q61_time_rollup
  BM25 relevance (ratio idf)   -> q62_bm25
  Bloom filter membership      -> q63_bloom_membership
  ordered funnel               -> q64_funnel
  SCD2 dimension history       -> q65_scd2
  Z-order (Morton) keys        -> q66_zorder
  mean token rarity            -> q67_token_rarity
  exactly-k stratified sample  -> q68_stratified_fixed_k
  skew profiler                -> q69_skew_profile
  sketch-driven outlier filter -> q70_sketch_outliers
  edit-distance near-dup join  -> q71_edit_distance_neardup
  inverted-index build         -> q72_inverted_index
  pivot matrix                 -> q73_pivot_matrix
  ROLLUP grouping sets         -> q74_rollup_revenue
  streaming count-min maint.   -> q75_stream_countmin (q49 oracle: merge==batch)
  MERGE upsert                 -> q76_merge_upsert
  per-label embedding centroids-> q77_label_centroids
  stream-static join           -> q78_stream_static_join
  grouped top-n                -> q79_grouped_topn
  fixed-iteration PageRank     -> q80_pagerank (oracle unrolls 3 iterations)
  one-pass column profiler     -> q81_profile
  quality deciles (ntile)      -> q82_quality_deciles
  multiset INTERSECT/EXCEPT ALL-> q83_multiset_ops
  weighted corpus mixture      -> q84_corpus_mixture
  product-quantization ANN     -> q85_pq_topk (md5-pinned codebooks, full replay)
  int8 scalar quantization     -> q86_sq8_quantize (train replayed in SQL)
  1-bit Hamming ANN            -> q87_binary_hamming_topk (train replayed in SQL)
"""

from __future__ import annotations

import hashlib
import os
import sys
from collections.abc import Callable

# the swiftbeaver_spark package lives next to this file
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from swiftbeaver_spark.parallel import _cached_partition_count, spread
from swiftbeaver_spark.parsers.timeconv import (
    NTZ_EPOCH_SQL,
    ts_unix_micros,
    ts_unix_micros_sql,
)

SF_DEFAULT = "/root/testdata/sf0.001"

# chunked-scan geometry for the documents "evidence" analog
CHUNK, OVERLAP = 64, 16
PATTERNS = ["spark", "merge"]

LANGS = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "was", "for"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "es": ["el", "la", "los", "las", "que", "de", "y", "es", "en", "por"],
    "fr": ["le", "la", "les", "et", "est", "pas", "pour", "que", "une", "dans"],
}

# --- exact money sums on the long fast path (r14, guide §2.3 narrower
# types). SUM over DECIMAL(18,2) can't use Spark's unscaled-long
# aggregate fast path (the result type DECIMAL(28,2) overflows the
# compact representation guard), so every row pays a BigDecimal add —
# measured 0.92 s vs 0.39 s for two sums over sf0.1 lineitem (noop
# sink, OPTIMIZATION_r14.md). The replacement keeps the per-row
# CAST(x AS DECIMAL(p,k)) — the semantic anchor both Spark and the
# DuckDB oracle share (both round the SHORTEST decimal representation:
# 1.005d -> 1.01, not the binary expansion's 1.00) — but extracts the
# integer "units" (cents / 10^-4 discount units / 10^-6 product units)
# and sums them as plain longs, rebuilding the DECIMAL string on the
# final handful of rows. Two details make it exact:
#   * units := round(dec.cast(double) * 10^k): after the decimal cast
#     the value IS an integer multiple of 10^-k, so the double product
#     sits within ~1e-9 of that integer — never near a .5 boundary —
#     and the round recovers it exactly for |units| < 2^53 (~9e13
#     dollars/row, 6 orders above any money value; a naive
#     round(x*10^k) WITHOUT the cast was rejected: it diverges from
#     the cast semantics on .xx5-boundary inputs, caught by
#     tests/test_plans.py::test_split_sum_money_exact_vs_decimal).
#   * a single long accumulator would overflow at 100 TB row counts
#     (sum of 10^-6-unit products reaches ~10^22 at 6e11 rows), so the
#     sum is SPLIT: hi = units div 10^6 and lo = units mod 10^6 are
#     summed separately (each bounded by ~10^6/row -> ~10^17-10^18 at
#     6e11 rows/group, inside long range) and recombined exactly in
#     DECIMAL(38) arithmetic over the aggregated rows only.
# Byte-identical to the DECIMAL formulation at sf0.001/0.01/0.1 and
# under the oracle hashes (tools/drive_contract.py, all three SFs).
_SPLIT_M = 1_000_000


def _units(x: Column, digits: int, prec: int = 18) -> Column:
    """Exact integer 10^-digits units of CAST(x AS DECIMAL(prec,digits)),
    as a long, on the double fast path."""
    dec = x.cast(f"decimal({prec},{digits})")
    return F.round(dec.cast("double") * F.lit(10**digits)).cast("long")


def _split_sum(units: Column) -> tuple[Column, Column]:
    """hi/lo split sums of a nonnegative integer-valued long column.
    units < 2^53 (max here ~10^11.5), so the floor-division through
    double is exact: the true quotient is >= 1e-6 away from the next
    integer while the division error is ~1e-11."""
    hi = F.sum(F.floor(units / F.lit(_SPLIT_M)).cast("long"))
    lo = F.sum(units % F.lit(_SPLIT_M))
    return hi, lo


def _recombine(hi: Column, lo: Column, unit_div: int, out_type: str) -> Column:
    """(hi*M + lo) / unit_div rebuilt in DECIMAL(38) space (exact: the
    division only strips the fixed unit scale) and cast to the exact
    output type the DECIMAL formulation produced."""
    total = hi.cast("decimal(38,0)") * _SPLIT_M + lo.cast("decimal(38,0)")
    return (total / F.lit(unit_div)).cast(out_type)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS), which Spark rejects;
        # read as long and truncate to µs (DuckDB oracles CAST to the
        # µs TIMESTAMP type for the same truncation)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            # build TIMESTAMP_NTZ directly (naive UTC) so this fallback
            # agrees with the direct parquet-µs path, which Spark infers
            # as NTZ — timestamp_micros would make an instant that
            # shifts under a non-UTC driver session
            df = df.withColumn(
                "ts",
                F.timestamp_add(
                    "MICROSECOND", F.expr("ts div 1000"), F.expr(NTZ_EPOCH_SQL)
                ),
            )
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _presort(df: DataFrame, *cols: str) -> DataFrame:
    """Range-partition BELOW a heavy projection so the query's final
    global sort costs one execution of the projection instead of two:
    `orderBy` is a range Exchange whose boundary sampling executes its
    CHILD plan in full, so `heavy_projection().orderBy(k)` evaluates
    the projection twice. `_presort(df, k).heavy_projection()
    .sortWithinPartitions(k)` produces byte-identical rows and order
    (range partitions are collected in key order), samples only the
    narrow scan, and runs the projection once — width floored at the
    session parallelism for byte-small inputs (see parallel.spread)."""
    sc = df.sparkSession.sparkContext
    n = max(sc.defaultParallelism, _cached_partition_count(df))
    return df.repartitionByRange(n, *cols)


# --- §2.1 chunk scheduler ----------------------------------------------------


def q01_chunk_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """build_chunks geometry over documents.text (reference src/chunk.rs:9-35):
    chunk_size + overlap, valid_length = min(chunk, total-start)."""
    docs = _t(spark, sf_dir, "documents")
    n_chunks = F.ceil(F.length("text") / CHUNK).cast("long")
    return (
        # length > 0: Spark's sequence(0, -1) defaults to step -1 and
        # yields [0, -1] — an empty doc would emit two phantom chunks
        # (one underflowing into the previous doc's address window)
        # where the oracle's generate_series(0, -1) yields none
        docs.where(F.length("text") > 0)
        .select(
            "doc_id",
            F.length("text").alias("total_len"),
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
        )
        .select(
            "doc_id",
            "chunk_id",
            (F.col("chunk_id") * CHUNK).alias("start"),
            F.least(F.lit(CHUNK), F.col("total_len") - F.col("chunk_id") * CHUNK).alias(
                "valid_length"
            ),
            F.least(
                F.lit(CHUNK + OVERLAP), F.col("total_len") - F.col("chunk_id") * CHUNK
            ).alias("read_length"),
        )
    )


def q01_sql() -> str:
    return f"""
    SELECT doc_id, chunk_id, chunk_id * {CHUNK} AS start,
           LEAST({CHUNK}, total_len - chunk_id * {CHUNK}) AS valid_length,
           LEAST({CHUNK + OVERLAP}, total_len - chunk_id * {CHUNK}) AS read_length
    FROM (
      SELECT doc_id, length(text) AS total_len,
             unnest(generate_series(0, CAST(ceil(length(text)/{CHUNK}.0) AS BIGINT) - 1)) AS chunk_id
      FROM documents
    )
    """


# --- §2.2 signature scan + overlap dedup ------------------------------------


_DOC_SPAN = 1 << 20  # per-doc address window in the fused scan space


def q02_chunked_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's core operator run over text: chunk with overlap, scan
    every chunk for all patterns, drop overlap-tail hits, globalize
    offsets. The oracle scans the unchunked text directly — equality
    proves the overlap-dedup semantics (reference workers.rs:136-155).

    Routed through the engine's real scan kernel
    (fused_scan.scan_all_from_chunks, JVM Aho-Corasick) instead of the
    round-1 interpreted F.aggregate fold. Docs embed into one address
    space at doc_id * _DOC_SPAN so the kernel's (start + local_offset)
    math carries the doc identity through the scan into its normalized
    global_offset. The chunk table derives from docs in ONE narrow pass
    (explode + substring — same geometry as q01_chunk_plan, no join
    back to the text), with the docs spread to cluster parallelism
    first: the scan kernel costs per byte
    scanned, but a 0.6 MB corpus is 1 file split and AQE would pin the
    whole stage to one core (measured ~30% of q02 at sf0.1)."""
    from swiftbeaver_spark.config import EngineConfig, FileType, Pattern
    from swiftbeaver_spark.fused_scan import scan_all_from_chunks

    docs = spread(
        _t(spark, sf_dir, "documents").select("doc_id", "text")
    ).where(F.length("text") > 0)  # see q01: sequence(0,-1) = [0,-1]
    n_chunks = F.ceil(F.length("text") / CHUNK).cast("long")
    exploded = docs.select(
        "doc_id",
        "text",
        F.length("text").alias("total_len"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    )
    chunk_tbl = exploded.select(
        (F.col("doc_id") * _DOC_SPAN + F.col("chunk_id") * CHUNK).alias("start"),
        F.least(F.lit(CHUNK), F.col("total_len") - F.col("chunk_id") * CHUNK)
        .cast("long")
        .alias("valid_length"),
        F.encode(
            F.substring(F.col("text"), F.col("chunk_id") * CHUNK + 1, CHUNK + OVERLAP),
            "utf-8",
        ).alias("data"),
    )
    cfg = EngineConfig(
        file_types=(
            FileType(
                type_id="q02",
                extensions=(),
                header_patterns=tuple(
                    Pattern(pattern_id=p, hex=p.encode().hex()) for p in PATTERNS
                ),
                max_size=0,
                min_size=0,
                validator="",
            ),
        )
    )
    hits = scan_all_from_chunks(chunk_tbl, cfg)["hits"]
    fused = F.col("global_offset")
    return (
        hits.select(
            (fused / _DOC_SPAN).cast("long").alias("doc_id"),
            F.col("pattern_id").alias("pattern"),
            (fused % _DOC_SPAN).alias("global_offset"),
        )
        .orderBy("doc_id", "pattern", "global_offset")
    )


def q02_sql() -> str:
    pats = ", ".join(f"'{p}'" for p in PATTERNS)
    return f"""
    SELECT d.doc_id, pt.pattern, gs.p AS global_offset
    FROM documents d
    CROSS JOIN (SELECT unnest([{pats}]) AS pattern) pt
    CROSS JOIN LATERAL (
      SELECT unnest(generate_series(0, length(d.text) - length(pt.pattern))) AS p
    ) gs
    WHERE substr(d.text, gs.p + 1, length(pt.pattern)) = pt.pattern
    ORDER BY d.doc_id, pt.pattern, global_offset
    """


def q03_scan_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-pattern corpus hit counts (memchr-scan analog as pure column
    math: occurrences = (len - len(replace)) / plen)."""
    docs = _t(spark, sf_dir, "documents")
    per_pat = [
        F.sum(
            (F.length("text") - F.length(F.replace(F.col("text"), F.lit(p), F.lit(""))))
            / len(p)
        )
        .cast("long")
        .alias(f"hits_{p}")
        for p in PATTERNS
    ]
    return docs.agg(F.count("*").alias("n_docs"), *per_pat)


def q03_sql() -> str:
    cols = ", ".join(
        f"CAST(SUM((length(text) - length(replace(text, '{p}', ''))) / {len(p)}) AS BIGINT) AS hits_{p}"
        for p in PATTERNS
    )
    return f"SELECT COUNT(*) AS n_docs, {cols} FROM documents"


# --- §2.2 entropy / §2.4 gaps-and-islands -----------------------------------


def q04_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the event_type distribution per user
    (reference shannon_entropy src/entropy.rs:76-91, over symbols)."""
    events = _t(spark, sf_dir, "events")
    counts = events.groupBy("user_id", "event_type").agg(F.count("*").alias("c"))
    totals = counts.groupBy("user_id").agg(F.sum("c").alias("n"))
    ent = (
        counts.join(totals, "user_id")
        .groupBy("user_id")
        .agg(
            F.round(
                -F.sum((F.col("c") / F.col("n")) * F.log2(F.col("c") / F.col("n"))), 6
            ).alias("entropy")
        )
    )
    return ent.orderBy("user_id")


def q04_sql() -> str:
    return """
    SELECT user_id,
           ROUND(-SUM((c / CAST(n AS DOUBLE)) * log2(c / CAST(n AS DOUBLE))), 6) AS entropy
    FROM (
      SELECT user_id, event_type, COUNT(*) AS c,
             SUM(COUNT(*)) OVER (PARTITION BY user_id) AS n
      FROM events GROUP BY user_id, event_type
    )
    GROUP BY user_id ORDER BY user_id
    """


SESSION_GAP_MIN = 30


def q05_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands (entropy region merge analog, SURVEY §2.2):
    lag -> boundary flag -> running sum -> per-island aggregate."""
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = events.withColumn("prev_ts", F.lag("ts").over(w)).withColumn(
        "new_session",
        F.when(
            F.col("prev_ts").isNull()
            | (
                F.unix_timestamp("ts") - F.unix_timestamp("prev_ts")
                > SESSION_GAP_MIN * 60
            ),
            1,
        ).otherwise(0),
    )
    sessions = flagged.withColumn(
        "session_id", F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    # session_start/end as formatted strings: the driver gate hashes
    # collected values as text, and native timestamp objects canonicalize
    # differently between Spark and DuckDB (round-1 q05 hash drift)
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_start"
            ),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_end"
            ),
            F.count("*").alias("n_events"),
        )
        .orderBy("user_id", "session_id")
    )


def q05_sql() -> str:
    gap = SESSION_GAP_MIN * 60
    return f"""
    SELECT user_id, session_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
           COUNT(*) AS n_events
    FROM (
      SELECT user_id, ts,
             -- BIGINT cast: DuckDB SUM(int) yields HUGEINT, which lands as
             -- float64 in the driver's pandas canon ('29.0' vs '29')
             CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM (
        SELECT user_id, event_id, ts,
               CASE WHEN prev_ts IS NULL
                         OR date_diff('second', prev_ts, ts) > {gap}
                    THEN 1 ELSE 0 END AS new_session
        FROM (
          SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
                 LAG(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_ts
          FROM events
        )
      )
    )
    GROUP BY user_id, session_id ORDER BY user_id, session_id
    """


# --- §2.4 relational operators ----------------------------------------------


def q06_join_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner-join chain (browser history analog: visits⋈urls becomes
    orders⋈customer⋈nation⋈region); dims broadcast."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            "o_orderkey",
            "c_name",
            F.col("n_name").alias("nation"),
            F.col("r_name").alias("region"),
            "o_orderdate",
        )
        .orderBy("o_orderkey")
    )


def q06_sql() -> str:
    return """
    SELECT o_orderkey, c_name, n_name AS nation, r_name AS region, o_orderdate
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    ORDER BY o_orderkey
    """


def q07_left_join_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT JOIN + COALESCE (Chrome downloads analog,
    reference sqlite_db.rs:462-505)."""
    lineitem = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").where(F.col("p_size") > 40)
    return (
        lineitem.join(part, lineitem.l_partkey == part.p_partkey, "left")
        .select(
            "l_orderkey",
            "l_linenumber",
            F.coalesce(F.col("p_name"), F.lit("unknown-part")).alias("part_name"),
            F.coalesce(F.col("p_brand"), F.lit("NONE")).alias("brand"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


def q07_sql() -> str:
    return """
    SELECT l_orderkey, l_linenumber,
           COALESCE(p_name, 'unknown-part') AS part_name,
           COALESCE(p_brand, 'NONE') AS brand
    FROM lineitem
    LEFT JOIN (SELECT * FROM part WHERE p_size > 40) p ON l_partkey = p_partkey
    ORDER BY l_orderkey, l_linenumber
    """


def q08_group_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-by dedup with first-non-null merge (page-recovery analog,
    reference sqlite_pages.rs:100-127) — deterministic via min_by on
    event_id."""
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy("user_id")
        .agg(
            F.min_by(
                "event_type", F.when(F.col("value") > 100, F.col("event_id"))
            ).alias("first_big_event_type"),
            F.min_by("ts", F.when(F.col("value") > 100, F.col("event_id"))).alias(
                "first_big_ts"
            ),
            F.count("*").alias("n_events"),
        )
        .orderBy("user_id")
    )


def q08_sql() -> str:
    return """
    SELECT user_id,
           min_by(event_type, CASE WHEN value > 100 THEN event_id END) AS first_big_event_type,
           min_by(CAST(ts AS TIMESTAMP), CASE WHEN value > 100 THEN event_id END) AS first_big_ts,
           COUNT(*) AS n_events
    FROM events GROUP BY user_id ORDER BY user_id
    """


def q09_run_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global counters row (RunSummary analog, reference
    src/pipeline/mod.rs:256-264). Money sums in DECIMAL for exactness."""
    lineitem = _t(spark, sf_dir, "lineitem")
    # decimal sums and the max timestamp go out as strings — driver-gate
    # canonicalization of Decimal/timestamp objects drifted in round 1.
    # The sums run as split long-cents (_split_sum: r14, −46% on the
    # noop-isolated aggregate) and rebuild the DECIMAL(28,2) strings the
    # original SUM(DECIMAL(18,2)) produced — byte-identical at all three
    # SFs and under the oracle hash.
    qty_hi, qty_lo = _split_sum(_units(F.col("l_quantity"), 2))
    price_hi, price_lo = _split_sum(_units(F.col("l_extendedprice"), 2))
    return lineitem.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        qty_hi.alias("_qh"),
        qty_lo.alias("_ql"),
        price_hi.alias("_ph"),
        price_lo.alias("_pl"),
        F.date_format(F.max("l_shipdate"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "last_ship"
        ),
    ).select(
        "n_rows",
        "n_orders",
        _recombine(F.col("_qh"), F.col("_ql"), 100, "decimal(28,2)")
        .cast("string")
        .alias("sum_qty"),
        _recombine(F.col("_ph"), F.col("_pl"), 100, "decimal(28,2)")
        .cast("string")
        .alias("sum_price"),
        "last_ship",
    )


def q09_sql() -> str:
    return """
    SELECT COUNT(*) AS n_rows, COUNT(DISTINCT l_orderkey) AS n_orders,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS sum_price,
           strftime(MAX(l_shipdate), '%Y-%m-%d %H:%M:%S.%f') AS last_ship
    FROM lineitem
    """


_EVENT_LABELS = [
    ("click", "interaction"),
    ("view", "interaction"),
    ("purchase", "conversion"),
    ("signup", "conversion"),
    ("error", "failure"),
]


def q10_case_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE-chain dim decode (transition label analog,
    reference sqlite_db.rs:624-653)."""
    events = _t(spark, sf_dir, "events")
    expr = F.lit("other")
    for val, label in reversed(_EVENT_LABELS):
        expr = F.when(F.col("event_type") == val, label).otherwise(expr)
    return (
        events.select(expr.alias("category"))
        .groupBy("category")
        .agg(F.count("*").alias("n"))
        .orderBy("category")
    )


def q10_sql() -> str:
    whens = " ".join(f"WHEN event_type = '{v}' THEN '{l}'" for v, l in _EVENT_LABELS)
    return f"""
    SELECT CASE {whens} ELSE 'other' END AS category, COUNT(*) AS n
    FROM events GROUP BY 1 ORDER BY category
    """


WEBKIT_OFFSET_US = 11_644_473_600 * 1_000_000


def _ntz_of_micros(micros: Column) -> Column:
    """Wall-clock µs -> TIMESTAMP_NTZ, timezone-free (`timestamp_micros`
    would produce an instant that shifts under a non-UTC session)."""
    from swiftbeaver_spark.parsers.timeconv import NTZ_EPOCH_SQL

    return F.timestamp_add("MICROSECOND", micros, F.expr(NTZ_EPOCH_SQL))


def q11_time_conversions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """webkit-µs and unix-µs roundtrips (reference src/parsers/time.rs):
    derive µs columns from ts, convert back, guard <=0 -> null."""
    events = _t(spark, sf_dir, "events")
    unix_us = ts_unix_micros(F.col("ts"))
    webkit_us = unix_us + F.lit(WEBKIT_OFFSET_US)
    return (
        events.select(
            "event_id",
            unix_us.alias("unix_us"),
            webkit_us.alias("webkit_us"),
            F.when(unix_us > 0, _ntz_of_micros(unix_us)).alias("from_unix"),
            F.when(
                webkit_us > 0, _ntz_of_micros(webkit_us - F.lit(WEBKIT_OFFSET_US))
            ).alias("from_webkit"),
        )
        .orderBy("event_id")
    )


def q11_sql() -> str:
    return f"""
    SELECT event_id,
           epoch_us(uts) AS unix_us,
           epoch_us(uts) + {WEBKIT_OFFSET_US} AS webkit_us,
           CASE WHEN epoch_us(uts) > 0 THEN make_timestamp(epoch_us(uts)) END AS from_unix,
           CASE WHEN epoch_us(uts) + {WEBKIT_OFFSET_US} > 0
                THEN make_timestamp(epoch_us(uts)) END AS from_webkit
    FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS uts FROM events) ORDER BY event_id
    """


def _synth_url(custkey, segment, nationkey):
    """Deterministic URL synthesized from customer columns."""
    return F.concat(
        F.lit("https://"),
        F.lower(F.regexp_replace(segment, " ", "")),
        F.lit(".example.com:"),
        (F.lit(8000) + nationkey).cast("string"),
        F.lit("/cust/"),
        custkey.cast("string"),
        F.lit("?seg="),
        F.lower(segment),
        F.lit("#f"),
        nationkey.cast("string"),
    )


def q12_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL component split (reference parse_url_parts,
    src/metadata/parquet.rs:1635-1688) via regex — identical expressions
    on both engines."""
    customer = _t(spark, sf_dir, "customer")
    url = _synth_url(F.col("c_custkey"), F.col("c_mktsegment"), F.col("c_nationkey"))
    df = customer.select("c_custkey", url.alias("url"))
    return df.select(
        "c_custkey",
        "url",
        F.regexp_extract("url", r"^([a-z]+)://", 1).alias("scheme"),
        F.regexp_extract("url", r"^[a-z]+://([^/:?#]+)", 1).alias("host"),
        F.regexp_extract("url", r":(\d+)", 1).cast("int").alias("port"),
        F.regexp_extract("url", r"^[a-z]+://[^/?#]+(/[^?#]*)", 1).alias("path"),
        F.regexp_extract("url", r"\?([^#]*)", 1).alias("query"),
        F.regexp_extract("url", r"#(.*)$", 1).alias("fragment"),
    ).orderBy("c_custkey")


def q12_sql() -> str:
    url = (
        "'https://' || lower(replace(c_mktsegment, ' ', '')) || '.example.com:' || "
        "CAST(8000 + c_nationkey AS VARCHAR) || '/cust/' || CAST(c_custkey AS VARCHAR) || "
        "'?seg=' || lower(c_mktsegment) || '#f' || CAST(c_nationkey AS VARCHAR)"
    )
    return f"""
    SELECT c_custkey, url,
           regexp_extract(url, '^([a-z]+)://', 1) AS scheme,
           regexp_extract(url, '^[a-z]+://([^/:?#]+)', 1) AS host,
           CAST(regexp_extract(url, ':(\\d+)', 1) AS INT) AS port,
           regexp_extract(url, '^[a-z]+://[^/?#]+(/[^?#]*)', 1) AS path,
           regexp_extract(url, '\\?([^#]*)', 1) AS query,
           regexp_extract(url, '#(.*)$', 1) AS fragment
    FROM (SELECT c_custkey, {url} AS url FROM customer)
    ORDER BY c_custkey
    """


def q13_email_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """local_part/domain split (reference src/metadata/parquet.rs:1691+)."""
    customer = _t(spark, sf_dir, "customer")
    email = F.concat(
        F.lower(F.regexp_replace("c_name", r"[^A-Za-z0-9]", ".")),
        F.lit("@mail"),
        F.col("c_nationkey").cast("string"),
        F.lit(".example.org"),
    )
    df = customer.select("c_custkey", email.alias("email"))
    return df.select(
        "c_custkey",
        "email",
        F.substring_index("email", "@", 1).alias("local_part"),
        F.substring_index("email", "@", -1).alias("domain"),
    ).orderBy("c_custkey")


def q13_sql() -> str:
    return """
    SELECT c_custkey, email,
           split_part(email, '@', 1) AS local_part,
           split_part(email, '@', 2) AS domain
    FROM (
      SELECT c_custkey,
             lower(regexp_replace(c_name, '[^A-Za-z0-9]', '.', 'g')) || '@mail' ||
             CAST(c_nationkey AS VARCHAR) || '.example.org' AS email
      FROM customer
    )
    ORDER BY c_custkey
    """


def q14_phone_plausible(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10..15 digits with >=4 unique (reference src/strings/mod.rs:194-210)
    over synthesized phone-ish strings (some implausible by design)."""
    customer = _t(spark, sf_dir, "customer")
    phone = F.when(
        F.col("c_custkey") % 7 == 0, F.lit("0000000000")  # low-entropy reject
    ).otherwise(
        F.concat(
            F.lit("+1-"),
            F.lpad((F.col("c_custkey") * 7919 % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((F.col("c_custkey") * 104729 % 10000).cast("string"), 4, "0"),
            F.lit("-"),
            F.lpad((F.col("c_custkey") % 1000).cast("string"), 3, "0"),
        )
    )
    digits = F.regexp_replace("phone", r"[^0-9]", "")
    return (
        customer.select("c_custkey", phone.alias("phone"))
        .select(
            "c_custkey",
            "phone",
            F.length(digits).alias("n_digits"),
            F.size(F.array_distinct(F.split(digits, ""))).alias("n_unique"),
        )
        .withColumn(
            "plausible",
            (F.col("n_digits") >= 10) & (F.col("n_digits") <= 15) & (F.col("n_unique") >= 4),
        )
        .orderBy("c_custkey")
    )


def q14_sql() -> str:
    return """
    SELECT c_custkey, phone,
           length(digits) AS n_digits,
           CAST(length(list_distinct(string_split(digits, ''))) AS INT) AS n_unique,
           length(digits) >= 10 AND length(digits) <= 15
             AND length(list_distinct(string_split(digits, ''))) >= 4 AS plausible
    FROM (
      SELECT c_custkey, phone, regexp_replace(phone, '[^0-9]', '', 'g') AS digits
      FROM (
        SELECT c_custkey,
               CASE WHEN c_custkey % 7 = 0 THEN '0000000000'
                    ELSE '+1-' || lpad(CAST(c_custkey * 7919 % 1000 AS VARCHAR), 3, '0')
                         || '-' || lpad(CAST(c_custkey * 104729 % 10000 AS VARCHAR), 4, '0')
                         || '-' || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0')
               END AS phone
        FROM customer
      )
    )
    ORDER BY c_custkey
    """


_TRIM_PUNCT = ".,;:)]}\"'><"


def q15_normalize_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """normalize_url semantics (reference src/strings/mod.rs:261-290):
    trailing-punct trim, length 8..2048, scheme check, host-has-dot."""
    docs = _t(spark, sf_dir, "documents")
    raw = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(F.lit("https://site"), F.col("doc_id").cast("string"), F.lit(".example.com/p),")),
    ).when(
        F.col("doc_id") % 3 == 1,
        F.concat(F.lit("https://nodot"), F.col("doc_id").cast("string")),  # invalid: no dot
    ).otherwise(
        F.concat(F.lit("ftp://x"), F.col("doc_id").cast("string"), F.lit(".example.com"))  # bad scheme
    )
    trimmed = F.regexp_replace(F.col("raw"), r"[.,;:)\]}\"'><]+$", "")
    host = F.regexp_extract(trimmed, r"^https?://([^/:?#]+)", 1)
    valid = (
        (F.length(trimmed) >= 8)
        & (F.length(trimmed) <= 2048)
        & trimmed.rlike(r"^(https?://|www\.)")
        & host.contains(".")
    )
    return (
        docs.select("doc_id", raw.alias("raw"))
        .select("doc_id", "raw", trimmed.alias("normalized"), valid.alias("valid"))
        .orderBy("doc_id")
    )


def q15_sql() -> str:
    return """
    SELECT doc_id, raw,
           regexp_replace(raw, '[.,;:)\\]}}"''><]+$', '') AS normalized,
           length(regexp_replace(raw, '[.,;:)\\]}}"''><]+$', '')) >= 8
             AND length(regexp_replace(raw, '[.,;:)\\]}}"''><]+$', '')) <= 2048
             AND regexp_matches(regexp_replace(raw, '[.,;:)\\]}}"''><]+$', ''), '^(https?://|www\\.)')
             AND contains(regexp_extract(regexp_replace(raw, '[.,;:)\\]}}"''><]+$', ''), '^https?://([^/:?#]+)', 1), '.')
           AS valid
    FROM (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN 'https://site' || CAST(doc_id AS VARCHAR) || '.example.com/p),'
                  WHEN doc_id % 3 = 1 THEN 'https://nodot' || CAST(doc_id AS VARCHAR)
                  ELSE 'ftp://x' || CAST(doc_id AS VARCHAR) || '.example.com'
             END AS raw
      FROM documents
    )
    ORDER BY doc_id
    """


def q16_string_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hint flags (reference src/strings/cpu.rs:218-231): URL_LIKE,
    EMAIL_LIKE, PHONE_LIKE as cheap predicates gating regex work."""
    docs = _t(spark, sf_dir, "documents")
    text = F.when(
        F.col("doc_id") % 4 == 0,
        F.concat(F.col("text"), F.lit(" see https://example.com ok")),
    ).when(
        F.col("doc_id") % 4 == 1, F.concat(F.col("text"), F.lit(" mail me a@b.example"))
    ).when(
        F.col("doc_id") % 4 == 2, F.concat(F.col("text"), F.lit(" call 4155551234 now"))
    ).otherwise(F.col("text"))
    low = F.lower(F.col("t"))
    return (
        docs.select("doc_id", text.alias("t"))
        .select(
            "doc_id",
            (low.contains("http") | low.contains("www.")).alias("url_like"),
            F.col("t").contains("@").alias("email_like"),
            (F.length(F.regexp_replace("t", r"[^0-9]", "")) >= 10).alias("phone_like"),
        )
        .orderBy("doc_id")
    )


def q16_sql() -> str:
    return """
    SELECT doc_id,
           contains(lower(t), 'http') OR contains(lower(t), 'www.') AS url_like,
           contains(t, '@') AS email_like,
           length(regexp_replace(t, '[^0-9]', '', 'g')) >= 10 AS phone_like
    FROM (
      SELECT doc_id,
             CASE WHEN doc_id % 4 = 0 THEN text || ' see https://example.com ok'
                  WHEN doc_id % 4 = 1 THEN text || ' mail me a@b.example'
                  WHEN doc_id % 4 = 2 THEN text || ' call 4155551234 now'
                  ELSE text END AS t
      FROM documents
    )
    ORDER BY doc_id
    """


def q17_extract_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract_all URL extraction (reference URL_RE,
    src/strings/mod.rs:117-118) over synthesized multi-url text."""
    docs = _t(spark, sf_dir, "documents")
    text = F.concat(
        F.lit("start https://a"),
        F.col("doc_id").cast("string"),
        F.lit(".example.com mid https://b"),
        F.col("doc_id").cast("string"),
        F.lit(".example.org end"),
    )
    return (
        docs.select("doc_id", text.alias("t"))
        .select(
            "doc_id",
            F.explode(
                F.regexp_extract_all("t", F.lit(r"https://[a-z0-9.]+"), F.lit(0))
            ).alias("url"),
        )
        .orderBy("doc_id", "url")
    )


def q17_sql() -> str:
    return """
    SELECT doc_id, unnest(regexp_extract_all(t, 'https://[a-z0-9.]+')) AS url
    FROM (
      SELECT doc_id, 'start https://a' || CAST(doc_id AS VARCHAR) ||
             '.example.com mid https://b' || CAST(doc_id AS VARCHAR) ||
             '.example.org end' AS t
      FROM documents
    )
    ORDER BY doc_id, url
    """


def q18_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on md5 digest (planted duplicates: every doc with
    doc_id < 50 is mirrored)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    mirror = docs.where(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    corpus = docs.unionByName(mirror)
    return (
        corpus.withColumn("content_hash", F.md5("text"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
        .orderBy("keep_id")
    )


def q18_sql() -> str:
    return """
    SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 50
    )
    GROUP BY 1 ORDER BY keep_id
    """


def q19_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard between consecutive documents (exact int-ratio
    arithmetic -> hash-stable doubles). The gram build (per-position
    array slices + distinct) is compute-dense, so the scan is widened
    to the session parallelism (parallel.spread) before both join sides
    derive from it — the gram compute then runs map-side of the join shuffle
    at full width instead of on the scan's 1-2 splits."""
    docs = spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))

    def grams(col):
        toks = F.split(F.trim(F.regexp_replace(F.lower(col), r"\s+", " ")), " ")
        n = F.greatest(F.size(toks) - F.lit(2), F.lit(1))
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), n - 1),
                lambda i: F.array_join(F.slice(toks, i + 1, 3), " "),
            )
        )

    a = docs.select(F.col("doc_id").alias("doc_a"), grams(F.col("text")).alias("ga"))
    b = docs.select((F.col("doc_id") - 1).alias("doc_a"), grams(F.col("text")).alias("gb"))
    return (
        a.join(b, "doc_a")
        .select(
            "doc_a",
            (F.col("doc_a") + 1).alias("doc_b"),
            F.size(F.array_intersect("ga", "gb")).alias("n_common"),
            F.size(F.array_union("ga", "gb")).alias("n_union"),
            (
                F.size(F.array_intersect("ga", "gb"))
                / F.size(F.array_union("ga", "gb"))
            ).alias("jaccard"),
        )
        .orderBy("doc_a")
    )


def q19_sql() -> str:
    grams = (
        "list_distinct([array_to_string(toks[i:i+2], ' ') "
        "for i in generate_series(1, greatest(len(toks) - 2, 1))])"
    )
    return f"""
    WITH g AS (
      SELECT doc_id, {grams} AS grams
      FROM (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
        FROM documents
      )
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.grams, b.grams)) AS INT) AS n_common,
           CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS INT) AS n_union,
           len(list_intersect(a.grams, b.grams)) /
             CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE) AS jaccard
    FROM g a JOIN g b ON b.doc_id = a.doc_id + 1
    ORDER BY doc_a
    """


def q20_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace + BPE-ish regex (SURVEY text-analysis)."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")
    bpe = F.size(
        F.regexp_extract_all("text", F.lit(r"[A-Za-z]{1,8}|[0-9]|[^A-Za-z0-9\s]"), F.lit(0))
    )
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars_q"),
        F.size(toks).alias("n_tokens_ws"),
        bpe.alias("n_tokens_bpe"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
    ).orderBy("doc_id")


def q20_sql() -> str:
    return """
    SELECT doc_id, length(text) AS n_chars_q,
           CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '')) AS INT) AS n_tokens_ws,
           CAST(len(regexp_extract_all(text, '[A-Za-z]{1,8}|[0-9]|[^A-Za-z0-9\\s]')) AS INT) AS n_tokens_bpe,
           CAST(len(list_distinct(list_filter(string_split_regex(lower(text), '\\s+'), t -> t != ''))) AS INT) AS n_distinct_tokens
    FROM documents ORDER BY doc_id
    """


def q21_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-score features (length/punct/stopword/diversity ratios)."""
    docs = _t(spark, sf_dir, "documents")
    c = F.col("text")
    toks = F.filter(F.split(F.lower(c), r"\s+"), lambda t: t != "")
    stop = F.array(*[F.lit(w) for w in LANGS["en"]])
    n_tokens = F.size(toks)
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round(F.length(c) / F.greatest(n_tokens, F.lit(1)), 6).alias("mean_token_len"),
        F.round(
            F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))
            / F.greatest(n_tokens, F.lit(1)),
            6,
        ).alias("stopword_ratio"),
        F.round(
            F.size(F.array_distinct(toks)) / F.greatest(n_tokens, F.lit(1)), 6
        ).alias("distinct_ratio"),
    ).orderBy("doc_id")


def q21_sql() -> str:
    stop = ", ".join(f"'{w}'" for w in LANGS["en"])
    return f"""
    SELECT doc_id,
           CAST(len(toks) AS INT) AS n_tokens,
           ROUND(length(text) / CAST(greatest(len(toks), 1) AS DOUBLE), 6) AS mean_token_len,
           ROUND(len(list_filter(toks, t -> list_contains([{stop}], t)))
                 / CAST(greatest(len(toks), 1) AS DOUBLE), 6) AS stopword_ratio,
           ROUND(len(list_distinct(toks)) / CAST(greatest(len(toks), 1) AS DOUBLE), 6) AS distinct_ratio
    FROM (
      SELECT doc_id, text,
             list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '') AS toks
      FROM documents
    )
    ORDER BY doc_id
    """


def q22_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-vote language ID: winner = first language (en,de,es,fr)
    reaching the max marker count; 'und' when zero."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.array_distinct(F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != ""))
    scores = {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words])))
        for lang, words in LANGS.items()
    }
    m = F.greatest(*scores.values())
    label = F.when(m == 0, "und")
    for lang in LANGS:
        label = label.when(scores[lang] == m, lang)
    return docs.select(
        "doc_id",
        *[scores[lang].alias(f"score_{lang}") for lang in LANGS],
        label.otherwise("und").alias("detected_lang"),
    ).orderBy("doc_id")


def q22_sql() -> str:
    score_cols = ", ".join(
        f"CAST(len(list_intersect(toks, [{', '.join(repr(w) for w in words)}])) AS INT) AS score_{lang}"
        for lang, words in LANGS.items()
    )
    first = " ".join(f"WHEN score_{lang} = m THEN '{lang}'" for lang in LANGS)
    return f"""
    SELECT doc_id, score_en, score_de, score_es, score_fr,
           CASE WHEN m = 0 THEN 'und' {first} ELSE 'und' END AS detected_lang
    FROM (
      SELECT doc_id, score_en, score_de, score_es, score_fr,
             greatest(score_en, score_de, score_es, score_fr) AS m
      FROM (
        SELECT doc_id, {score_cols}
        FROM (
          SELECT doc_id,
                 list_distinct(list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '')) AS toks
          FROM documents
        )
      )
    )
    ORDER BY doc_id
    """


def q23_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for the first 3 query vectors; cosine
    rounded to 6 dp for cross-engine float stability."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec")
    )

    # shared builder: the compiled sb_dot kernel (bit-exact twin of the
    # zip_with/aggregate fold)
    from swiftbeaver_spark.llm.similarity import dot

    # Self-norms are precomputed per ROW before the cross join instead
    # of per (vector x query) PAIR inside it: higher-order array
    # lambdas are interpreted (not codegen'd), so moving 2 of the 3
    # dot products out of the pair loop cuts ~2/3 of the interpreted
    # work. sqrt-then-multiply order is unchanged -> bit-identical
    # cosines.
    emb_n = emb.withColumn("vnorm", F.sqrt(dot(F.col("vec"), F.col("vec"))))
    queries_n = queries.withColumn(
        "qnorm", F.sqrt(dot(F.col("qvec"), F.col("qvec")))
    )
    cos = F.round(
        dot(F.col("vec"), F.col("qvec")) / (F.col("vnorm") * F.col("qnorm")), 6
    )
    scored = emb_n.crossJoin(F.broadcast(queries_n)).select(
        "query_id", "vec_id", cos.alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 5)
        .orderBy("query_id", "rnk")
    )


def q23_sql() -> str:
    return """
    SELECT query_id, vec_id, cosine, rnk
    FROM (
      SELECT query_id, vec_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rnk
      FROM (
        SELECT q.vec_id AS query_id, e.vec_id,
               ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) /
                     (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
                      sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))), 6) AS cosine
        FROM embeddings e, (SELECT * FROM embeddings WHERE vec_id < 3) q
      )
    )
    WHERE rnk <= 5
    ORDER BY query_id, rnk
    """


def q24_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary with DECIMAL arithmetic (exact
    cross-engine aggregates)."""
    lineitem = _t(spark, sf_dir, "lineitem")
    # split long-unit sums (_split_sum: r14, −53% on the noop-isolated
    # aggregate vs the DECIMAL formulation). cents ⊗ (10^4 − discount
    # units) is the EXACT 10^-6-unit value of price*(1-disc) the old
    # DECIMAL(28,6) product computed; the recombines rebuild the same
    # DECIMAL output types, so the strings are byte-identical (proven
    # at sf0.001/0.01/0.1 + oracle hash).
    qty_c = _units(F.col("l_quantity"), 2)
    price_c = _units(F.col("l_extendedprice"), 2)
    disc_u = _units(F.col("l_discount"), 4)
    qty_hi, qty_lo = _split_sum(qty_c)
    price_hi, price_lo = _split_sum(price_c)
    disc_hi, disc_lo = _split_sum(price_c * (10000 - disc_u))
    return (
        lineitem.groupBy("l_returnflag", "l_linestatus")
        .agg(
            qty_hi.alias("_qh"),
            qty_lo.alias("_ql"),
            price_hi.alias("_ph"),
            price_lo.alias("_pl"),
            disc_hi.alias("_dh"),
            disc_lo.alias("_dl"),
            F.count("*").alias("count_order"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            _recombine(F.col("_qh"), F.col("_ql"), 100, "decimal(28,2)")
            .cast("string")
            .alias("sum_qty"),
            _recombine(F.col("_ph"), F.col("_pl"), 100, "decimal(28,2)")
            .cast("string")
            .alias("sum_base_price"),
            _recombine(F.col("_dh"), F.col("_dl"), 1_000_000, "decimal(38,6)")
            .cast("string")
            .alias("sum_disc_price"),
            "count_order",
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q24_sql() -> str:
    return """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS sum_base_price,
           CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
                    (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
                    AS DECIMAL(28,6))) AS VARCHAR) AS sum_disc_price,
           COUNT(*) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """


def q25_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window ranking: top-3 orders per customer by total price
    (deterministic tie-break on orderkey)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc(F.col("o_totalprice").cast("decimal(18,2)")), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            F.col("o_totalprice").cast("decimal(18,2)").cast("string").alias(
                "total_price"
            ),
            "rnk",
        )
        .orderBy("o_custkey", "rnk")
    )


def q25_sql() -> str:
    return """
    SELECT o_custkey, o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS total_price, rnk
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY CAST(o_totalprice AS DECIMAL(18,2)) DESC, o_orderkey) AS rnk
      FROM orders
    )
    WHERE rnk <= 3
    ORDER BY o_custkey, rnk
    """


# --- LSH near-dup / ANN queries with planted-pair / replayed-plane oracles --


def q26_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup recall on planted mutations: every doc_id<25
    gets a ' tail'-suffixed copy at doc_id+1,000,000. The FULL pipeline
    (numpy signature kernel -> b x r banding -> bucket join -> exact
    shingle-Jaccard verify) runs over the whole corpus; the output is
    the planted slice, whose pairs AND jaccard values DuckDB predicts
    exactly (char-9 shingle sets). Recall verified 25/25 at sf0.001 and
    sf0.01 with the fixed signature seeds."""
    from swiftbeaver_spark.llm.dedup import minhash_near_dups

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    mutated = docs.where(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail")).alias("text"),
    )
    # layout pinned EXPLICITLY (the historical 64x16): the auto path
    # (_auto_minhash_layout) picks the same layout at every test SF but
    # pays a count() job for the size hint — ~0.5 s of bench wall this
    # gated query doesn't need to spend re-deriving a known answer
    pairs = minhash_near_dups(
        docs.unionByName(mutated), num_hashes=64, num_bands=16, threshold=0.5
    )
    return (
        pairs.where(F.col("doc_b") - F.col("doc_a") == 1_000_000)
        .select(
            "doc_a",
            "doc_b",
            F.format_string("%.6f", F.col("jaccard")).alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


def q26_sql() -> str:
    # exact char-9 shingle Jaccard over the planted pairs; the mutated
    # text normalizes to norm(text) || ' tail'
    shingle = (
        "list_distinct(list_transform(generate_series(1, greatest(length({t}) - 8, 1)), "
        "i -> substr({t}, i, 9)))"
    )
    sa = shingle.format(t="na")
    sb = shingle.format(t="nb")
    return f"""
    WITH p AS (
      SELECT doc_id AS doc_a, doc_id + 1000000 AS doc_b,
             trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS na
      FROM documents WHERE doc_id < 25
    ), s AS (
      SELECT doc_a, doc_b, {sa} AS sa, {shingle.format(t="na || ' tail'")} AS sb
      FROM p
    )
    SELECT doc_a, doc_b,
           printf('%.6f', CAST(len(list_intersect(sa, sb)) AS DOUBLE)
                          / len(list_distinct(list_concat(sa, sb)))) AS jaccard
    FROM s ORDER BY doc_a, doc_b
    """


def q27_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup recall on planted mutations (' x' suffix copies
    at doc_id+1,000,000): full pipeline (numpy simhash kernel -> 16-bit
    block LSH -> bit_count verify) over the whole corpus, output
    restricted to the planted slice the oracle can predict. The hamming
    values themselves are hash-dependent, so only pair identity is
    emitted. Recall verified 25/25 at sf0.001 and sf0.01."""
    from swiftbeaver_spark.llm.dedup import simhash_near_dups

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    mutated = docs.where(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" x")).alias("text"),
    )
    pairs = simhash_near_dups(docs.unionByName(mutated), max_hamming=8)
    return (
        pairs.where(F.col("doc_b") - F.col("doc_a") == 1_000_000)
        .select("doc_a", "doc_b")
        .orderBy("doc_a", "doc_b")
    )


def q27_sql() -> str:
    return """
    SELECT doc_id AS doc_a, doc_id + 1000000 AS doc_b
    FROM documents WHERE doc_id < 25
    ORDER BY doc_a, doc_b
    """


LSH_PLANES = 6


def q28_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH top-k with the planes pinned to an explicit md5
    constant matrix, so the oracle replays the ENTIRE approximate path —
    bucket assignment (strict left-to-right IEEE fold), bucket-restricted
    scoring, and rounded-cosine ranking — not just a recall check."""
    from swiftbeaver_spark.llm.similarity import lsh_topk, md5_plane_matrix

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    planes = md5_plane_matrix(LSH_PLANES, 64)
    return lsh_topk(
        emb, queries, k=3, plane_matrix=planes, round_cosine=6
    ).orderBy("query_id", "rank")


def q28_sql() -> str:
    from swiftbeaver_spark.llm.similarity import md5_plane_matrix

    planes = md5_plane_matrix(LSH_PLANES, 64)
    bucket_terms = []
    for p, row in enumerate(planes):
        s = "0.0" + "".join(f" + v[{j + 1}]*({c})" for j, c in enumerate(row))
        bucket_terms.append(f"(CASE WHEN ({s}) > 0 THEN {1 << p} ELSE 0 END)")
    bucket = " + ".join(bucket_terms)
    return f"""
    WITH b AS (
      SELECT vec_id, v, {bucket} AS bucket
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    ), q AS (
      SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 5
    )
    SELECT query_id, vec_id, cosine, rank FROM (
      SELECT query_id, vec_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, vec_id) AS rank
      FROM (
        SELECT q.query_id, b.vec_id,
               ROUND(list_dot_product(b.v, q.qv) /
                     (sqrt(list_dot_product(b.v, b.v)) *
                      sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine
        FROM b JOIN q USING (bucket)
      )
    )
    WHERE rank <= 3
    ORDER BY query_id, rank
    """


def q35_string_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL byte-level strings scanner (the span leg of
    fused_scan.scan_all_from_chunks — ASCII run + UTF-16LE/BE state
    machines at both alignments + hint flags; reference
    src/strings/cpu.rs:42-216) under the SQL oracle. Each 2048-byte row is its own parent chunk under the
    default 512 MiB chunk_size.

    Per doc a 2048-byte block at doc_id*2048:
      [16 x 00][A: 64-ch ASCII][16 x 00][B: 40-ch as UTF-16LE][00 pad]
    The scanner must emit EXACTLY three spans per doc, all arithmetic:
      (16, 64, A, ascii), (96, 80, B, utf-16le), and the odd-alignment
      UTF-16BE ghost (95, 80, B) every byte-pair scanner legitimately
      sees — the zero byte preceding LE data plus the LE low/high bytes
      re-pair into a valid BE run one byte earlier. Flags (url/email/
      phone hints) replicate in SQL.
    """
    import dataclasses

    from swiftbeaver_spark.config import DEFAULT_CONFIG
    from swiftbeaver_spark.fused_scan import scan_all_from_chunks

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    a = F.rpad(F.substring("text", 1, 64), 64, "x")
    b = F.rpad(F.substring("text", 5, 40), 40, "y")
    zeros16 = F.unhex(F.repeat(F.lit("00"), 16))
    pad = F.unhex(F.repeat(F.lit("00"), 2048 - 176))
    chunks = docs.select(
        F.col("doc_id").alias("chunk_id"),
        (F.col("doc_id") * 2048).alias("start"),
        F.lit(2048).cast("long").alias("valid_length"),
        F.concat(
            zeros16, F.encode(a, "utf-8"), zeros16, F.encode(b, "UTF-16LE"), pad
        ).alias("data"),
    )
    cfg = dataclasses.replace(
        DEFAULT_CONFIG, enable_string_scan=True, string_scan_utf16=True
    )
    spans = scan_all_from_chunks(chunks, cfg)["string_spans"]
    return spans.orderBy("global_start", "encoding")


def q35_sql() -> str:
    def flags(expr: str) -> str:
        return (
            f"(contains(lower({expr}), 'http') OR contains(lower({expr}), 'www.')) AS url_like, "
            f"contains({expr}, '@') AS email_like, "
            f"length(regexp_replace({expr}, '[^0-9]', '', 'g')) >= 10 AS phone_like"
        )

    return f"""
    WITH d AS (
      SELECT doc_id,
             rpad(substr(text, 1, 64), 64, 'x') AS a,
             rpad(substr(text, 5, 40), 40, 'y') AS b
      FROM documents
    )
    SELECT * FROM (
      SELECT doc_id * 2048 + 16 AS global_start, CAST(64 AS BIGINT) AS byte_length,
             a AS content, 'ascii' AS encoding, {flags('a')}
      FROM d
      UNION ALL
      SELECT doc_id * 2048 + 96, CAST(80 AS BIGINT),
             b, 'utf-16le', {flags('b')}
      FROM d
      UNION ALL
      SELECT doc_id * 2048 + 95, CAST(80 AS BIGINT),
             b, 'utf-16be', {flags('b')}
      FROM d
    )
    ORDER BY global_start, encoding
    """


def q37_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STATEFUL STREAMING sessionizer under the hash gate:
    streaming.sessionize_stream (a native watermarked session_window
    aggregation, session_end = max(ts)) runs to completion over the
    events table fed through a file stream, with one far-future
    sentinel event per user so every real session closes and emits
    exactly once. The oracle replays the exact gap semantics
    (microsecond precision) as batch gaps-and-islands — batching cannot
    change the result because session_window's merge rule (an event at
    most `gap` after the session's last event joins it; a larger gap
    starts a new session) yields the same sessions wherever the
    micro-batch boundaries fall."""
    import tempfile

    from swiftbeaver_spark.streaming import sessionize_stream

    events = _t(spark, sf_dir, "events").select("user_id", "ts")
    tmp = tempfile.mkdtemp(prefix="sb_q37_")
    src, out, ckpt = f"{tmp}/src", f"{tmp}/out", f"{tmp}/ckpt"
    events.write.mode("overwrite").parquet(src)
    sentinels = events.groupBy("user_id").agg(
        (F.max("ts") + F.expr("INTERVAL 100 DAYS")).alias("ts")
    )
    sentinels.select("user_id", "ts").write.mode("append").parquet(src)
    stream = spark.readStream.schema("user_id bigint, ts timestamp").parquet(src)
    q = (
        sessionize_stream(
            stream, gap_minutes=SESSION_GAP_MIN, watermark="1 minute"
        )
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()  # never return a partial out/ dir as the gated answer
        raise TimeoutError("q37 streaming sessionization did not finish in 300s")
    # availableNow's final wrap-up trigger advances the watermark, so
    # sentinel sessions of users whose activity ended long before the
    # global max DO emit — drop everything past the real horizon
    max_real = events.agg(F.max("ts")).collect()[0][0]
    return (
        spark.read.parquet(out)
        .where(F.col("session_start") <= F.lit(max_real))
        .select(
            "user_id",
            F.date_format("session_start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_start"
            ),
            F.date_format("session_end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_end"
            ),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


def q37_sql() -> str:
    gap_us = SESSION_GAP_MIN * 60 * 1_000_000
    return f"""
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
           COUNT(*) AS n_events
    FROM (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM (
        SELECT user_id, ts,
               CASE WHEN prev IS NULL
                         OR epoch_us(ts) - epoch_us(prev) > {gap_us}
                    THEN 1 ELSE 0 END AS new_s
        FROM (
          SELECT user_id, ts,
                 LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
          FROM events
        )
      )
    )
    GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """


def _q36_edges_spark(docs):
    """Deterministic near-dup pair graph over doc_id < 60: chains of 5
    (i -> i+1 unless i%5==4), a branch edge (i -> i+2 at i%10==0), and a
    cycle-closing edge (i+4 -> i at i%20==0). Exercises chains, forks,
    and cycles in one component structure."""
    base = docs.where(F.col("doc_id") < 60).select(F.col("doc_id").alias("i"))
    chain = base.where(F.col("i") % 5 != 4).select(
        F.col("i").alias("doc_a"), (F.col("i") + 1).alias("doc_b")
    )
    branch = base.where(F.col("i") % 10 == 0).select(
        F.col("i").alias("doc_a"), (F.col("i") + 2).alias("doc_b")
    )
    cycle = base.where(F.col("i") % 20 == 0).select(
        (F.col("i") + 4).alias("doc_a"), F.col("i").alias("doc_b")
    )
    return chain.union(branch).union(cycle)


def q36_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER resolution: LSH dedup emits pairs; keeping one
    doc per transitive cluster needs connected components over the pair
    graph (llm/cluster.py — iterative min-label propagation, one shuffle
    per round, exact fixpoint). The pair graph here is synthesized
    arithmetic (chains + branches + a cycle) so DuckDB's recursive CTE
    can compute the ground-truth components; output is every clustered
    doc with its component id and whether it survives canonical-min
    dedup."""
    from swiftbeaver_spark.llm.cluster import connected_components

    docs = _t(spark, sf_dir, "documents")
    comps = connected_components(_q36_edges_spark(docs))
    return comps.select(
        "doc_id",
        "component",
        (F.col("doc_id") == F.col("component")).alias("kept"),
    ).orderBy("doc_id")


def q36_sql() -> str:
    return """
    WITH RECURSIVE e0 AS (
      SELECT doc_id AS a, doc_id + 1 AS b FROM documents WHERE doc_id < 60 AND doc_id % 5 <> 4
      UNION ALL
      SELECT doc_id, doc_id + 2 FROM documents WHERE doc_id < 60 AND doc_id % 10 = 0
      UNION ALL
      SELECT doc_id + 4, doc_id FROM documents WHERE doc_id < 60 AND doc_id % 20 = 0
    ), edges AS (
      SELECT a, b FROM e0 UNION SELECT b, a FROM e0
    ), nodes AS (
      SELECT DISTINCT a AS id FROM edges
    ), reach AS (
      SELECT id AS src, id AS node FROM nodes
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.node = e.a
    )
    SELECT src AS doc_id,
           MIN(node) AS component,
           src = MIN(node) AS kept
    FROM reach
    GROUP BY src
    ORDER BY doc_id
    """


IVF_NLIST = 16
IVF_NPROBE = 4


def q34_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN (FAISS-style): coarse-quantize the corpus into
    Voronoi cells, probe the query's nprobe nearest cells, rank only
    those candidates. The quantizer is pinned to md5-derived ±1
    centroids (same idiom as q28's plane matrix) so the oracle replays
    the ENTIRE approximate path — cell argmax (rounded dot), multi-probe
    selection, candidate-restricted rounded-cosine ranking — making the
    scale path itself hash-gated, not just recall-checked.

    100 TB shape: assignment is a map-only projection; candidates come
    from a broadcast join on (query, cell); per-query work ~ corpus *
    nprobe/nlist."""
    from swiftbeaver_spark.llm.similarity import ivf_topk, md5_centroids

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    cents = md5_centroids(IVF_NLIST, 64)
    return ivf_topk(
        emb,
        queries,
        k=5,
        nprobe=IVF_NPROBE,
        centroids=cents,
        quantizer="dot",
        round_cosine=6,
    ).orderBy("query_id", "rank")


def q34_sql() -> str:
    from swiftbeaver_spark.llm.similarity import md5_centroids

    cents = md5_centroids(IVF_NLIST, 64)
    rows = ",\n        ".join(
        f"({p}, [{', '.join(str(x) for x in c)}]::DOUBLE[])" for p, c in enumerate(cents)
    )
    return f"""
    WITH cents(p, c) AS (
      VALUES {rows}
    ), e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), assigned AS (
      SELECT vec_id, v, p AS cell FROM (
        SELECT e.vec_id, e.v, cents.p,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY ROUND(list_dot_product(e.v, cents.c), 6) DESC,
                                           cents.p) AS rn
        FROM e CROSS JOIN cents
      ) WHERE rn = 1
    ), probe AS (
      SELECT query_id, qv, cell FROM (
        SELECT e.vec_id AS query_id, e.v AS qv, cents.p AS cell,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY ROUND(list_dot_product(e.v, cents.c), 6) DESC,
                                           cents.p) AS rn
        FROM e CROSS JOIN cents WHERE e.vec_id < 3
      ) WHERE rn <= {IVF_NPROBE}
    )
    SELECT query_id, vec_id, cosine, rank FROM (
      SELECT query_id, vec_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, vec_id) AS rank
      FROM (
        SELECT pr.query_id, ce.vec_id,
               ROUND(list_dot_product(ce.v, pr.qv) /
                     (sqrt(list_dot_product(ce.v, ce.v)) *
                      sqrt(list_dot_product(pr.qv, pr.qv))), 6) AS cosine
        FROM assigned ce JOIN probe pr ON ce.cell = pr.cell
      )
    )
    WHERE rank <= 5
    ORDER BY query_id, rank
    """


def q29_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: documents' text bytes as fake binary payloads
    -> typed metadata + deterministic feature vectors."""
    from swiftbeaver_spark.llm.multimodal import extract_media_meta

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("modality"),
        F.lit(None).cast("string").alias("mime"),
        # 'doc:' prefix guarantees the synthetic payload can never match
        # an image magic (extract_media_meta parses REAL header dims for
        # BMP/PNG/GIF/JPEG payloads; these fakes must hit the stub path)
        F.encode(F.concat(F.lit("doc:"), F.col("text")), "utf-8").alias("payload"),
        F.lit(None).cast("string").alias("source_uri"),
    )
    meta = extract_media_meta(media)
    # the raw array<double> crashed the driver canonicalizer in round 1
    # (unhashable list); ship it as a comma-joined fixed-precision string
    return meta.select(
        "media_id",
        "modality",
        "byte_size",
        "sha256",
        "width",
        "height",
        "duration_ms",
        F.array_join(
            F.transform("feature", lambda x: F.format_string("%.6f", x)), ","
        ).alias("feature_str"),
    ).orderBy("media_id")


def q29_sql() -> str:
    """The stand-in decode is pure sha256 arithmetic (multimodal.py
    fake_decode_meta / fake_feature), so DuckDB can predict every column:
    h = first 4 digest bytes as uint32, dims/duration by modality, and the
    unit-norm feature from 8 big-endian int16s of the digest. All float
    math is IEEE double in both engines with a fixed evaluation order."""
    # per-dim signed int16 from hex digits 4i+1..4i+4 of the sha256
    dims = []
    for i in range(8):
        u = f"(('0x' || substr(sha, {4 * i + 1}, 4))::BIGINT)"
        dims.append(f"(CASE WHEN {u} >= 32768 THEN {u} - 65536 ELSE {u} END / 32768.0)")
    norm_sq = " + ".join(f"(v{i} * v{i})" for i in range(8))
    vdefs = ", ".join(f"{d} AS v{i}" for i, d in enumerate(dims))
    feat = " || ',' || ".join(f"printf('%.6f', v{i} / n)" for i in range(8))
    return f"""
    WITH m AS (
      SELECT doc_id AS media_id,
             CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
                  WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
             octet_length(encode('doc:' || text)) AS byte_size,
             sha256('doc:' || text) AS sha
      FROM documents
    ), v AS (
      SELECT media_id, modality, byte_size, sha,
             (('0x' || substr(sha, 1, 8))::BIGINT) AS h, {vdefs}
      FROM m
    ), n AS (
      SELECT *, sqrt({norm_sq}) AS n FROM v
    )
    SELECT media_id, modality, byte_size, sha AS sha256,
           CAST(CASE modality WHEN 'image' THEN 64 + h % 1920
                              WHEN 'video' THEN 320 + h % 1600 END AS INT) AS width,
           CAST(CASE modality WHEN 'image' THEN 64 + (h // 256) % 1080
                              WHEN 'video' THEN 240 + (h // 256) % 840 END AS INT) AS height,
           CAST(CASE modality WHEN 'audio' THEN 1000 + h % 600000
                              WHEN 'video' THEN 1000 + (h // 65536) % 3600000 END AS BIGINT)
               AS duration_ms,
           {feat} AS feature_str
    FROM n
    ORDER BY media_id
    """


def q30_carve_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL carving engine under the oracle: synthesize one minimal
    JPEG per document (interior = rpad(text, 600, 'x'), no 0xFF bytes in
    ASCII so end detection is exact), tile them as a distributed chunk
    table, run scan -> overlap dedup -> jpeg carver -> hash finalize,
    and emit per-file (offset, size, interior hash, carver-hash check).

    The oracle predicts offset/size/interior-sha256 in SQL; `hash_ok`
    cross-checks the carver's python-hashlib sha256 against JVM
    sha2 over the independently constructed blob.
    """
    import dataclasses

    from swiftbeaver_spark.carve_op import carve_hits_with_chunks
    from swiftbeaver_spark.config import DEFAULT_CONFIG
    from swiftbeaver_spark.fused_scan import scan_all_from_chunks

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    interior = F.rpad(F.col("text"), 600, "x")
    jpeg = F.concat(
        F.unhex(F.lit("FFD8FFE0")), F.encode(interior, "utf-8"), F.unhex(F.lit("FFD9"))
    )
    pad_hex = F.repeat(F.lit("00"), 4096 - 606)
    chunks = docs.select(
        F.col("doc_id").alias("chunk_id"),
        (F.col("doc_id") * 4096).alias("start"),
        F.lit(4096).cast("long").alias("valid_length"),
        F.concat(jpeg, F.unhex(pad_hex)).alias("data"),
    )
    cfg = dataclasses.replace(
        DEFAULT_CONFIG,
        chunk_size=4096,
        overlap=0,
        file_types=tuple(
            ft for ft in DEFAULT_CONFIG.file_types if ft.type_id == "jpeg"
        ),
    )
    hits = scan_all_from_chunks(chunks, cfg)["hits"]
    # window_cap bounds each hit's chunk claim (files here are < 4 KiB;
    # without it every hit would claim max_size/chunk_size = 25k chunks)
    carved = carve_hits_with_chunks(hits, chunks, cfg, window_cap=8192)
    expected = docs.select(
        (F.col("doc_id") * 4096).alias("global_start"),
        F.sha2(jpeg, 256).alias("expected_sha"),
        F.sha2(interior, 256).alias("text_sha"),
    )
    return (
        carved.join(expected, "global_start")
        .select(
            "global_start",
            "size",
            (F.col("sha256") == F.col("expected_sha")).alias("hash_ok"),
            "text_sha",
            "validated",
        )
        .orderBy("global_start")
    )


def q30_sql() -> str:
    return """
    SELECT doc_id * 4096 AS global_start,
           CAST(606 AS BIGINT) AS size,
           TRUE AS hash_ok,
           sha256(rpad(text, 600, 'x')) AS text_sha,
           TRUE AS validated
    FROM documents
    ORDER BY global_start
    """


_Q31_PAY = 600  # every synthesized file embeds a 600-byte text payload


def _q31_templates() -> list[tuple[str, list[tuple], int]]:
    """Eight carver formats whose end-detection is pure header math or a
    structure walk over constant geometry, so offset/size/validated are
    SQL-predictable with per-doc content hashes. Each template is
    (type_id, parts, total_size) where parts are ('hex', constant) or
    ('pay', start, len) slices of the 600-byte payload. Formats mirror
    reference end-detection: bmp declared size (src/carve/bmp.rs),
    RIFF size+8 (riff.rs), sqlite page math (sqlite.rs), elf section
    extent (elf.rs), pdf %%EOF scan (pdf.rs), png chunk walk (png.rs),
    mp4 box walk (mp4.rs), gif block walk (gif.rs)."""
    import struct

    P = _Q31_PAY
    pay_all = [("pay", 1, P)]

    bmp_hdr = (
        b"BM"
        + struct.pack("<IHHI", 14 + 40 + P, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 100, 6, 1, 8, 0, P, 0, 0, 0, 0)
    )
    wav_hdr = b"RIFF" + struct.pack("<I", 4 + P) + b"WAVE"
    sqlite_hdr = (
        b"SQLite format 3\x00"
        + struct.pack(">H", 512)
        + b"\x00" * 10
        + struct.pack(">I", 2)  # page_count=2 -> 1024 total
        + b"\x00" * 68
    )
    elf_hdr = (
        b"\x7fELF"
        + bytes([2, 1, 1, 0])  # 64-bit, little-endian
        + b"\x00" * 8
        + struct.pack(
            "<HHIQQQIHHHHHH",
            2, 0x3E, 1, 0,  # e_type, e_machine, e_version, e_entry
            0, 64 + P,      # e_phoff, e_shoff (section table after payload)
            0, 64, 0, 0,    # e_flags, e_ehsize, e_phentsize, e_phnum
            64, 2, 0,       # e_shentsize, e_shnum, e_shstrndx
        )
    )
    png_pre = (
        b"\x89PNG\r\n\x1a\x0a"
        + struct.pack(">I", 13) + b"IHDR" + b"\x00" * 13 + b"\x00" * 4
        + struct.pack(">I", P) + b"teXt"
    )
    png_post = b"\x00" * 4 + struct.pack(">I", 0) + b"IEND" + b"\x00" * 4
    mp4_hdr = (
        struct.pack(">I", 20) + b"ftyp" + b"isom" + struct.pack(">I", 0) + b"isom"
        + struct.pack(">I", 8 + P) + b"moov"
    )
    gif_hdr = b"GIF89a" + struct.pack("<HH", 100, 100) + bytes([0, 0, 0]) + b"\x21\xfe"

    return [
        ("bmp", [("hex", bmp_hdr.hex())] + pay_all, 54 + P),
        ("wav", [("hex", wav_hdr.hex())] + pay_all, 12 + P),
        (
            "sqlite",
            [("hex", sqlite_hdr.hex())] + pay_all + [("hex", "00" * (1024 - 100 - P))],
            1024,
        ),
        ("elf", [("hex", elf_hdr.hex())] + pay_all + [("hex", "00" * 128)], 64 + P + 128),
        (
            "pdf",
            [("hex", b"%PDF-1.4\n".hex())] + pay_all + [("hex", b"\n%%EOF\n".hex())],
            9 + P + 7,
        ),
        (
            "png",
            [("hex", png_pre.hex())] + pay_all + [("hex", png_post.hex())],
            len(png_pre) + P + len(png_post),
        ),
        ("mp4", [("hex", mp4_hdr.hex())] + pay_all, len(mp4_hdr) + P),
        (
            "gif",
            [
                ("hex", gif_hdr.hex() + "ff"),
                ("pay", 1, 255),
                ("hex", "ff"),
                ("pay", 256, 255),
                ("hex", "5a"),
                ("pay", 511, 90),
                ("hex", "003b"),
            ],
            len(gif_hdr) + 1 + 255 + 1 + 255 + 1 + 90 + 2,
        ),
    ]


def _q32_templates() -> list[tuple[str, list[tuple], int]]:
    """Batch 2 of SQL-predictable carver formats (see _q31_templates):
    RIFF variants (avi/webp, riff.rs), mov qt-brand box walk (mov.rs),
    7z next_header math (sevenz.rs), ASF File-Properties declared size
    (wmv.rs), tar 512-block walk with real header checksum (tar.rs),
    ico directory extents with embedded PNG (ico.rs), fb2 footer scan
    (fb2.rs), lrf declared size (lrf.rs)."""
    import struct

    P = _Q31_PAY
    pay_all = [("pay", 1, P)]

    sevenz_hdr = (
        bytes.fromhex("377ABCAF271C")
        + b"\x00\x04"
        + b"\x00" * 4
        + struct.pack("<QQ", P, 8)  # next_header at 32+600, size 8
        + b"\x00" * 4
    )
    asf_hdr = (
        bytes.fromhex("3026B2758E66CF11A6D900AA0062CE6C")
        + struct.pack("<Q", 78)  # header object size: 30 + 48
        + struct.pack("<I", 1)
        + b"\x01\x02"
        + bytes.fromhex("A1DCAB8C47A9CF118EE400C00C205365")
        + struct.pack("<Q", 48)  # file-properties object size
        + b"\x00" * 16
        + struct.pack("<Q", 30 + 48 + P)  # declared file size
    )
    tar_hdr = bytearray(512)
    tar_hdr[0:7] = b"doc.txt"
    tar_hdr[100:108] = b"0000644\x00"
    tar_hdr[108:116] = b"0000000\x00"
    tar_hdr[116:124] = b"0000000\x00"
    tar_hdr[124:136] = f"{P:011o}\x00".encode()
    tar_hdr[136:148] = b"00000000000\x00"
    tar_hdr[148:156] = b" " * 8  # checksum placeholder
    tar_hdr[156] = ord("0")
    tar_hdr[257:263] = b"ustar\x00"
    tar_hdr[263:265] = b"00"
    chksum = sum(tar_hdr)
    tar_hdr[148:156] = f"{chksum:06o}\x00 ".encode()
    ico_hdr = (
        struct.pack("<HHH", 0, 1, 1)  # reserved, type=icon, count=1
        + b"\x00" * 8
        + struct.pack("<II", 8 + P, 22)  # image size, image offset
        + b"\x89PNG\r\n\x1a\x0a"
    )
    fb2_pre = b'<?xml version="1.0"?><FictionBook>'
    fb2_post = b"</FictionBook>"
    lrf_hdr = b"LRF\x00" + b"\x00" * 4 + struct.pack("<I", 12 + P)

    return [
        ("avi", [("hex", (b"RIFF" + struct.pack("<I", 4 + P) + b"AVI ").hex())] + pay_all, 12 + P),
        ("webp", [("hex", (b"RIFF" + struct.pack("<I", 4 + P) + b"WEBP").hex())] + pay_all, 12 + P),
        (
            "mov",
            [
                (
                    "hex",
                    (
                        struct.pack(">I", 20) + b"ftypqt  " + struct.pack(">I", 0) + b"qt  "
                        + struct.pack(">I", 8 + P) + b"moov"
                    ).hex(),
                )
            ]
            + pay_all,
            28 + P,
        ),
        ("7z", [("hex", sevenz_hdr.hex())] + pay_all + [("hex", "17" + "00" * 7)], 32 + P + 8),
        ("wmv", [("hex", asf_hdr.hex())] + pay_all, 78 + P),
        (
            "tar",
            [("hex", bytes(tar_hdr).hex())]
            + pay_all
            + [("hex", "00" * (1024 - P) + "00" * 1024)],
            512 + 1024 + 1024,
        ),
        ("ico", [("hex", ico_hdr.hex())] + pay_all, 22 + 8 + P),
        (
            "fb2",
            [("hex", fb2_pre.hex())] + pay_all + [("hex", fb2_post.hex())],
            len(fb2_pre) + P + len(fb2_post),
        ),
        ("lrf", [("hex", lrf_hdr.hex())] + pay_all, 12 + P),
    ]


def _q33_templates() -> list[tuple]:
    """Batch 3 — the final 12 carvers under the oracle. Optional 4th
    tuple element: trailer hex placed in the chunk AFTER the file (needed
    by scan-for-next-boundary formats: gzip's next-magic, eml's mbox
    `\\nFrom `), excluded from the carved extent and hash. Formats:
    tiff IFD extent (tiff.rs), zip EOCD geometry (zip.rs), gzip
    next-magic (gzip.rs), bzip2 end marker (bzip2.rs), xz CRC-validated
    footer (xz.rs), rar4 block walk (rar.rs), mp3 ID3v2 size (mp3.rs),
    ogg lacing walk (ogg.rs), webm EBML segment size (webm.rs), ole FAT
    high-water (ole.rs), eml mbox boundary (eml.rs), mobi PDB record
    stride (mobi.rs)."""
    import struct
    import zlib

    P = _Q31_PAY
    pay_all = [("pay", 1, P)]

    tiff_hdr = (
        b"II\x2a\x00"
        + struct.pack("<I", 8)
        + struct.pack("<H", 2)
        + struct.pack("<HHII", 273, 4, 1, 38)   # StripOffsets -> 38
        + struct.pack("<HHII", 279, 4, 1, P)    # StripByteCounts -> 600
        + struct.pack("<I", 0)
    )
    zip_local = (
        b"PK\x03\x04" + struct.pack("<HHHHHIIIHH", 20, 0, 0, 0, 0, 0, P, P, 1, 0) + b"d"
    )
    zip_central = (
        b"PK\x01\x02"
        + struct.pack("<HHHHHHIIIHHHHHII", 20, 20, 0, 0, 0, 0, 0, P, P, 1, 0, 0, 0, 0, 0, 0)
        + b"d"
    )
    zip_eocd = b"PK\x05\x06" + struct.pack(
        "<HHHHIIH", 0, 0, 1, 1, len(zip_central), len(zip_local) + P, 0
    )
    gz_hdr = b"\x1f\x8b\x08\x00" + b"\x00" * 4 + b"\x00\x03"
    gz_deflate = b"\x01" + struct.pack("<HH", P, P ^ 0xFFFF)  # stored block
    xz_flags = b"\x00\x01"
    xz_hdr = bytes.fromhex("FD377A585A00") + xz_flags + struct.pack("<I", zlib.crc32(xz_flags))
    xz_bs = struct.pack("<I", 1) + xz_flags
    xz_ftr = struct.pack("<I", zlib.crc32(xz_bs)) + xz_bs + b"YZ"
    rar_pre = (
        bytes.fromhex("526172211A0700")
        + struct.pack("<HBHH", 0, 0x73, 0, 13) + b"\x00" * 6       # archive header
        + struct.pack("<HBHH", 0, 0x74, 0, 32)                     # file header
        + struct.pack("<I", P) + b"\x00" * 21
    )
    rar_end = struct.pack("<HBHH", 0, 0x7B, 0, 7)
    mp3_hdr = b"ID3\x03\x00\x00" + bytes([(P >> 21) & 0x7F, (P >> 14) & 0x7F, (P >> 7) & 0x7F, P & 0x7F])
    ogg_hdr = (
        b"OggS\x00\x04" + b"\x00" * 8 + b"\x00" * 12 + bytes([3, 255, 255, P - 510])
    )
    webm_hdr = (
        bytes.fromhex("1A45DFA3") + b"\x87" + b"\x42\x82\x84webm"
        + bytes.fromhex("18538067") + bytes([0x40 | (P >> 8), P & 0xFF])
    )
    ole_hdr = bytearray(512)
    ole_hdr[0:8] = bytes.fromhex("D0CF11E0A1B11AE1")
    struct.pack_into("<HHHH", ole_hdr, 24, 0x3E, 3, 0xFFFE, 9)
    struct.pack_into("<I", ole_hdr, 44, 1)   # one FAT sector
    struct.pack_into("<I", ole_hdr, 48, 1)   # first dir sector
    struct.pack_into("<I", ole_hdr, 76, 0)   # DIFAT[0] -> FAT at sector 0
    for i in range(1, 109):
        struct.pack_into("<I", ole_hdr, 76 + 4 * i, 0xFFFFFFFF)
    ole_fat = bytearray(512)
    struct.pack_into("<III", ole_fat, 0, 0xFFFFFFFD, 0xFFFFFFFE, 0xFFFFFFFE)
    for i in range(3, 128):
        struct.pack_into("<I", ole_fat, 4 * i, 0xFFFFFFFF)
    eml_hdr = b"From: alice@example.com\nTo: bob@example.com\nSubject: doc\n\n"
    pdb = bytearray(78)
    pdb[0:3] = b"doc"
    pdb[60:68] = b"BOOKMOBI"
    struct.pack_into(">H", pdb, 76, 2)
    pdb_recs = struct.pack(">II", 94, 0) + struct.pack(">II", 94 + P // 2, 0)

    return [
        ("tiff", [("hex", tiff_hdr.hex())] + pay_all, 38 + P),
        (
            "zip",
            [("hex", zip_local.hex())] + pay_all
            + [("hex", zip_central.hex() + zip_eocd.hex())],
            len(zip_local) + P + len(zip_central) + len(zip_eocd),
        ),
        (
            "gzip",
            [("hex", (gz_hdr + gz_deflate).hex())] + pay_all + [("hex", "00" * 8)],
            len(gz_hdr) + 5 + P + 8,
            "1f8b08",  # planted next-magic bounds the carve
        ),
        (
            "bzip2",
            [("hex", b"BZh9".hex())] + pay_all + [("hex", "177245385090")],
            4 + P + 6,
        ),
        ("xz", [("hex", xz_hdr.hex())] + pay_all + [("hex", xz_ftr.hex())], 12 + P + 12),
        (
            "rar",
            [("hex", rar_pre.hex())] + pay_all + [("hex", rar_end.hex())],
            len(rar_pre) + P + 7,
        ),
        ("mp3", [("hex", mp3_hdr.hex())] + pay_all, 10 + P),
        ("ogg", [("hex", ogg_hdr.hex())] + pay_all, 30 + P),
        ("webm", [("hex", webm_hdr.hex())] + pay_all, len(webm_hdr) + P),
        (
            "ole",
            [("hex", bytes(ole_hdr).hex() + bytes(ole_fat).hex() + "00" * 512)]
            + [("pay", 1, 512)],
            2048,
        ),
        (
            "eml",
            [("hex", eml_hdr.hex())] + pay_all,
            len(eml_hdr) + P,
            (b"\nFrom x").hex(),  # planted mbox boundary bounds the carve
        ),
        (
            "mobi",
            [("hex", (bytes(pdb) + pdb_recs).hex())] + pay_all,
            78 + 16 + P,
        ),
    ]


_Q31_CHUNK = 8192


def _carve_synth_query(
    spark: SparkSession,
    sf_dir: str,
    templates: list[tuple[str, list[tuple], int]],
) -> DataFrame:
    """Shared q31/q32 harness: synthesize one file per doc (doc_id % n
    selects the template), tile as a distributed chunk table, run the
    real scan->carve engine, emit SQL-predictable outcomes."""
    import dataclasses

    from swiftbeaver_spark.carve_op import carve_hits_with_chunks
    from swiftbeaver_spark.config import DEFAULT_CONFIG
    from swiftbeaver_spark.fused_scan import scan_all_from_chunks

    norm = [t if len(t) == 4 else (*t, "") for t in templates]
    n = len(norm)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    pay = F.encode(F.rpad(F.col("text"), _Q31_PAY, "x"), "utf-8")
    file_exprs = []
    for _tid, parts, _size, _extra in norm:
        pieces = [
            F.unhex(F.lit(p[1])) if p[0] == "hex" else F.substring(pay, p[1], p[2])
            for p in parts
        ]
        file_exprs.append(F.concat(*pieces))
    fmt = (F.col("doc_id") % n).cast("int")
    fileblob = F.element_at(F.array(*file_exprs), fmt + 1)
    # chunk tail: optional trailer (next-file boundary marker some
    # carvers need) then zero fill — both OUTSIDE the carved extent
    trailer = F.element_at(F.array(*[F.lit(extra) for _, _, _, extra in norm]), fmt + 1)
    pad = F.element_at(
        F.array(
            *[F.lit(_Q31_CHUNK - sz - len(extra) // 2) for _, _, sz, extra in norm]
        ),
        fmt + 1,
    )
    chunks = docs.select(
        F.col("doc_id").alias("chunk_id"),
        (F.col("doc_id") * _Q31_CHUNK).alias("start"),
        F.lit(_Q31_CHUNK).cast("long").alias("valid_length"),
        fileblob.alias("file"),
        trailer.alias("trailer"),
        pad.alias("pad"),
    ).select(
        "chunk_id",
        "start",
        "valid_length",
        F.concat(
            F.col("file"),
            F.unhex(F.concat(F.col("trailer"), F.expr("repeat('00', pad)"))),
        ).alias("data"),
    )
    cfg = dataclasses.replace(
        DEFAULT_CONFIG.with_types([t[0] for t in templates]),
        chunk_size=_Q31_CHUNK,
        overlap=0,
    )
    hits = scan_all_from_chunks(chunks, cfg)["hits"]
    carved = carve_hits_with_chunks(hits, chunks, cfg, window_cap=2 * _Q31_CHUNK)
    expected = docs.select(
        (F.col("doc_id") * _Q31_CHUNK).alias("global_start"),
        F.sha2(fileblob, 256).alias("expected_sha"),
        F.sha2(F.rpad(F.col("text"), _Q31_PAY, "x"), 256).alias("text_sha"),
    )
    return (
        carved.join(expected, "global_start")
        .select(
            "global_start",
            "file_type",
            "size",
            (F.col("sha256") == F.col("expected_sha")).alias("hash_ok"),
            "text_sha",
            "validated",
        )
        .orderBy("global_start")
    )


def _carve_synth_sql(templates: list[tuple]) -> str:
    n = len(templates)
    type_case = " ".join(
        f"WHEN {i} THEN '{t[0]}'" for i, t in enumerate(templates)
    )
    size_case = " ".join(
        f"WHEN {i} THEN {t[2]}" for i, t in enumerate(templates)
    )
    return f"""
    SELECT doc_id * {_Q31_CHUNK} AS global_start,
           CASE CAST(doc_id % {n} AS INT) {type_case} END AS file_type,
           CAST(CASE CAST(doc_id % {n} AS INT) {size_case} END AS BIGINT) AS size,
           TRUE AS hash_ok,
           sha256(rpad(text, {_Q31_PAY}, 'x')) AS text_sha,
           TRUE AS validated
    FROM documents
    ORDER BY global_start
    """


def q31_carve_declared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q30's synthesis trick widened to EIGHT formats: each doc becomes
    one synthesized file (doc_id % 8 selects bmp/wav/sqlite/elf/pdf/png/
    mp4/gif) at doc_id*8192, the REAL scan->carve engine recovers them,
    and the oracle predicts (offset, type, size, validated) in SQL.
    hash_ok cross-checks the carver's hashlib sha256 against JVM sha2
    over an independently constructed blob."""
    return _carve_synth_query(spark, sf_dir, _q31_templates())


def q31_sql() -> str:
    return _carve_synth_sql(_q31_templates())


def q32_carve_structured(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch 2: nine more carvers under the oracle (avi/webp/mov/7z/wmv/
    tar/ico/fb2/lrf) — RIFF form gating, qt-brand box walk, 7z
    next-header math, ASF declared size, tar checksummed block walk with
    start_override back-up from the ustar signature, ico directory
    extents, fb2 case-insensitive footer, lrf declared size."""
    return _carve_synth_query(spark, sf_dir, _q32_templates())


def q32_sql() -> str:
    return _carve_synth_sql(_q32_templates())


def q33_carve_remaining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch 3: the last 12 carvers under the oracle (tiff/zip/gzip/
    bzip2/xz/rar/mp3/ogg/webm/ole/eml/mobi) — with q30-q32 this puts
    ALL 30 reference format handlers behind driver-checked offset/size/
    sha256 oracles."""
    return _carve_synth_query(spark, sf_dir, _q33_templates())


def q33_sql() -> str:
    return _carve_synth_sql(_q33_templates())


# --- training-data pipeline ops (llm/pipeline.py) ---------------------------

PACK_SEQ_LEN = 512
PACK_BLOCK = 256  # small at test scale so the two-level prefix sum spans blocks


def q38_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk sequence packing: documents' tokens
    laid end-to-end in doc_id order, sliced into 512-token training
    sequences. The Spark side computes the global token offset with a
    TWO-LEVEL distributed prefix sum (per-block window + broadcast
    block offsets — no global window over the corpus); the oracle's
    single window cumsum proves it equals the sequential semantics."""
    from swiftbeaver_spark.llm.pipeline import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    return pack_sequences(
        docs, seq_len=PACK_SEQ_LEN, block=PACK_BLOCK
    ).orderBy("doc_id", "seq_id")


def q38_sql() -> str:
    L = PACK_SEQ_LEN
    return f"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN n = '' THEN 0
                  ELSE length(n) - length(replace(n, ' ', '')) + 1 END AS n_tok
      FROM (
        SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS n
        FROM documents
      )
    ), o AS (
      SELECT doc_id, n_tok,
             CAST(SUM(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                  - n_tok AS BIGINT) AS tok_start
      FROM t
    )
    SELECT doc_id, s.seq_id,
           LEAST((s.seq_id + 1) * {L}, tok_start + n_tok)
             - GREATEST(s.seq_id * {L}, tok_start) AS piece_tokens
    FROM o
    CROSS JOIN LATERAL (
      SELECT unnest(generate_series(tok_start // {L},
                                    (tok_start + n_tok - 1) // {L})) AS seq_id
    ) s
    WHERE n_tok > 0
    ORDER BY doc_id, seq_id
    """


SAMPLE_RATES = {"en": 128, "zh": 32}  # first-md5-byte thresholds (/256)
SAMPLE_DEFAULT = 64


def q39_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: keep a doc iff the first md5
    byte of its id falls under the stratum's threshold — en at 50%,
    zh at 12.5%, other languages at 25%. Membership is a pure function
    of (doc_id, lang): reproducible across runs, executors, engines —
    the oracle replays the exact gate."""
    from swiftbeaver_spark.llm.pipeline import hash_sample

    docs = _t(spark, sf_dir, "documents")
    return (
        hash_sample(docs, rates=SAMPLE_RATES, default_rate=SAMPLE_DEFAULT)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


def q39_sql() -> str:
    return f"""
    SELECT doc_id, lang
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
          CASE lang WHEN 'en' THEN '{SAMPLE_RATES["en"]:02x}'
                    WHEN 'zh' THEN '{SAMPLE_RATES["zh"]:02x}'
                    ELSE '{SAMPLE_DEFAULT:02x}' END
    ORDER BY doc_id
    """


def q40_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over a synthesized contact card per customer
    (emails + TPC-H-style phone, presence varying by key so rows carry
    0-2 emails and 0-1 phones): regexp counts then replacement, all in
    Catalyst. The oracle rebuilds the identical card and scrubs with
    RE2 — both regexes are backref/lookaround-free so the engines
    agree on every match."""
    from swiftbeaver_spark.llm.pipeline import pii_scrub

    cust = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    email1 = F.when(
        k % 5 != 0,
        F.concat(F.lower(F.replace(F.col("c_name"), F.lit("#"), F.lit(""))),
                 F.lit("@example.com")),
    )
    email2 = F.when(
        k % 3 == 0, F.concat(F.lit("backup"), k.cast("string"), F.lit("@mail.test"))
    )
    phone = F.when(
        k % 7 != 0,
        F.format_string(
            "%02d-%03d-%03d-%04d",
            F.col("c_nationkey").cast("long") + 10,
            k % 1000,
            (k * 7) % 1000,
            (k * 13) % 10000,
        ),
    )
    profile = cust.select(
        "c_custkey",
        F.concat_ws(
            " ", F.lit("contact"), email1, email2, phone,
            F.lit("segment"), F.col("c_mktsegment"),
        ).alias("profile"),
    )
    return (
        pii_scrub(profile, "profile")
        .select("c_custkey", "scrubbed", "n_emails", "n_phones")
        .orderBy("c_custkey")
    )


def q40_sql() -> str:
    from swiftbeaver_spark.llm.pipeline import EMAIL_RE, PHONE_RE

    return f"""
    WITH card AS (
      SELECT c_custkey,
             concat_ws(' ', 'contact',
               CASE WHEN c_custkey % 5 != 0
                    THEN lower(replace(c_name, '#', '')) || '@example.com' END,
               CASE WHEN c_custkey % 3 = 0
                    THEN 'backup' || CAST(c_custkey AS VARCHAR) || '@mail.test' END,
               CASE WHEN c_custkey % 7 != 0
                    THEN printf('%02d-%03d-%03d-%04d', c_nationkey + 10,
                                c_custkey % 1000, (c_custkey * 7) % 1000,
                                (c_custkey * 13) % 10000) END,
               'segment', c_mktsegment) AS profile
      FROM customer
    )
    SELECT c_custkey,
           regexp_replace(regexp_replace(profile, '{EMAIL_RE}', '<EMAIL>', 'g'),
                          '{PHONE_RE}', '<PHONE>', 'g') AS scrubbed,
           CAST(len(regexp_extract_all(profile, '{EMAIL_RE}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(
                regexp_replace(profile, '{EMAIL_RE}', '<EMAIL>', 'g'),
                '{PHONE_RE}')) AS INT) AS n_phones
    FROM card
    ORDER BY c_custkey
    """


VOCAB_K = 200


def q41_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary top-k: token frequencies via partial-agg
    shuffle on the token key, (freq desc, token asc) total order so
    the k-cut is deterministic; compiles to TakeOrdered — no global
    sort materializes."""
    from swiftbeaver_spark.llm.pipeline import vocab_topk

    docs = _t(spark, sf_dir, "documents")
    return vocab_topk(docs, k=VOCAB_K)


def q41_sql() -> str:
    return f"""
    SELECT token, COUNT(*) AS freq
    FROM (
      SELECT unnest(string_split(
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS token
      FROM documents
    )
    WHERE token != ''
    GROUP BY token
    ORDER BY freq DESC, token
    LIMIT {VOCAB_K}
    """


DECON_N = 8


def q42_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs 0-19 act as the eval set; the
    training side is the rest of the corpus PLUS planted contaminated
    copies (bench text + a tail, at doc_id+2,000,000) so overlap is
    guaranteed non-trivial. Flags every training doc sharing an 8-token
    n-gram with any eval doc; the eval n-gram table broadcasts."""
    from swiftbeaver_spark.llm.pipeline import decontaminate

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.where(F.col("doc_id") < 20)
    planted = bench.select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" contaminated copy")).alias("text"),
    )
    # the training-side n-gram explode is the dense stage — widen it
    # to the session parallelism (the bench side broadcasts)
    train = spread(docs.where(F.col("doc_id") >= 20).unionByName(planted))
    return decontaminate(train, bench, ngram_n=DECON_N).orderBy("doc_id")


def q42_sql() -> str:
    n = DECON_N
    grams = (
        f"list_distinct([array_to_string(toks[i:i+{n - 1}], ' ') "
        f"for i in generate_series(1, greatest(len(toks) - {n - 1}, 1))])"
    )
    return f"""
    WITH base AS (
      SELECT doc_id, text FROM documents
    ), train AS (
      SELECT doc_id, text FROM base WHERE doc_id >= 20
      UNION ALL
      SELECT doc_id + 2000000, text || ' contaminated copy'
      FROM base WHERE doc_id < 20
    ), tg AS (
      SELECT doc_id, unnest({grams}) AS ng
      FROM (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
        FROM train
      )
    ), bg AS (
      SELECT doc_id AS bench_id, unnest({grams}) AS ng
      FROM (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
        FROM base WHERE doc_id < 20
      )
    )
    SELECT tg.doc_id, COUNT(DISTINCT tg.ng) AS n_shared_ngrams,
           COUNT(DISTINCT bg.bench_id) AS n_bench_docs
    FROM tg JOIN bg USING (ng)
    GROUP BY tg.doc_id
    ORDER BY tg.doc_id
    """


def q43_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cross-document line dedup. The corpus has no newlines,
    so multi-line 'pages' are synthesized by windowing: page i =
    text[i] \\n text[i+1] \\n text[i+2] — every interior line occurs in
    3 pages, so the dedup (keep only the FIRST (page, position)
    occurrence, reassemble pages from surviving lines) has guaranteed
    non-trivial work. One shuffle on the line value, per-line-key
    window, per-page reassembly — the published C4 dedup shape."""
    from swiftbeaver_spark.llm.pipeline import line_dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    a, b, c = docs.alias("a"), docs.alias("b"), docs.alias("c")
    pages = (
        a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1)
        .join(c, F.col("c.doc_id") == F.col("a.doc_id") + 2)
        .select(
            F.col("a.doc_id").alias("page_id"),
            F.concat_ws(
                "\n", F.col("a.text"), F.col("b.text"), F.col("c.text")
            ).alias("text"),
        )
    )
    return (
        line_dedup(pages, id_col="page_id")
        .withColumnRenamed("doc_id", "page_id")
        .orderBy("page_id")
    )


def q43_sql() -> str:
    return """
    WITH pages AS (
      SELECT a.doc_id AS page_id,
             a.text || chr(10) || b.text || chr(10) || c.text AS text
      FROM documents a
      JOIN documents b ON b.doc_id = a.doc_id + 1
      JOIN documents c ON c.doc_id = a.doc_id + 2
    ), lines AS (
      SELECT page_id, gs.i - 1 AS pos, parts[gs.i] AS line
      FROM (SELECT page_id, string_split(text, chr(10)) AS parts FROM pages)
      CROSS JOIN LATERAL (
        SELECT unnest(generate_series(1, len(parts))) AS i
      ) gs
    ), kept AS (
      SELECT page_id, pos, line,
             ROW_NUMBER() OVER (PARTITION BY line ORDER BY page_id, pos) AS rn
      FROM lines
    )
    SELECT page_id,
           string_agg(line, chr(10) ORDER BY pos) AS deduped_text,
           COUNT(*) AS n_kept_lines
    FROM kept WHERE rn = 1
    GROUP BY page_id ORDER BY page_id
    """


def q44_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per doc: duplicate
    token-bigram fraction and most-frequent-token share. Pure
    explode/partial-count/aggregate — shuffle keys are (doc, token)
    and (doc, bigram), map-side combined. The tokenize+explode map
    stage is widened to the session parallelism (all aggregates are
    integer counts, so partial-aggregation order cannot drift)."""
    from swiftbeaver_spark.llm.pipeline import repetition_metrics

    docs = spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    return repetition_metrics(docs).orderBy("doc_id")


def q44_sql() -> str:
    bigrams = (
        "list_distinct([array_to_string(toks[i:i+1], ' ') "
        "for i in generate_series(1, greatest(len(toks) - 1, 1))])"
    )
    return f"""
    WITH t AS (
      SELECT doc_id, string_split(n, ' ') AS toks
      FROM (
        SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS n
        FROM documents
      )
      WHERE n != ''
    ), ts AS (
      SELECT doc_id,
             MAX(c) / CAST(SUM(c) AS DOUBLE) AS ttf,
             CAST(SUM(c) AS BIGINT) AS n_tokens
      FROM (
        SELECT doc_id, token, COUNT(*) AS c
        FROM (SELECT doc_id, unnest(toks) AS token FROM t)
        GROUP BY doc_id, token
      )
      GROUP BY doc_id
    ), bg AS (
      SELECT doc_id,
             len(toks) - 1 AS n_bigrams,
             len({bigrams}) AS n_distinct
      FROM t
    )
    SELECT ts.doc_id, n_tokens,
           ROUND(ttf, 6) AS top_token_frac,
           ROUND(CASE WHEN n_bigrams > 0
                      THEN (n_bigrams - n_distinct) / CAST(n_bigrams AS DOUBLE)
                      ELSE 0 END, 6) AS dup_bigram_frac
    FROM ts JOIN bg ON bg.doc_id = ts.doc_id
    ORDER BY ts.doc_id
    """


def q45_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization via Spark's BUILT-IN session_window
    operator (the idiomatic form of q05's manual gaps-and-islands —
    one expression, no explicit lag/cumsum). One documented semantic
    difference from q05, mirrored in the oracle: session_end is
    last_event + gap (the window edge, not the last event). The merge
    rule is identical (a gap of EXACTLY the duration still merges;
    new session only when diff > gap) — pinned by
    tests/test_pipeline_ops.py::test_session_window_gap_boundary."""
    events = _t(spark, sf_dir, "events")
    sw = F.session_window(F.col("ts"), f"{SESSION_GAP_MIN} minutes")
    return (
        events.groupBy(sw.alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format("sw.start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_start"
            ),
            F.date_format("sw.end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_end"
            ),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


def q45_sql() -> str:
    gap_us = SESSION_GAP_MIN * 60 * 1_000_000
    return f"""
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           strftime(MAX(ts) + INTERVAL {SESSION_GAP_MIN} MINUTE,
                    '%Y-%m-%d %H:%M:%S.%f') AS session_end,
           COUNT(*) AS n_events
    FROM (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM (
        SELECT user_id, ts,
               CASE WHEN prev IS NULL
                         OR epoch_us(ts) - epoch_us(prev) > {gap_us}
                    THEN 1 ELSE 0 END AS new_s
        FROM (
          SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                 LAG(CAST(ts AS TIMESTAMP)) OVER (
                   PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP)) AS prev
          FROM events
        )
      )
    )
    GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """


KMV_K = 64
KMV_MULT = 2654435761  # Knuth multiplicative hash, mod 2^32
KMV_SPACE = 1 << 32


def q46_kmv_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch per event_type —
    a genuinely mergeable distributed sketch whose estimate the oracle
    replays EXACTLY: hash = (user_id * 2654435761) mod 2^32 on both
    engines, keep the k=64 smallest distinct hashes per group,
    estimate = (k-1) * 2^32 / h_k (exact count when fewer than k
    distinct values). Unlike HLL-behind-approx_count_distinct, every
    arithmetic step is integer math both engines share, so the
    approximate answer itself sits under the hash gate."""
    events = _t(spark, sf_dir, "events")
    hashed = (
        events.select(
            "event_type",
            ((F.col("user_id") * KMV_MULT) % KMV_SPACE).alias("h"),
        )
        .distinct()
    )
    w = Window.partitionBy("event_type").orderBy("h")
    topk = hashed.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= KMV_K
    )
    return (
        topk.groupBy("event_type")
        .agg(F.max("h").alias("hk"), F.count("*").alias("k_seen"))
        .select(
            "event_type",
            F.col("k_seen").cast("long").alias("k_seen"),
            F.when(F.col("k_seen") < KMV_K, F.col("k_seen"))
            .otherwise(
                F.floor((KMV_K - 1) * F.lit(KMV_SPACE) / F.col("hk"))
            )
            .cast("long")
            .alias("est_distinct"),
        )
        .orderBy("event_type")
    )


def q46_sql() -> str:
    return f"""
    WITH hashed AS (
      SELECT DISTINCT event_type,
             (user_id * {KMV_MULT}) % {KMV_SPACE} AS h
      FROM events
    ), topk AS (
      SELECT event_type, h,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM hashed
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS k_seen,
           CAST(CASE WHEN COUNT(*) < {KMV_K} THEN COUNT(*)
                     ELSE FLOOR(({KMV_K} - 1) * {KMV_SPACE}.0 / MAX(h)) END
                AS BIGINT) AS est_distinct
    FROM topk WHERE rn <= {KMV_K}
    GROUP BY event_type
    ORDER BY event_type
    """


def q47_stream_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in STREAMING windowed aggregation under the hash gate:
    watermarked tumbling-window per-event-type counts/sums run through
    the real Structured Streaming engine (readStream -> withWatermark
    -> window groupBy -> append sink, availableNow to completion).
    Append mode only emits windows the watermark has closed — the
    far-future sentinel row advances the watermark past every real
    window, then filters itself out of the result. The oracle is plain
    time-bucket GROUP BY: streaming and batch must agree exactly.
    (Like q37, the tempdir source/sink round-trip is a LOCAL-harness
    device; on a multi-node cluster the paths would be shared
    storage.)"""
    import tempfile

    events = _t(spark, sf_dir, "events").select("event_type", "ts", "value")
    tmp = tempfile.mkdtemp(prefix="sb_q47_")
    src, out, ckpt = f"{tmp}/src", f"{tmp}/out", f"{tmp}/ckpt"
    events.write.mode("overwrite").parquet(src)
    sentinel = events.agg(
        F.lit("__sentinel__").alias("event_type"),
        (F.max("ts") + F.expr("INTERVAL 100 DAYS")).alias("ts"),
        F.lit(0.0).alias("value"),
    )
    sentinel.write.mode("append").parquet(src)
    stream = spark.readStream.schema(
        "event_type string, ts timestamp, value double"
    ).parquet(src)
    agg = (
        stream.withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )
    q = (
        agg.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()  # never return a partial out/ dir as the gated answer
        raise TimeoutError("q47 streaming window agg did not finish in 300s")
    return (
        spark.read.parquet(out)
        .where(F.col("event_type") != "__sentinel__")
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "n_events",
            F.format_string("%.6f", F.col("sum_value")).alias("sum_value"),
        )
        .orderBy("win_start", "event_type")
    )


def q47_sql() -> str:
    return """
    SELECT strftime(time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)),
                    '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type,
           COUNT(*) AS n_events,
           printf('%.6f', ROUND(SUM(value), 6)) AS sum_value
    FROM events
    GROUP BY 1, 2
    ORDER BY win_start, event_type
    """


def q48_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (swiftbeaver_spark.relational.asof_join): each
    purchase event picks the single most recent at-or-before view
    event of the same user — the union-tag-carry-forward pattern (one
    shuffle + one sort, no row multiplication), gated against DuckDB's
    native ASOF LEFT JOIN as a genuinely independent oracle. The view
    side is pre-deduped to one row per (user, ts) so right-timestamp
    ties are deterministic on both engines."""
    from swiftbeaver_spark.relational import asof_join

    events = _t(spark, sf_dir, "events")
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_event"), "user_id", F.col("ts").alias("p_ts")
    )
    views = (
        events.where(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("v_event"))
    )
    joined = asof_join(
        purchases,
        views,
        on="user_id",
        left_ts="p_ts",
        right_ts="ts",
        right_cols=["v_event"],
        suffix="_v",
    )
    return joined.select(
        "p_event",
        "user_id",
        F.date_format("p_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("p_ts"),
        F.col("v_event_v").cast("string").alias("v_event"),
        F.date_format("ts_v", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("v_ts"),
        (ts_unix_micros(F.col("p_ts")) - ts_unix_micros(F.col("ts_v")))
        .cast("string")
        .alias("lag_us"),
    ).orderBy("p_event")


def q48_sql() -> str:
    return """
    WITH p AS (
      SELECT event_id AS p_event, user_id, CAST(ts AS TIMESTAMP) AS p_ts
      FROM events WHERE event_type = 'purchase'
    ), v AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS v_ts, MAX(event_id) AS v_event
      FROM events WHERE event_type = 'view' GROUP BY 1, 2
    )
    SELECT p.p_event, p.user_id,
           strftime(p.p_ts, '%Y-%m-%d %H:%M:%S.%f') AS p_ts,
           CAST(v.v_event AS VARCHAR) AS v_event,
           strftime(v.v_ts, '%Y-%m-%d %H:%M:%S.%f') AS v_ts,
           CAST(epoch_us(p.p_ts) - epoch_us(v.v_ts) AS VARCHAR) AS lag_us
    FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.p_ts >= v.v_ts
    ORDER BY p_event
    """


CMS_DEPTH, CMS_PREFIX = 4, 3  # 4 rows x 4096 md5-prefix buckets
CMS_TOPK = 20


def q49_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (swiftbeaver_spark.sketch): token-frequency
    estimates for the corpus's top tokens. Like q46's KMV sketch, every
    step is engine-neutral (md5-prefix string buckets, integer sums,
    min over rows), so the APPROXIMATE estimates themselves sit under
    the hash gate; the oracle replays the whole sketch in SQL. The
    estimate is provably >= the true count (collision overestimate
    only) — the gate pins both numbers."""
    from swiftbeaver_spark.llm.dedup import normalized_text
    from swiftbeaver_spark.sketch import countmin_build, countmin_estimate

    docs = _t(spark, sf_dir, "documents")
    inst = docs.select(
        F.explode(
            F.filter(
                F.split(normalized_text(F.col("text")), " "),
                lambda t: t != "",
            )
        ).alias("token")
    )
    sketch = countmin_build(inst, "token", depth=CMS_DEPTH, prefix_len=CMS_PREFIX)
    true_counts = inst.groupBy("token").agg(
        F.count("*").cast("long").alias("true_count")
    )
    probes = true_counts.orderBy(F.desc("true_count"), "token").limit(CMS_TOPK)
    est = countmin_estimate(
        sketch, probes.select("token"), "token", CMS_DEPTH, CMS_PREFIX
    )
    return (
        probes.join(est, "token")
        .select("token", "true_count", "cms_est")
        .orderBy(F.desc("true_count"), "token")
    )


def q49_sql() -> str:
    norm = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    return f"""
    WITH toks AS (
      SELECT unnest(string_split({norm}, ' ')) AS token
      FROM documents WHERE {norm} <> ''
    ), truec AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS true_count
      FROM toks GROUP BY token
    ), probes AS (
      SELECT token, true_count FROM truec
      ORDER BY true_count DESC, token LIMIT {CMS_TOPK}
    ), cells AS (
      SELECT js.j, substr(md5(js.j || ':' || token), 1, {CMS_PREFIX}) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM toks CROSS JOIN (
        SELECT unnest(generate_series(0, {CMS_DEPTH - 1})) AS j) js
      GROUP BY 1, 2
    ), est AS (
      SELECT p.token, CAST(MIN(c.cnt) AS BIGINT) AS cms_est
      FROM probes p
      CROSS JOIN (SELECT unnest(generate_series(0, {CMS_DEPTH - 1})) AS j) js
      JOIN cells c
        ON c.j = js.j
       AND c.bucket = substr(md5(js.j || ':' || p.token), 1, {CMS_PREFIX})
      GROUP BY p.token
    )
    SELECT p.token, p.true_count, e.cms_est
    FROM probes p JOIN est e USING (token)
    ORDER BY true_count DESC, token
    """


WSAMPLE_K = 50


def q50_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis-Spirakis, llm/pipeline.weighted_sample): md5-derived
    uniform, key = ln(u)/weight, top-k by key — the corpus-mixing
    primitive. Membership is a pure function of (id, weight), so the
    oracle replays the exact selection."""
    from swiftbeaver_spark.llm.pipeline import weighted_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return weighted_sample(docs, k=WSAMPLE_K).orderBy("doc_id")


def q50_sql() -> str:
    return f"""
    SELECT doc_id, lang, n_chars FROM (
      SELECT doc_id, lang, n_chars,
             ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                      AS BIGINT) + 1.0) / 4294967296.0)
             / CAST(n_chars AS DOUBLE) AS es_key
      FROM documents
      ORDER BY es_key DESC, doc_id LIMIT {WSAMPLE_K}
    ) ORDER BY doc_id
    """


DUPGRAM_N = 5


def q51_crossdoc_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-n-gram fraction (Lee et al. 2022
    substring-dedup diagnostic, llm/pipeline.crossdoc_dup_ngrams):
    per doc, the fraction of n-gram instances that are not the gram's
    corpus-wide first occurrence. The implementation is windowless
    (argmin per gram over distinct (doc, gram) partials — hot
    boilerplate grams never funnel through one sort); the oracle is
    the direct ROW_NUMBER formulation."""
    from swiftbeaver_spark.llm.pipeline import crossdoc_dup_ngrams

    # widen the tokenize+posexplode map stage (integer partial counts
    # only downstream — aggregation order cannot drift)
    docs = spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    return crossdoc_dup_ngrams(docs, ngram_n=DUPGRAM_N).orderBy("doc_id")


def q51_sql() -> str:
    norm = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    n = DUPGRAM_N
    return f"""
    WITH t AS (
      SELECT doc_id, string_split({norm}, ' ') AS toks FROM documents
    ), inst AS (
      SELECT doc_id, gs.i - 1 AS pos,
             array_to_string(toks[gs.i:gs.i + {n - 1}], ' ') AS ng
      FROM t CROSS JOIN LATERAL (
        SELECT unnest(generate_series(1, len(toks) - {n - 1})) AS i) gs
    ), ranked AS (
      SELECT doc_id, ng,
             ROW_NUMBER() OVER (PARTITION BY ng ORDER BY doc_id, pos) AS rn
      FROM inst
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_ngrams,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
           ROUND(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS dup_frac
    FROM ranked GROUP BY doc_id ORDER BY doc_id
    """


def q52_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING exact dedup under the hash gate: every event row is
    planted twice in the source directory, and the stream
    (readStream -> withWatermark -> dropDuplicates(event_id) ->
    append sink, availableNow to completion) must emit each exactly
    once. The oracle aggregates the ORIGINAL (unduplicated) table —
    streaming dedup and batch distinct must agree exactly. Sums use
    integer micro-units so double summation order can't drift.
    (Tempdir round-trip is a local-harness device, as in q37/q47.)"""
    import tempfile

    events = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts", "value"
    )
    tmp = tempfile.mkdtemp(prefix="sb_q52_")
    src, out, ckpt = f"{tmp}/src", f"{tmp}/out", f"{tmp}/ckpt"
    events.write.mode("overwrite").parquet(src)
    events.write.mode("append").parquet(src)  # plant an exact duplicate of every row
    stream = spark.readStream.schema(
        "event_id long, event_type string, ts timestamp, value double"
    ).parquet(src)
    dedup = stream.withWatermark("ts", "365 days").dropDuplicates(["event_id"])
    q = (
        dedup.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()  # never return a partial out/ dir as the gated answer
        raise TimeoutError("q52 streaming dedup did not finish in 300s")
    return (
        spark.read.parquet(out)
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.countDistinct("event_id").cast("long").alias("n_distinct"),
            F.sum(F.round(F.col("value") * 1e6).cast("long"))
            .cast("long")
            .alias("sum_value_micros"),
        )
        .orderBy("event_type")
    )


def q52_sql() -> str:
    return """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct,
           CAST(SUM(CAST(ROUND(value * 1e6) AS BIGINT)) AS BIGINT)
             AS sum_value_micros
    FROM events GROUP BY event_type ORDER BY event_type
    """


STREAM_JOIN_HOURS = 4


def q53_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join under the hash gate: the purchase
    stream inner-joins the view stream on user within a bounded
    event-time window (view in the 4 hours at-or-before the
    purchase) — Structured Streaming's watermarked interval join,
    where both watermarks bound the join state so neither side buffers
    unboundedly. availableNow runs it to completion; the oracle is the
    identical batch range join. (Tempdir round-trip = local-harness
    device, as in q37/q47/q52.)"""
    import tempfile

    events = _t(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="sb_q53_")
    psrc, vsrc, out, ckpt = f"{tmp}/p", f"{tmp}/v", f"{tmp}/out", f"{tmp}/ckpt"
    events.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_event"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    ).write.mode("overwrite").parquet(psrc)
    events.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("v_event"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    ).write.mode("overwrite").parquet(vsrc)
    purchases = (
        spark.readStream.schema("p_event long, p_user long, p_ts timestamp")
        .parquet(psrc)
        .withWatermark("p_ts", "1 minute")
    )
    views = (
        spark.readStream.schema("v_event long, v_user long, v_ts timestamp")
        .parquet(vsrc)
        .withWatermark("v_ts", f"{STREAM_JOIN_HOURS + 1} hours")
    )
    joined = purchases.join(
        views,
        F.expr(
            f"""p_user = v_user AND
                v_ts BETWEEN p_ts - INTERVAL {STREAM_JOIN_HOURS} HOURS
                         AND p_ts"""
        ),
    )
    q = (
        joined.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()  # never return a partial out/ dir as the gated answer
        raise TimeoutError("q53 stream-stream join did not finish in 300s")
    return (
        spark.read.parquet(out)
        .select(
            "p_event",
            "v_event",
            F.col("p_user").alias("user_id"),
            (ts_unix_micros(F.col("p_ts")) - ts_unix_micros(F.col("v_ts")))
            .cast("long")
            .alias("lag_us"),
        )
        .orderBy("p_event", "v_event")
    )


def q53_sql() -> str:
    return f"""
    SELECT p.event_id AS p_event, v.event_id AS v_event,
           p.user_id,
           epoch_us(CAST(p.ts AS TIMESTAMP))
             - epoch_us(CAST(v.ts AS TIMESTAMP)) AS lag_us
    FROM events p JOIN events v
      ON p.event_type = 'purchase' AND v.event_type = 'view'
     AND p.user_id = v.user_id
     AND CAST(v.ts AS TIMESTAMP)
         BETWEEN CAST(p.ts AS TIMESTAMP) - INTERVAL {STREAM_JOIN_HOURS} HOUR
             AND CAST(p.ts AS TIMESTAMP)
    ORDER BY p_event, v_event
    """


HIST_BINS = 1000
HIST_QUANTILES = [0.5, 0.95, 0.99]


def q54_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram quantile sketch (sketch.histogram_quantiles): p50/
    p95/p99 of event value per type from a 1000-bin equi-width
    histogram. Third engine-neutral sketch under the gate (KMV
    distinct, count-min frequency, histogram quantiles): the oracle
    replays the exact min/max pre-pass, integer binning, cumulative
    counts, and edge arithmetic."""
    from swiftbeaver_spark.sketch import histogram_quantiles

    events = _t(spark, sf_dir, "events")
    out = histogram_quantiles(
        events, "value", ["event_type"], HIST_QUANTILES, nbins=HIST_BINS
    )
    return out.select(
        "event_type",
        F.format_string("%.2f", F.col("quantile")).alias("quantile"),
        F.format_string("%.6f", F.col("q_value")).alias("q_value"),
    ).orderBy("event_type", "quantile")


def q54_sql() -> str:
    qs = ", ".join(str(q) for q in HIST_QUANTILES)
    return f"""
    WITH bounds AS (
      SELECT CAST(MIN(value) AS DOUBLE) AS lo, CAST(MAX(value) AS DOUBLE) AS hi
      FROM events
    ), b2 AS (
      SELECT lo, CASE WHEN hi > lo THEN (hi - lo) / {HIST_BINS}
                      ELSE 1.0 END AS w
      FROM bounds
    ), binned AS (
      SELECT event_type,
             CAST(LEAST(FLOOR((value - lo) / w), {HIST_BINS - 1}) AS BIGINT)
               AS bin,
             lo, w, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events CROSS JOIN b2
      GROUP BY 1, 2, 3, 4
    ), cum AS (
      SELECT event_type, bin, lo, w, cnt,
             SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin
                            ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(cnt) OVER (PARTITION BY event_type) AS n
      FROM binned
    )
    SELECT event_type,
           printf('%.2f', q) AS quantile,
           printf('%.6f', MIN(bin) * ANY_VALUE(w) + ANY_VALUE(lo)) AS q_value
    FROM cum CROSS JOIN (SELECT unnest([{qs}]) AS q) qq
    WHERE cum >= CEIL(q * n)
    GROUP BY event_type, q
    ORDER BY event_type, quantile
    """


def q55_linear_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-feature linear quality scorer (llm/text.py::
    linear_quality_score) — the fastText/CCNet corpus-filter shape
    with md5-derived integer stand-in weights, so partial sums are
    exact in any aggregation order and the oracle replays the score
    bit-for-bit. ALL-INTEGER output (raw sum + floor'd micro score):
    the earlier ROUND(double, 6) form hit decimal-half rounding
    disagreements between engines at sf0.1."""
    from swiftbeaver_spark.llm.text import linear_quality_score

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return linear_quality_score(docs).orderBy("doc_id")


def q55_sql() -> str:
    norm = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split({norm}, ' ')) AS token
      FROM documents WHERE {norm} <> ''
    ), weighted AS (
      SELECT doc_id,
             CAST('0x' || substr(md5('w:' ||
                    substr(md5('f:' || token), 1, 3)), 1, 8) AS BIGINT)
               % 2001 - 1000 AS w
      FROM toks
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(w) AS BIGINT) AS score_sum,
           CAST((1000 * SUM(w)) // COUNT(*) AS BIGINT) AS quality_score_micro
    FROM weighted GROUP BY doc_id ORDER BY doc_id
    """


IVJ_LOWER, IVJ_UPPER = -14400, 0  # views in the 4h at-or-before each purchase


def q56_interval_join_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH interval join via bucket decomposition
    (relational.interval_join) — q53's batch twin: time decomposes
    into buckets of the window span, the join is a plain EQUI-join on
    (user, bucket) with the exact range filter after (<= 2x left-side
    fan-out, no range explosion). The oracle is DuckDB's naive range
    join; identical pairs prove the decomposition covers exactly."""
    from swiftbeaver_spark.relational import interval_join

    events = _t(spark, sf_dir, "events")
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_event"), "user_id", F.col("ts").alias("p_ts")
    )
    views = events.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("v_event"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    ).withColumnRenamed("v_user", "user_id")
    out = interval_join(
        purchases, views, "user_id", "p_ts", "v_ts", IVJ_LOWER, IVJ_UPPER
    )
    return out.select(
        "p_event",
        "v_event",
        "user_id",
        (ts_unix_micros(F.col("p_ts")) - ts_unix_micros(F.col("v_ts")))
        .cast("long")
        .alias("lag_us"),
    ).orderBy("p_event", "v_event")


def q56_sql() -> str:
    return f"""
    SELECT p.event_id AS p_event, v.event_id AS v_event, p.user_id,
           epoch_us(CAST(p.ts AS TIMESTAMP))
             - epoch_us(CAST(v.ts AS TIMESTAMP)) AS lag_us
    FROM events p JOIN events v
      ON p.event_type = 'purchase' AND v.event_type = 'view'
     AND p.user_id = v.user_id
     AND epoch_us(CAST(v.ts AS TIMESTAMP))
         BETWEEN epoch_us(CAST(p.ts AS TIMESTAMP)) + {IVJ_LOWER * 1_000_000}
             AND epoch_us(CAST(p.ts AS TIMESTAMP)) + {IVJ_UPPER * 1_000_000}
    ORDER BY p_event, v_event
    """


def q57_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant salted join (relational.salted_join): lineitem
    (large side, scattered over 16 salt sub-keys) joins orders
    (replicated 16-fold) — per-customer revenue rollup. The oracle is
    the plain join: salting must be result-invariant, which is exactly
    what the gate proves."""
    from swiftbeaver_spark.relational import salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    joined = salted_join(li, orders, on="o_orderkey", salt=16)
    return (
        joined.groupBy("o_custkey")
        .agg(
            F.count("*").cast("long").alias("n_items"),
            F.sum("rev").cast("decimal(18,4)").cast("string").alias("revenue"),
        )
        .orderBy("o_custkey")
    )


def q57_sql() -> str:
    return """
    SELECT o.o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(CAST(SUM(l.l_extendedprice * (1 - l.l_discount))
                AS DECIMAL(18,4)) AS VARCHAR) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_custkey ORDER BY o.o_custkey
    """


INC_SEEN_SPLIT = 250


def q58_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup (llm/dedup.incremental_exact_dedup):
    the already-ingested corpus is docs < 250 (represented only by its
    digest table — the production shape); the new batch is the rest
    PLUS planted copies of 10 seen docs and a doubled batch doc. Seen
    collisions must drop, batch dups must collapse to the lowest id."""
    from swiftbeaver_spark.llm.dedup import incremental_exact_dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    seen = docs.where(F.col("doc_id") < INC_SEEN_SPLIT)
    seen_hashes = seen.select(F.md5("text").alias("content_hash"))
    batch = docs.where(F.col("doc_id") >= INC_SEEN_SPLIT)
    planted_seen = seen.where(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"), "text"
    )
    planted_batch = batch.where(F.col("doc_id") < INC_SEEN_SPLIT + 5).select(
        (F.col("doc_id") + 4_000_000).alias("doc_id"), "text"
    )
    new = batch.unionByName(planted_seen).unionByName(planted_batch)
    out = incremental_exact_dedup(new, seen_hashes)
    return out.select("content_hash", "doc_id", "n_batch_copies").orderBy("doc_id")


def q58_sql() -> str:
    return f"""
    WITH seen AS (
      SELECT md5(text) AS content_hash FROM documents
      WHERE doc_id < {INC_SEEN_SPLIT}
    ), batch AS (
      SELECT doc_id, text FROM documents WHERE doc_id >= {INC_SEEN_SPLIT}
      UNION ALL
      SELECT doc_id + 3000000, text FROM documents WHERE doc_id < 10
      UNION ALL
      SELECT doc_id + 4000000, text FROM documents
      WHERE doc_id >= {INC_SEEN_SPLIT} AND doc_id < {INC_SEEN_SPLIT + 5}
    ), hashed AS (
      SELECT doc_id, md5(text) AS content_hash FROM batch
    )
    SELECT content_hash, MIN(doc_id) AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_batch_copies
    FROM hashed
    WHERE content_hash NOT IN (SELECT content_hash FROM seen)
    GROUP BY content_hash ORDER BY doc_id
    """


BPE_MERGES = 12


def q59_bpe_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE vocabulary induction (llm/bpe.py): merges run
    on the word-frequency table (corpus-size-independent — the 100 TB
    corpus is read once to build it), one aggregation + fold rewrite
    per merge, deterministic tie-breaks. HASH-GATED since round 6: the
    oracle unrolls all BPE_MERGES training iterations in SQL (the q137
    unrolled-training convention) — pair-count aggregate, argmax with
    lexicographic tie-break, and the leftmost-non-overlapping merge as
    a delimiter-encoded string replace. tests/test_bpe.py additionally
    pins the merge sequence against an independent single-node
    reference implementation."""
    from swiftbeaver_spark.llm.bpe import bpe_learn

    docs = _t(spark, sf_dir, "documents").select("text")
    merges = bpe_learn(docs, num_merges=BPE_MERGES)
    return spark.createDataFrame(
        merges, "rank int, left_sym string, right_sym string, pair_count long"
    ).orderBy("rank")


def _bpe_sql_ctes(num_merges: int) -> str:
    """Shared DuckDB WITH-chain replaying llm/bpe.py's training loop
    (the q137 unrolled-training convention): words table -> symbol
    strings with each symbol wrapped chr(1)‖sym‖chr(2) -> per merge
    [weighted adjacent-pair aggregate, argmax with lexicographic
    tie-break, merge rewrite]. The bracket encoding makes plain
    replace() EXACTLY the Spark fold's leftmost-first non-overlapping
    merge: "a a a a" under (a,a) -> "aa aa", and a pattern can never
    match across symbol boundaries (the corpus contains no chr(1)/
    chr(2) — ENFORCED, not assumed: w0 raises via DuckDB error() if a
    word ever carries either control byte, so a regenerated corpus
    that violated the bracket encoding would fail loudly instead of
    silently corrupting the replace()-based merge; ADVICE r6 #4).
    w{{N}} is the fully segmented vocabulary — q92's tokenizer reuses
    it directly."""
    norm = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    # AS MATERIALIZED is load-bearing: each w{i} is referenced twice
    # (by p{i+1} and w{i+1}); DuckDB's default CTE inlining would
    # double the plan per iteration — 2^num_merges copies of the base
    it = """
    , p{i} AS MATERIALIZED (
      SELECT syms[j] AS a, syms[j + 1] AS b,
             CAST(SUM(cnt) AS BIGINT) AS total
      FROM (SELECT cnt,
                   string_split(substring(s, 2, length(s) - 2),
                                chr(2) || chr(1)) AS syms
            FROM w{j0}) t,
           unnest(generate_series(1, len(syms) - 1)) AS u(j)
      GROUP BY a, b
    ), b{i} AS MATERIALIZED (
      SELECT a, b, total FROM p{i} ORDER BY total DESC, a, b LIMIT 1
    ), w{i} AS MATERIALIZED (
      -- LEFT JOIN + coalesce, not CROSS JOIN: when p{i} is empty
      -- (every word fully merged before the budget runs out) Spark's
      -- bpe_learn BREAKS and keeps the words table; a cross join with
      -- the empty b{i} would annihilate w{i} and every later CTE.
      -- b{i} stays empty for all later iterations too (the words
      -- table no longer changes), so pass-through is exact.
      SELECT w.word, w.cnt,
             coalesce(replace(w.s,
                              chr(1) || b.a || chr(2) || chr(1) || b.b || chr(2),
                              chr(1) || b.a || b.b || chr(2)),
                      w.s) AS s
      FROM w{j0} w LEFT JOIN b{i} b ON TRUE
    )"""
    iters = "".join(it.format(i=i + 1, j0=i) for i in range(num_merges))
    return f"""
    WITH wt AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
        SELECT unnest(string_split({norm}, ' ')) AS word
        FROM documents WHERE {norm} <> ''
      ) GROUP BY word
    ), w0 AS MATERIALIZED (
      SELECT word, cnt,
             CASE WHEN word LIKE '%' || chr(1) || '%'
                    OR word LIKE '%' || chr(2) || '%'
                  THEN error('bpe oracle: corpus word contains chr(1)/chr(2) delimiter byte')
                  ELSE chr(1) ||
                       array_to_string(string_split(word, ''), chr(2) || chr(1)) ||
                       chr(2) || chr(1) || '▁' || chr(2)
             END AS s
      FROM wt
    ){iters}"""


def q59_sql() -> str:
    rows = "\n      UNION ALL\n".join(
        f"      SELECT CAST({i} AS INT) AS rank, a AS left_sym,"
        f" b AS right_sym, total AS pair_count FROM b{i + 1}"
        for i in range(BPE_MERGES)
    )
    return f"""{_bpe_sql_ctes(BPE_MERGES)}
    SELECT * FROM (
{rows}
    ) ORDER BY rank
    """


def q60_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAPSTONE composition — the ops are real pipeline stages, not
    isolated demos: hashed-linear quality filter (q55) -> exact dedup
    (q18) -> sequence packing (q38), one SQL oracle replaying the
    whole chain. Kept docs are those with a strictly positive raw
    weight sum (an INTEGER, so the filter boundary is exact on both
    engines); survivors dedup to the lowest id per digest; the packed
    pieces prove the two-level prefix sum composes downstream of
    filters and joins."""
    from swiftbeaver_spark.llm.pipeline import pack_sequences
    from swiftbeaver_spark.llm.text import linear_quality_score

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    kept_ids = (
        linear_quality_score(docs)
        .where(F.col("score_sum") > 0)
        .select("doc_id")
    )
    kept = docs.join(kept_ids, "doc_id")
    canon_ids = kept.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    deduped = kept.join(canon_ids.select("doc_id"), "doc_id")
    return pack_sequences(
        deduped, seq_len=PACK_SEQ_LEN, block=PACK_BLOCK
    ).orderBy("doc_id", "seq_id")


def q60_sql() -> str:
    L = PACK_SEQ_LEN
    norm = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split({norm}, ' ')) AS token
      FROM documents WHERE {norm} <> ''
    ), weighted AS (
      SELECT doc_id,
             CAST('0x' || substr(md5('w:' ||
                    substr(md5('f:' || token), 1, 3)), 1, 8) AS BIGINT)
               % 2001 - 1000 AS w
      FROM toks
    ), keep AS (
      SELECT d.doc_id, d.text
      FROM documents d
      JOIN (SELECT doc_id FROM weighted GROUP BY doc_id
            HAVING SUM(w) > 0) s USING (doc_id)
    ), canon AS (
      SELECT MIN(doc_id) AS doc_id FROM keep GROUP BY md5(text)
    ), dd AS (
      SELECT k.doc_id, k.text FROM keep k JOIN canon USING (doc_id)
    ), t AS (
      SELECT doc_id,
             CASE WHEN n = '' THEN 0
                  ELSE length(n) - length(replace(n, ' ', '')) + 1 END AS n_tok
      FROM (SELECT doc_id, {norm} AS n FROM dd)
    ), o AS (
      SELECT doc_id, n_tok,
             CAST(SUM(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                  - n_tok AS BIGINT) AS tok_start
      FROM t
    )
    SELECT doc_id, s.seq_id,
           LEAST((s.seq_id + 1) * {L}, tok_start + n_tok)
             - GREATEST(s.seq_id * {L}, tok_start) AS piece_tokens
    FROM o
    CROSS JOIN LATERAL (
      SELECT unnest(generate_series(tok_start // {L},
                                    (tok_start + n_tok - 1) // {L})) AS seq_id
    ) s
    WHERE n_tok > 0
    ORDER BY doc_id, seq_id
    """


ROLLUP_BUCKET_S = 3600


def q61_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate (relational.py::
    time_bucket_rollup): per-(event_type, 1h bucket) OHLC — open/close
    deterministically ordered by (ts, event_id), lo/hi/sum/count — all
    algebraic aggregates, so the shuffle carries at most one row per
    (type, bucket) per map task."""
    from swiftbeaver_spark.relational import time_bucket_rollup

    events = _t(spark, sf_dir, "events")
    out = time_bucket_rollup(
        events, "ts", ["event_type"], "value", ["event_id"], ROLLUP_BUCKET_S
    )
    return out.select(
        "event_type",
        F.col("bucket").cast("long").alias("bucket"),
        F.date_format("bucket_start", "yyyy-MM-dd HH:mm:ss").alias("bucket_start"),
        "n_rows",
        F.format_string("%.6f", F.col("lo")).alias("lo"),
        F.format_string("%.6f", F.col("hi")).alias("hi"),
        F.format_string("%.6f", F.round(F.col("sum_value"), 6)).alias("sum_value"),
        F.format_string("%.6f", F.col("open_value")).alias("open_value"),
        F.format_string("%.6f", F.col("close_value")).alias("close_value"),
    ).orderBy("event_type", "bucket")


def q61_sql() -> str:
    span_us = ROLLUP_BUCKET_S * 1_000_000
    return f"""
    WITH e AS (
      SELECT event_type, event_id, value,
             CAST(ts AS TIMESTAMP) AS t,
             epoch_us(CAST(ts AS TIMESTAMP)) // {span_us} AS bucket
      FROM events
    )
    SELECT event_type,
           CAST(bucket AS BIGINT) AS bucket,
           strftime(make_timestamp(bucket * {span_us}), '%Y-%m-%d %H:%M:%S')
             AS bucket_start,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           printf('%.6f', MIN(value)) AS lo,
           printf('%.6f', MAX(value)) AS hi,
           printf('%.6f', ROUND(SUM(value), 6)) AS sum_value,
           printf('%.6f', FIRST(value ORDER BY t, event_id)) AS open_value,
           printf('%.6f', LAST(value ORDER BY t, event_id)) AS close_value
    FROM e
    GROUP BY event_type, bucket
    ORDER BY event_type, bucket
    """


BM25_TERMS = ["the", "spark", "merge"]
BM25_K1, BM25_B = 1.5, 0.75  # exact binary fractions: k1+1, 1-b stay exact


def q62_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance with a ratio idf (llm/text.py::bm25_scores) —
    rank-equivalent to log-idf BM25 but free of transcendentals, so
    every double is bit-reproducible across engines; only the final
    per-doc sum needs the established ROUND(...,6) canon."""
    from swiftbeaver_spark.llm.text import bm25_scores

    docs = _t(spark, sf_dir, "documents")
    out = bm25_scores(docs, BM25_TERMS, k1=BM25_K1, b=BM25_B)
    return out.select(
        "doc_id",
        "n_terms_hit",
        F.format_string("%.6f", F.round(F.col("bm25"), 6)).alias("bm25"),
    ).orderBy("doc_id")


def q62_sql() -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_TERMS)
    k1p1 = BM25_K1 + 1.0
    one_minus_b = 1.0 - BM25_B
    return f"""
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ), inst AS (
      SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl, unnest(toks) AS term
      FROM base
    ), hits AS (
      SELECT doc_id, dl, term, CAST(COUNT(*) AS DOUBLE) AS tf
      FROM inst WHERE term IN ({terms})
      GROUP BY 1, 2, 3
    ), nn AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents
    ), dfs AS (
      SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM hits GROUP BY term
    ), idf AS (
      SELECT term, (n - df + 0.5) / (df + 0.5) AS idf_r
      FROM dfs CROSS JOIN nn
    ), ad AS (
      SELECT SUM(CAST(len(toks) AS DOUBLE)) / COUNT(*) AS avgdl FROM base
    ), parts AS (
      SELECT doc_id,
             idf_r * (tf * {k1p1}) /
               (tf + {BM25_K1} * ({one_minus_b} + {BM25_B} * (dl / avgdl)))
               AS part
      FROM hits JOIN idf USING (term) CROSS JOIN ad
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
           printf('%.6f', ROUND(SUM(part), 6)) AS bm25
    FROM parts GROUP BY doc_id ORDER BY doc_id
    """


BLOOM_K, BLOOM_PREFIX = 4, 4


def q63_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-neutral Bloom filter (sketch.py::bloom_build/probe):
    members = content hashes of every 17th document; every distinct
    content hash probes the broadcast filter. The oracle recomputes the
    exact md5-prefix bit set, so even the (vanishingly rare at this
    width) false positives would match."""
    from swiftbeaver_spark.sketch import bloom_build, bloom_probe

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("content_hash")
    )
    members = docs.where(F.col("doc_id") % 17 == 0).select("content_hash")
    probes = docs.select("content_hash").distinct()
    out = bloom_probe(
        bloom_build(members, "content_hash", k=BLOOM_K, prefix_len=BLOOM_PREFIX),
        probes,
        "content_hash",
        k=BLOOM_K,
        prefix_len=BLOOM_PREFIX,
    )
    return out.select(
        "content_hash", F.col("maybe_member").cast("int").alias("maybe_member")
    ).orderBy("content_hash")


def q63_sql() -> str:
    return f"""
    WITH docs AS (
      SELECT doc_id, md5(text) AS content_hash FROM documents
    ), js AS (
      SELECT unnest(generate_series(0, {BLOOM_K - 1})) AS j
    ), bits AS (
      SELECT DISTINCT j,
             substr(md5(j || ':' || content_hash), 1, {BLOOM_PREFIX}) AS bucket
      FROM docs CROSS JOIN js
      WHERE doc_id % 17 = 0
    ), probes AS (
      SELECT DISTINCT content_hash FROM docs
    ), cells AS (
      SELECT content_hash, j,
             substr(md5(j || ':' || content_hash), 1, {BLOOM_PREFIX}) AS bucket
      FROM probes CROSS JOIN js
    )
    SELECT c.content_hash,
           CAST(COUNT(b.j) = {BLOOM_K} AS INT) AS maybe_member
    FROM cells c LEFT JOIN bits b USING (j, bucket)
    GROUP BY c.content_hash
    ORDER BY c.content_hash
    """


FUNNEL_STEPS = ["view", "click", "purchase"]


def q64_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel analysis (relational.py::funnel): greedy earliest
    view -> click -> purchase per user; k-1 user-key equi-joins with
    type filters pushed to the scan, no whole-history window."""
    from swiftbeaver_spark.relational import funnel

    events = _t(spark, sf_dir, "events")
    out = funnel(events, FUNNEL_STEPS)
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return out.select(
        "user_id",
        F.date_format("step_1_ts", fmt).alias("step_1_ts"),
        F.coalesce(F.date_format("step_2_ts", fmt), F.lit("")).alias("step_2_ts"),
        F.coalesce(F.date_format("step_3_ts", fmt), F.lit("")).alias("step_3_ts"),
        "funnel_depth",
    ).orderBy("user_id")


def q64_sql() -> str:
    s1, s2, s3 = FUNNEL_STEPS
    return f"""
    WITH s1 AS (
      SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS step_1_ts
      FROM events WHERE event_type = '{s1}' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS step_2_ts
      FROM events e JOIN s1 USING (user_id)
      WHERE e.event_type = '{s2}' AND CAST(e.ts AS TIMESTAMP) > s1.step_1_ts
      GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS step_3_ts
      FROM events e JOIN s2 USING (user_id)
      WHERE e.event_type = '{s3}' AND CAST(e.ts AS TIMESTAMP) > s2.step_2_ts
      GROUP BY e.user_id
    )
    SELECT s1.user_id,
           strftime(step_1_ts, '%Y-%m-%d %H:%M:%S.%f') AS step_1_ts,
           COALESCE(strftime(step_2_ts, '%Y-%m-%d %H:%M:%S.%f'), '') AS step_2_ts,
           COALESCE(strftime(step_3_ts, '%Y-%m-%d %H:%M:%S.%f'), '') AS step_3_ts,
           CAST((step_1_ts IS NOT NULL)::INT + (step_2_ts IS NOT NULL)::INT
                + (step_3_ts IS NOT NULL)::INT AS INT) AS funnel_depth
    FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
    ORDER BY s1.user_id
    """


def q65_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension history (relational.py::scd2_intervals): each
    user's event_type as a changing state — same-instant writes
    pre-deduped by max event_id, consecutive no-op changes collapsed,
    validity intervals via per-key lead. Both windows partition on the
    user key."""
    from swiftbeaver_spark.relational import scd2_intervals

    events = _t(spark, sf_dir, "events")
    changes = events.groupBy("user_id", "ts").agg(
        F.max_by("event_type", "event_id").alias("state")
    )
    out = scd2_intervals(changes, ["user_id"], "ts", ["state"])
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return out.select(
        "user_id",
        "state",
        F.date_format("valid_from", fmt).alias("valid_from"),
        F.coalesce(F.date_format("valid_to", fmt), F.lit("")).alias("valid_to"),
        F.col("is_current").cast("int").alias("is_current"),
    ).orderBy("user_id", "valid_from")


def q65_sql() -> str:
    return """
    WITH d AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             arg_max(event_type, event_id) AS state
      FROM events GROUP BY user_id, CAST(ts AS TIMESTAMP)
    ), ch AS (
      SELECT *, lag(state) OVER (PARTITION BY user_id ORDER BY ts) AS prev
      FROM d
    ), kept AS (
      SELECT user_id, ts, state FROM ch
      WHERE prev IS NULL OR state <> prev
    )
    SELECT user_id, state,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
           COALESCE(strftime(lead(ts) OVER (PARTITION BY user_id ORDER BY ts),
                             '%Y-%m-%d %H:%M:%S.%f'), '') AS valid_to,
           CAST((lead(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL)
                AS INT) AS is_current
    FROM kept
    ORDER BY user_id, valid_from
    """


ZORDER_BITS = 8


def q66_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering key (layout.py::zorder_key): Morton
    interleave of (user_id mod 256, event_id mod 256) — closed-form
    bit arithmetic in whole-stage codegen; the layout operator
    range-partitions by this key so parquet min/max stats prune in
    BOTH dimensions."""
    from swiftbeaver_spark.layout import zorder_key

    events = _t(spark, sf_dir, "events")
    x = (F.col("user_id") % 256).cast("long")
    y = (F.col("event_id") % 256).cast("long")
    return events.select(
        "event_id",
        x.alias("x"),
        y.alias("y"),
        zorder_key([x, y], bits=ZORDER_BITS).alias("z"),
    ).orderBy("event_id")


def q66_sql() -> str:
    parts = []
    for i in range(ZORDER_BITS):
        parts.append(f"((x // {1 << i}) % 2) * {1 << (2 * i)}")
        parts.append(f"((y // {1 << i}) % 2) * {1 << (2 * i + 1)}")
    z = " + ".join(parts)
    return f"""
    WITH e AS (
      SELECT event_id, user_id % 256 AS x, event_id % 256 AS y FROM events
    )
    SELECT event_id, CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
           CAST({z} AS BIGINT) AS z
    FROM e ORDER BY event_id
    """


def q67_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean token rarity (llm/text.py::token_rarity) — rare-word
    quality signal with ALL-INTEGER accumulation (rarity_milli =
    (1000 * corpus instances) div token count), so the score has zero
    float-order sensitivity; the mean is one exact double division."""
    from swiftbeaver_spark.llm.text import token_rarity

    docs = _t(spark, sf_dir, "documents")
    out = token_rarity(docs)
    return out.select(
        "doc_id",
        "n_tok",
        "rarity_sum_milli",
        F.format_string("%.6f", F.col("mean_rarity_milli")).alias(
            "mean_rarity_milli"
        ),
    ).orderBy("doc_id")


def q67_sql() -> str:
    return """
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ), inst AS (
      SELECT doc_id, unnest(toks) AS term FROM base
    ), counts AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS c FROM inst GROUP BY term
    ), total AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM counts
    ), scored AS (
      SELECT doc_id, (1000 * n_total) // c AS rar
      FROM inst JOIN counts USING (term) CROSS JOIN total
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tok,
           CAST(SUM(rar) AS BIGINT) AS rarity_sum_milli,
           printf('%.6f', CAST(SUM(rar) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
             AS mean_rarity_milli
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """


FIXED_K = 25


def q68_stratified_fixed_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k-per-stratum deterministic sample (llm/pipeline.py::
    stratified_fixed_k): md5(id) rank inside each language, keep
    rank <= k. Membership is a pure function of the id set —
    reproducible on any engine/partitioning (the oracle replays the
    identical rank)."""
    from swiftbeaver_spark.llm.pipeline import stratified_fixed_k

    docs = _t(spark, sf_dir, "documents")
    out = stratified_fixed_k(docs, FIXED_K, strata_col="lang")
    return out.select("doc_id", "lang").orderBy("lang", "doc_id")


def q68_sql() -> str:
    return f"""
    WITH ranked AS (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rnk
      FROM documents
    )
    SELECT doc_id, lang FROM ranked WHERE rnk <= {FIXED_K}
    ORDER BY lang, doc_id
    """


SKEW_TOPN = 20


def q69_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-distribution profiler (relational.py::skew_profile): the 20
    heaviest user keys in the event stream with integer per-mille
    shares — the pre-join diagnostic that decides salting/pre-split.
    TakeOrdered top-n (plan-tested), totals broadcast, all-integer."""
    from swiftbeaver_spark.relational import skew_profile

    events = _t(spark, sf_dir, "events")
    out = skew_profile(events, ["user_id"], topn=SKEW_TOPN)
    return out.select(
        "rank", "user_id", "cnt", "total_rows", "n_keys", "share_milli"
    ).orderBy("rank")


def q69_sql() -> str:
    return f"""
    WITH c AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY user_id
    ), t AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS total_rows,
             CAST(COUNT(*) AS BIGINT) AS n_keys
      FROM c
    ), top AS (
      SELECT * FROM c ORDER BY cnt DESC, user_id LIMIT {SKEW_TOPN}
    )
    SELECT CAST(row_number() OVER (ORDER BY cnt DESC, user_id) AS INT) AS rank,
           user_id, cnt, total_rows, n_keys,
           (1000 * cnt) // total_rows AS share_milli
    FROM top CROSS JOIN t
    ORDER BY rank
    """


def q70_sketch_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-driven outlier filter: events whose value exceeds their
    type's p99 from the histogram quantile sketch (q54's operator),
    broadcast back as the threshold — the at-scale pattern for outlier
    removal (a per-group EXACT percentile would need a full sort per
    group; the sketch is one bounded-shuffle pass and the filter is
    map-side). Thresholds and comparisons replay exactly in SQL."""
    from swiftbeaver_spark.sketch import histogram_quantiles

    events = _t(spark, sf_dir, "events")
    p99 = histogram_quantiles(
        events, "value", ["event_type"], [0.99], nbins=HIST_BINS
    ).select("event_type", "q_value")
    out = events.join(F.broadcast(p99), "event_type").where(
        F.col("value") > F.col("q_value")
    )
    return out.select(
        "event_id",
        "event_type",
        F.format_string("%.6f", F.col("value")).alias("value"),
        F.format_string("%.6f", F.col("q_value")).alias("p99"),
    ).orderBy("event_id")


def q70_sql() -> str:
    return f"""
    WITH bounds AS (
      SELECT CAST(MIN(value) AS DOUBLE) AS lo, CAST(MAX(value) AS DOUBLE) AS hi
      FROM events
    ), b2 AS (
      SELECT lo, CASE WHEN hi > lo THEN (hi - lo) / {HIST_BINS}
                      ELSE 1.0 END AS w
      FROM bounds
    ), binned AS (
      SELECT event_type,
             CAST(LEAST(FLOOR((value - lo) / w), {HIST_BINS - 1}) AS BIGINT)
               AS bin,
             lo, w, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events CROSS JOIN b2
      GROUP BY 1, 2, 3, 4
    ), cum AS (
      SELECT event_type, bin, lo, w, cnt,
             SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin
                            ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(cnt) OVER (PARTITION BY event_type) AS n
      FROM binned
    ), p99 AS (
      SELECT event_type, MIN(bin) * ANY_VALUE(w) + ANY_VALUE(lo) AS q_value
      FROM cum
      WHERE cum >= CEIL(0.99 * n)
      GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           printf('%.6f', e.value) AS value,
           printf('%.6f', p.q_value) AS p99
    FROM events e JOIN p99 p USING (event_type)
    WHERE e.value > p.q_value
    ORDER BY e.event_id
    """


EDIT_MAX_DIST = 3


def q71_edit_distance_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup join (llm/dedup.py::
    edit_distance_near_dups) on planted mutations: every doc_id<25
    gets a ' xy'-suffixed copy (Levenshtein distance exactly 3). The
    FULL length-band blocked pipeline runs over corpus+mutants; the
    output is the planted slice, whose distances DuckDB's independent
    levenshtein() recomputes — two implementations of the same metric
    cross-checked on ~600-char strings."""
    from swiftbeaver_spark.llm.dedup import edit_distance_near_dups

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    mutated = docs.where(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" xy")).alias("text"),
    )
    # widen the band-explode map stage feeding the band-key join; the
    # levenshtein verify is per-row, so widening cannot drift results
    pairs = edit_distance_near_dups(
        spread(docs.unionByName(mutated)), max_dist=EDIT_MAX_DIST
    )
    return (
        pairs.where(F.col("doc_b") - F.col("doc_a") == 1_000_000)
        .select("doc_a", "doc_b", "dist")
        .orderBy("doc_a")
    )


def q71_sql() -> str:
    return f"""
    SELECT doc_id AS doc_a,
           doc_id + 1000000 AS doc_b,
           CAST(levenshtein(text, text || ' xy') AS INT) AS dist
    FROM documents
    WHERE doc_id < 25
      AND levenshtein(text, text || ' xy') <= {EDIT_MAX_DIST}
    ORDER BY doc_a
    """


def q72_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build for the BM25 query terms: term ->
    document frequency + sorted posting list (joined to a string —
    raw arrays crash the driver canon). The full-corpus version is
    the same plan with the term filter removed; postings stay sorted
    per term via sort_array, never a global sort."""
    docs = _t(spark, sf_dir, "documents")
    inst = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")
        ).alias("term"),
    ).where(F.col("term").isin(*BM25_TERMS))
    return (
        inst.groupBy("term")
        .agg(
            F.count_distinct("doc_id").cast("long").alias("df"),
            F.array_join(F.sort_array(F.collect_set("doc_id")), ",").alias(
                "postings"
            ),
        )
        .orderBy("term")
    )


def q72_sql() -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_TERMS)
    return f"""
    WITH inst AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                x -> x <> '')) AS term
      FROM documents
    )
    SELECT term,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
           string_agg(DISTINCT doc_id ORDER BY doc_id) AS postings
    FROM inst
    WHERE term IN ({terms})
    GROUP BY term
    ORDER BY term
    """


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q73_pivot_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: user x event_type count matrix via Spark's native
    pivot (compiles to one partial-agg shuffle with the pivot columns
    as conditional aggregates — same cost as the GROUP BY it
    replaces, NOT one pass per column)."""
    events = _t(spark, sf_dir, "events")
    out = (
        events.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .count()
        .na.fill(0, EVENT_TYPES)
    )
    return out.select(
        "user_id", *[F.col(t).cast("long").alias(t) for t in EVENT_TYPES]
    ).orderBy("user_id")


def q73_sql() -> str:
    cols = ",\n           ".join(
        f"CAST(COUNT(*) FILTER (WHERE event_type = '{t}') AS BIGINT) AS {t}"
        for t in EVENT_TYPES
    )
    return f"""
    SELECT user_id,
           {cols}
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """


def q74_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level aggregation: order revenue by ROLLUP(region,
    nation) — grand total, per-region, per-nation in ONE pass
    (Catalyst expands grouping sets map-side; dims broadcast). NULL
    grouping labels canonicalized to '(all)' and disambiguated from
    real NULLs by grouping_id."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    joined = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            orders.o_custkey == customer.c_custkey,
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(region.select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
    )
    # per-order cents are an engine-identical integer (multiply +
    # round of the same double); the BIGINT sum is then exact in any
    # order — the double SUM + ROUND form diverged in the last digit
    # at sf0.1's ~1e10 totals (float sum-order)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    out = joined.withColumn("cents", cents).rollup("r_name", "n_name").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("revenue_cents"),
        F.grouping_id().cast("int").alias("gid"),
    )
    return out.select(
        F.coalesce("r_name", F.lit("(all)")).alias("region"),
        F.coalesce("n_name", F.lit("(all)")).alias("nation"),
        "gid",
        "n_orders",
        F.format_string(
            "%.2f", F.col("revenue_cents") / 100.0
        ).alias("revenue"),
    ).orderBy("gid", "region", "nation")


def q74_sql() -> str:
    return """
    WITH j AS (
      SELECT r.r_name, n.n_name, o.o_totalprice
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
    )
    SELECT COALESCE(r_name, '(all)') AS region,
           COALESCE(n_name, '(all)') AS nation,
           CAST(GROUPING(r_name) * 2 + GROUPING(n_name) AS INT) AS gid,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           printf('%.2f',
                  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                       AS DOUBLE) / 100.0) AS revenue
    FROM j
    GROUP BY ROLLUP (r_name, n_name)
    ORDER BY gid, region, nation
    """


def q75_stream_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING sketch maintenance: the count-min sketch is exactly
    mergeable (integer cell sums), so maintaining it per micro-batch —
    foreachBatch builds a PARTIAL sketch of each batch and appends it;
    the accumulated partials merge by (j, bucket) SUM — must produce
    the IDENTICAL sketch a single batch pass builds. q49's oracle
    replays that batch sketch in SQL, so streaming maintenance sits
    under the same hash gate. This is the production shape for
    continuous corpus statistics: per-batch work is bounded by the
    sketch size, the merge is associative, and no state ever exceeds
    depth x width rows. (Tempdir source/sink is the LOCAL-harness
    device; on a cluster these are shared storage.)"""
    import tempfile

    from swiftbeaver_spark.llm.dedup import normalized_text
    from swiftbeaver_spark.sketch import countmin_build, countmin_estimate

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    tmp = tempfile.mkdtemp(prefix="sb_q75_")
    src, acc, ckpt = f"{tmp}/src", f"{tmp}/acc", f"{tmp}/ckpt"
    # several source files -> several micro-batches
    docs.repartition(8).write.mode("overwrite").parquet(src)

    def to_tokens(df: DataFrame) -> DataFrame:
        return df.select(
            F.explode(
                F.filter(
                    F.split(normalized_text(F.col("text")), " "),
                    lambda t: t != "",
                )
            ).alias("token")
        )

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        partial = countmin_build(
            to_tokens(batch_df), "token", depth=CMS_DEPTH, prefix_len=CMS_PREFIX
        )
        partial.write.mode("append").parquet(acc)

    q = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
        .writeStream.foreachBatch(fold)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    merged = (
        spark.read.parquet(acc)
        .groupBy("j", "bucket")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    inst = to_tokens(docs)
    true_counts = inst.groupBy("token").agg(
        F.count("*").cast("long").alias("true_count")
    )
    probes = true_counts.orderBy(F.desc("true_count"), "token").limit(CMS_TOPK)
    est = countmin_estimate(
        merged, probes.select("token"), "token", CMS_DEPTH, CMS_PREFIX
    )
    return (
        probes.join(est, "token")
        .select("token", "true_count", "cms_est")
        .orderBy(F.desc("true_count"), "token")
    )


def q76_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-style MERGE (relational.py::merge_upsert): customer
    balances updated from per-customer order spend (matched rows),
    plus synthetic new customers (insert path), in ONE full-outer
    equi-join — shuffle-free when both sides are bucketed on the key
    (the table-format MERGE fast path)."""
    from swiftbeaver_spark.relational import merge_upsert

    customer = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    spend = _t(spark, sf_dir, "orders").groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 6).alias("spend")
    )
    updates = (
        customer.join(spend, customer.c_custkey == spend.o_custkey)
        .select(
            "c_custkey",
            "c_name",
            (F.col("c_acctbal") + F.col("spend")).alias("c_acctbal"),
        )
    )
    inserts = customer.where(F.col("c_custkey") < 10).select(
        (F.col("c_custkey") + 1_000_000).alias("c_custkey"),
        F.concat(F.lit("NEW#"), F.col("c_name")).alias("c_name"),
        F.lit(0.0).alias("c_acctbal"),
    )
    merged = merge_upsert(
        customer, updates.unionByName(inserts), ["c_custkey"]
    )
    return merged.select(
        "c_custkey",
        "c_name",
        F.format_string("%.6f", F.round(F.col("c_acctbal"), 6)).alias("c_acctbal"),
    ).orderBy("c_custkey")


def q76_sql() -> str:
    return """
    WITH spend AS (
      SELECT o_custkey, ROUND(SUM(o_totalprice), 6) AS spend
      FROM orders GROUP BY o_custkey
    ), updates AS (
      SELECT c.c_custkey, c.c_name, c.c_acctbal + s.spend AS c_acctbal
      FROM customer c JOIN spend s ON c.c_custkey = s.o_custkey
    ), inserts AS (
      SELECT c_custkey + 1000000 AS c_custkey,
             'NEW#' || c_name AS c_name,
             0.0 AS c_acctbal
      FROM customer WHERE c_custkey < 10
    ), src AS (
      SELECT * FROM updates UNION ALL SELECT * FROM inserts
    )
    SELECT COALESCE(t.c_custkey, s.c_custkey) AS c_custkey,
           CASE WHEN s.c_custkey IS NOT NULL THEN s.c_name
                ELSE t.c_name END AS c_name,
           printf('%.6f', ROUND(CASE WHEN s.c_custkey IS NOT NULL
                                     THEN s.c_acctbal
                                     ELSE t.c_acctbal END, 6)) AS c_acctbal
    FROM customer t FULL OUTER JOIN src s ON t.c_custkey = s.c_custkey
    ORDER BY c_custkey
    """


def q77_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (llm/similarity.py::
    label_centroids): (label, pos) component aggregation — shuffle
    cardinality = labels x dim regardless of corpus size, map-side
    combined; no driver collect, no array-valued shuffle."""
    from swiftbeaver_spark.llm.similarity import label_centroids

    emb = _t(spark, sf_dir, "embeddings")
    out = label_centroids(emb)
    return out.select(
        "label",
        (F.col("pos") + 1).cast("int").alias("pos"),  # 1-based like SQL
        "n",
        F.format_string("%.6f", F.round(F.col("centroid"), 6)).alias("centroid"),
    ).orderBy("label", "pos")


def q77_sql() -> str:
    return """
    WITH comps AS (
      SELECT label, p.pos, CAST(embedding[p.pos] AS DOUBLE) AS v
      FROM embeddings
      CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS pos) p
    )
    SELECT label, CAST(pos AS INT) AS pos,
           CAST(COUNT(*) AS BIGINT) AS n,
           printf('%.6f', ROUND(SUM(v) / COUNT(*), 6)) AS centroid
    FROM comps
    GROUP BY label, pos
    ORDER BY label, pos
    """


def q78_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC join: the event stream enriched per micro-batch
    against a static dimension (each user's first signup time, built
    batch-side) — stateless in the streaming engine, dim broadcast
    into every micro-batch. Purchases joined to their user's signup;
    the oracle is the identical batch join, which stream-static
    semantics must reproduce exactly. (Tempdir source/sink = local
    harness device.)"""
    import tempfile

    events = _t(spark, sf_dir, "events")
    dim = (
        events.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    tmp = tempfile.mkdtemp(prefix="sb_q78_")
    src, out, ckpt = f"{tmp}/src", f"{tmp}/out", f"{tmp}/ckpt"
    events.select("event_id", "user_id", "event_type", "ts").repartition(6).write.mode(
        "overwrite"
    ).parquet(src)
    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, event_type string, ts timestamp_ntz"
        )
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    enriched = (
        stream.where(F.col("event_type") == "purchase")
        .join(F.broadcast(dim), "user_id")
        .select("event_id", "user_id", "ts", "signup_ts")
    )
    q = (
        enriched.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return (
        spark.read.parquet(out)
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", fmt).alias("purchase_ts"),
            F.date_format("signup_ts", fmt).alias("signup_ts"),
        )
        .orderBy("event_id")
    )


def q78_sql() -> str:
    return """
    WITH dim AS (
      SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS signup_ts
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    )
    SELECT e.event_id, e.user_id,
           strftime(CAST(e.ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f')
             AS purchase_ts,
           strftime(d.signup_ts, '%Y-%m-%d %H:%M:%S.%f') AS signup_ts
    FROM events e JOIN dim d USING (user_id)
    WHERE e.event_type = 'purchase'
    ORDER BY e.event_id
    """


TOPN_PER_GROUP = 3


def q79_grouped_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-n per group: the 3 highest-value orders per region via a
    rank window partitioned by region — one dim-broadcast join chain,
    one shuffle on the group key, deterministic (value desc, orderkey
    asc) tie-break."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    joined = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            orders.o_custkey == customer.c_custkey,
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(region.select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
    )
    w = Window.partitionBy("r_name").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        joined.withColumn("rnk", F.row_number().over(w).cast("int"))
        .where(F.col("rnk") <= TOPN_PER_GROUP)
        .select(
            F.col("r_name").alias("region"),
            "rnk",
            "o_orderkey",
            F.format_string("%.6f", F.col("o_totalprice")).alias("total_price"),
        )
        .orderBy("region", "rnk")
    )


def q79_sql() -> str:
    return f"""
    WITH j AS (
      SELECT r.r_name, o.o_orderkey, o.o_totalprice
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
    ), ranked AS (
      SELECT r_name, o_orderkey, o_totalprice,
             CAST(row_number() OVER (
               PARTITION BY r_name
               ORDER BY o_totalprice DESC, o_orderkey ASC
             ) AS INT) AS rnk
      FROM j
    )
    SELECT r_name AS region, rnk, o_orderkey,
           printf('%.6f', o_totalprice) AS total_price
    FROM ranked WHERE rnk <= {TOPN_PER_GROUP}
    ORDER BY region, rnk
    """


PR_DAMPING, PR_ITERS = 0.85, 3


def q80_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank (relational.py::pagerank) — the
    web-graph quality-propagation shape used in corpus filtering —
    over a data-derived interaction graph: within each (event_type,
    1h bucket) stream ordered by (ts, event_id), an edge links each
    event's user to the previous event's user; weights = pair counts.
    The lag window partitions on (type, bucket) — bounded partitions
    at any scale. The oracle unrolls all three iterations in SQL."""
    from swiftbeaver_spark.relational import pagerank

    events = _t(spark, sf_dir, "events")
    bucket = F.expr(f"({ts_unix_micros_sql('ts')}) div {3600 * 1_000_000}L")
    w_lag = Window.partitionBy("event_type", bucket.alias("b")).orderBy(
        ts_unix_micros(F.col("ts")), "event_id"
    )
    prev_u = F.lag("user_id").over(w_lag)
    edges = (
        events.withColumn("src", prev_u)
        .where(F.col("src").isNotNull() & (F.col("src") != F.col("user_id")))
        .groupBy("src", F.col("user_id").alias("dst"))
        .agg(F.count("*").cast("double").alias("w"))
    )
    pr = pagerank(
        edges, weight_col="w", iterations=PR_ITERS, damping=PR_DAMPING
    )
    return pr.select(
        F.col("node").alias("user_id"),
        F.format_string("%.6f", F.round(F.col("pr") * 1000, 6)).alias("pr_milli"),
    ).orderBy("user_id")


def q80_sql() -> str:
    d = PR_DAMPING
    span_us = 3600 * 1_000_000
    it = """
    , c{k} AS (
      SELECT e.dst, SUM(p.pr * e.frac) AS in_c
      FROM e JOIN pr{j} p ON e.src = p.node
      GROUP BY e.dst
    ), pr{k} AS (
      SELECT nodes.node,
             (1.0 - {d}) / nn.n + {d} * COALESCE(c{k}.in_c, 0.0) AS pr
      FROM nodes CROSS JOIN nn
      LEFT JOIN c{k} ON nodes.node = c{k}.dst
    )"""
    iters = "".join(it.format(k=i + 1, j=i, d=d) for i in range(PR_ITERS))
    return f"""
    WITH ordered AS (
      SELECT user_id, event_type, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) // {span_us} AS b,
             epoch_us(CAST(ts AS TIMESTAMP)) AS tus
      FROM events
    ), lagged AS (
      SELECT user_id AS dst,
             lag(user_id) OVER (PARTITION BY event_type, b
                                ORDER BY tus, event_id) AS src
      FROM ordered
    ), raw AS (
      SELECT src, dst, CAST(COUNT(*) AS DOUBLE) AS w
      FROM lagged WHERE src IS NOT NULL AND src <> dst
      GROUP BY src, dst
    ), outw AS (
      SELECT src, SUM(w) AS outw FROM raw GROUP BY src
    ), e AS (
      SELECT r.src, r.dst, r.w / o.outw AS frac
      FROM raw r JOIN outw o USING (src)
    ), nodes AS (
      SELECT src AS node FROM e UNION SELECT dst FROM e
    ), nn AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes
    ), pr0 AS (
      SELECT node, 1.0 / nn.n AS pr FROM nodes CROSS JOIN nn
    ){iters}
    SELECT node AS user_id,
           printf('%.6f', ROUND(pr * 1000, 6)) AS pr_milli
    FROM pr{PR_ITERS}
    ORDER BY user_id
    """


PROFILE_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]


def q81_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profiler (relational.py::profile_table): per
    column non-null count, exact distinct, min/max as strings — all
    in one aggregation over one scan (plan-tested), unpivoted with
    stack()."""
    from swiftbeaver_spark.relational import profile_table

    orders = _t(spark, sf_dir, "orders")
    return profile_table(orders, PROFILE_COLS).orderBy("column")


def q81_sql() -> str:
    parts = [
        f"""
    SELECT '{c}' AS "column",
           CAST(COUNT({c}) AS BIGINT) AS n_nonnull,
           CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
           CAST(MIN({c}) AS VARCHAR) AS min_value,
           CAST(MAX({c}) AS VARCHAR) AS max_value
    FROM orders"""
        for c in PROFILE_COLS
    ]
    return " UNION ALL ".join(parts) + ' ORDER BY "column"'


def q82_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality deciles: ntile(10) over a deterministic
    (score, doc_id) total order — the corpus-binning op used to split
    training data into quality tiers. One shuffle on the language key;
    ntile semantics pinned across engines."""
    from swiftbeaver_spark.llm.text import linear_quality_score

    docs = _t(spark, sf_dir, "documents")
    scored = linear_quality_score(docs).select(
        "doc_id", "quality_score_micro"
    ).join(docs.select("doc_id", "lang"), "doc_id")
    w = Window.partitionBy("lang").orderBy(
        F.col("quality_score_micro").asc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("decile", F.ntile(10).over(w).cast("int"))
        .select("lang", "doc_id", "quality_score_micro", "decile")
        .orderBy("lang", "doc_id")
    )


def q82_sql() -> str:
    # replicate llm/text.py::linear_quality_score exactly (q55's
    # formula: md5-bucket integer weights, trunc-div micro score,
    # empty-normalized docs drop), then ntile(10) per language on the
    # same deterministic (micro score, doc_id) order
    norm = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split({norm}, ' ')) AS token
      FROM documents WHERE {norm} <> ''
    ), weighted AS (
      SELECT doc_id,
             CAST('0x' || substr(md5('w:' ||
                    substr(md5('f:' || token), 1, 3)), 1, 8) AS BIGINT)
               % 2001 - 1000 AS w
      FROM toks
    ), scores AS (
      SELECT doc_id,
             CAST((1000 * SUM(w)) // COUNT(*) AS BIGINT)
               AS quality_score_micro
      FROM weighted GROUP BY doc_id
    )
    SELECT d.lang, s.doc_id, s.quality_score_micro,
           CAST(ntile(10) OVER (PARTITION BY d.lang
                                ORDER BY s.quality_score_micro, s.doc_id)
                AS INT) AS decile
    FROM scores s JOIN documents d USING (doc_id)
    ORDER BY d.lang, s.doc_id
    """


def q83_multiset_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset semantics pinned: intersectAll / exceptAll (bag
    intersection/difference — occurrence counts matter, unlike the
    set variants) between two overlapping event-type projections.
    Both compile to aggregate-then-generate plans, not joins over
    duplicated rows."""
    events = _t(spark, sf_dir, "events")
    a = events.where(F.col("event_type").isin("view", "click")).select("user_id")
    b = events.where(F.col("event_type").isin("click", "purchase")).select(
        "user_id"
    )
    inter = a.intersectAll(b).groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_inter")
    )
    diff = a.exceptAll(b).groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_diff")
    )
    return (
        inter.join(diff, "user_id", "full")
        .select(
            "user_id",
            F.coalesce("n_inter", F.lit(0)).alias("n_inter"),
            F.coalesce("n_diff", F.lit(0)).alias("n_diff"),
        )
        .orderBy("user_id")
    )


def q83_sql() -> str:
    return """
    WITH a AS (
      SELECT user_id FROM events WHERE event_type IN ('view', 'click')
    ), b AS (
      SELECT user_id FROM events WHERE event_type IN ('click', 'purchase')
    ), inter AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_inter
      FROM (SELECT user_id FROM a INTERSECT ALL SELECT user_id FROM b)
      GROUP BY user_id
    ), diff AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_diff
      FROM (SELECT user_id FROM a EXCEPT ALL SELECT user_id FROM b)
      GROUP BY user_id
    )
    SELECT COALESCE(i.user_id, d.user_id) AS user_id,
           COALESCE(i.n_inter, 0) AS n_inter,
           COALESCE(d.n_diff, 0) AS n_diff
    FROM inter i FULL OUTER JOIN diff d ON i.user_id = d.user_id
    ORDER BY user_id
    """


MIX_WEIGHTS = {"src0": 5.0, "src1": 3.0}
MIX_K = 200


def q84_corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted corpus-mixture sampling (llm/pipeline.py::
    corpus_mixture): the training data-mixing step — mixture prefix
    proportions follow the WEIGHTS independent of corpus sizes, via
    pure map-side md5 arithmetic + broadcast counts + TakeOrdered."""
    from swiftbeaver_spark.llm.pipeline import corpus_mixture

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    out = corpus_mixture(docs, MIX_WEIGHTS, k=MIX_K)
    # floor-micro integer, not ROUND: floor of an identical double is
    # engine-identical; decimal-half ROUND is not (sf0.1 lesson)
    return out.select(
        "doc_id",
        "source",
        F.floor(F.col("mix_pos") * 1_000_000).cast("long").alias("mix_pos_micro"),
    ).orderBy("doc_id")


def q84_sql() -> str:
    cases = " ".join(
        f"WHEN '{c}' THEN {w}" for c, w in sorted(MIX_WEIGHTS.items())
    )
    return f"""
    WITH counts AS (
      SELECT source, CAST(COUNT(*) AS DOUBLE) AS n
      FROM documents GROUP BY source
    ), pos AS (
      SELECT d.doc_id, d.source,
             CAST(CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)
                       AS BIGINT) AS DOUBLE) / 4294967296.0
               * c.n / (CASE d.source {cases} ELSE 1.0 END) AS mix_pos
      FROM documents d JOIN counts c USING (source)
    ), top AS (
      SELECT * FROM pos ORDER BY mix_pos, doc_id LIMIT {MIX_K}
    )
    SELECT doc_id, source,
           CAST(FLOOR(mix_pos * 1000000) AS BIGINT) AS mix_pos_micro
    FROM top ORDER BY doc_id
    """


PQ_M, PQ_K, PQ_TOPK = 8, 16, 10


def _pq_books() -> list:
    from swiftbeaver_spark.llm.similarity import md5_centroids

    return [md5_centroids(PQ_K, 64 // PQ_M, tag=f"pqbook{j}") for j in range(PQ_M)]


def q85_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (llm/similarity.py::pq_encode/pq_topk,
    Jegou et al. ADC): md5-PINNED codebooks (q34's pinned-quantizer
    convention) so the oracle replays encode + asymmetric-distance
    top-k exactly — 64 floats compress to 8 sub-centroid codes; query
    scoring reads ONLY the codes via a broadcast m x k lookup table.
    Ranks use ROUND(adc, 6) on both engines (summation-order float
    noise cannot flip them)."""
    from swiftbeaver_spark.llm.similarity import pq_encode, pq_topk

    books = _pq_books()
    emb = _t(spark, sf_dir, "embeddings")
    # round_dp=6 pins encode to the oracle's ROUND(dist,6) argmin
    codes = pq_encode(emb, books, round_dp=6)
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = pq_topk(codes, queries, books, k=PQ_TOPK, round_scores=6)
    return out.select(
        "query_id",
        "vec_id",
        F.format_string("%.6f", F.col("adc_dist")).alias("adc_dist"),
        "rank",
    ).orderBy("query_id", "rank")


def q85_sql() -> str:
    books = _pq_books()
    dsub = 64 // PQ_M
    rows = ",\n        ".join(
        f"({j}, {p}, [{', '.join(str(x) for x in c)}]::DOUBLE[])"
        for j, book in enumerate(books)
        for p, c in enumerate(book)
    )
    return f"""
    WITH books(j, p, c) AS (
      VALUES {rows}
    ), js AS (
      SELECT unnest(generate_series(0, {PQ_M - 1})) AS j
    ), e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), subs AS (
      SELECT vec_id, j,
             list_slice(v, j * {dsub} + 1, (j + 1) * {dsub}) AS sub
      FROM e CROSS JOIN js
    ), enc AS (
      SELECT vec_id, j, p AS code FROM (
        SELECT s.vec_id, s.j, b.p,
               ROW_NUMBER() OVER (
                 PARTITION BY s.vec_id, s.j
                 ORDER BY ROUND(list_dot_product(s.sub, s.sub)
                                - 2 * list_dot_product(s.sub, b.c)
                                + list_dot_product(b.c, b.c), 6), b.p
               ) AS rn
        FROM subs s JOIN books b ON s.j = b.j
      ) WHERE rn = 1
    ), lut AS (
      SELECT s.vec_id AS query_id, s.j, b.p,
             list_dot_product(s.sub, s.sub)
               - 2 * list_dot_product(s.sub, b.c)
               + list_dot_product(b.c, b.c) AS d
      FROM subs s JOIN books b ON s.j = b.j
      WHERE s.vec_id < 3
    ), adc AS (
      SELECT l.query_id, en.vec_id, ROUND(SUM(l.d), 6) AS adc_dist
      FROM enc en JOIN lut l ON en.j = l.j AND en.code = l.p
      GROUP BY l.query_id, en.vec_id
    )
    SELECT query_id, vec_id,
           printf('%.6f', adc_dist) AS adc_dist,
           CAST(rank AS INT) AS rank
    FROM (
      SELECT query_id, vec_id, adc_dist,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY adc_dist, vec_id) AS rank
      FROM adc
    )
    WHERE rank <= {PQ_TOPK}
    ORDER BY query_id, rank
    """


def q86_sq8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization (llm/similarity.py::sq8_train/encode):
    per-dim [min, max] ranges (exact aggregates, rounded to the same
    6 dp on both engines) + affine floor codes — the 4x embedding
    compression path, fully replayed in SQL because every step is
    min/max, rounding, and floor arithmetic on identical doubles."""
    from swiftbeaver_spark.llm.similarity import sq8_encode, sq8_train

    emb = _t(spark, sf_dir, "embeddings")
    lo, hi = sq8_train(emb)
    out = sq8_encode(emb, lo, hi)
    return out.select(
        "vec_id",
        F.array_join(F.transform("sq8", lambda c: c.cast("string")), ",").alias(
            "codes"
        ),
    ).orderBy("vec_id")


def q86_sql() -> str:
    return """
    WITH comps AS (
      SELECT vec_id, p.pos, CAST(embedding[p.pos] AS DOUBLE) AS v
      FROM embeddings
      CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS pos) p
    ), rng AS (
      SELECT pos, ROUND(MIN(v), 6) AS lo, ROUND(MAX(v), 6) AS hi
      FROM comps GROUP BY pos
    ), coded AS (
      SELECT c.vec_id, c.pos,
             CASE WHEN (r.hi - r.lo) / 256.0 <= 0 THEN 0
                  ELSE GREATEST(0, LEAST(255,
                       CAST(FLOOR((c.v - r.lo) / ((r.hi - r.lo) / 256.0))
                            AS INT))) END AS code
      FROM comps c JOIN rng r USING (pos)
    )
    SELECT vec_id,
           string_agg(code, ',' ORDER BY pos) AS codes
    FROM coded GROUP BY vec_id ORDER BY vec_id
    """


BQ_TOPK = 10


def q87_binary_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-bit binary quantization + Hamming ANN (llm/similarity.py::
    bq_thresholds/bq_encode/bq_topk): per-dim midrange thresholds
    (exact min/max — no pinning needed), 64 sign bits packed into ONE
    BIGINT, scoring = bit_count(xor). Everything after the threshold
    compare is integer-exact, so the full pipeline INCLUDING training
    replays in SQL. The 100 TB story: the coarse shortlist stage ahead
    of PQ/exact re-rank, at one machine-word op per candidate."""
    from swiftbeaver_spark.llm.similarity import (
        bq_encode,
        bq_thresholds,
        bq_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    mids = bq_thresholds(emb)
    enc = bq_encode(emb, mids)
    queries = enc.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("bq").alias("query_bq")
    )
    out = bq_topk(enc, queries, k=BQ_TOPK)
    return out.select("query_id", "vec_id", "hamming", "rank").orderBy(
        "query_id", "rank"
    )


def q87_sql() -> str:
    bitvals = ",\n        ".join(
        f"({d + 1}, {(1 << d) if d < 63 else -(1 << 63)})" for d in range(64)
    )
    return f"""
    WITH pv(pos, bitval) AS (
      VALUES {bitvals}
    ), comps AS (
      SELECT vec_id, p.pos, CAST(embedding[p.pos] AS DOUBLE) AS v
      FROM embeddings
      CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS pos) p
    ), mids AS (
      SELECT pos, ROUND(MIN(v) + (MAX(v) - MIN(v)) / 2.0, 6) AS mid
      FROM comps GROUP BY pos
    ), codes AS (
      SELECT c.vec_id,
             CAST(SUM(CASE WHEN c.v > m.mid THEN pv.bitval ELSE 0 END)
                  AS BIGINT) AS bq
      FROM comps c JOIN mids m USING (pos) JOIN pv USING (pos)
      GROUP BY c.vec_id
    ), q AS (
      SELECT vec_id AS query_id, bq AS qbq FROM codes WHERE vec_id < 3
    ), scored AS (
      SELECT q.query_id, c.vec_id,
             CAST(bit_count(xor(c.bq, q.qbq)) AS INT) AS hamming
      FROM codes c CROSS JOIN q
    )
    SELECT query_id, vec_id, hamming, CAST(rank AS INT) AS rank
    FROM (
      SELECT query_id, vec_id, hamming,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY hamming, vec_id) AS rank
      FROM scored
    )
    WHERE rank <= {BQ_TOPK}
    ORDER BY query_id, rank
    """


IVFPQ_NLIST, IVFPQ_NPROBE, IVFPQ_TOPK = 8, 3, 10


def _ivfpq_cents() -> list:
    from swiftbeaver_spark.llm.similarity import md5_centroids

    return md5_centroids(IVFPQ_NLIST, 64, tag="ivfpqcent")


def q88_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (llm/similarity.py::ivfpq_encode/ivfpq_topk): the
    FAISS-IndexIVFPQ composition — coarse cell pruning THEN
    asymmetric-distance scoring over codes in the probed cells only.
    q34 proved the cell-pruning half (but re-ranked float vectors);
    q85 proved the ADC half (but scanned every code): this gates the
    100 TB shape where BOTH compressions compose. Coarse centroids AND
    codebooks are md5-PINNED, cells assigned by argmax ROUND(dot, 6)
    (q34 rule), codes by argmin ROUND(dist, 6) (q85 rule), ranks on
    ROUND(adc, 6) — the oracle replays the entire index, prune and
    score."""
    from swiftbeaver_spark.llm.similarity import ivfpq_encode, ivfpq_topk

    cents = _ivfpq_cents()
    books = _pq_books()
    emb = _t(spark, sf_dir, "embeddings")
    codes = ivfpq_encode(emb, cents, books, round_dp=6)
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = ivfpq_topk(
        codes, queries, cents, books,
        k=IVFPQ_TOPK, nprobe=IVFPQ_NPROBE, round_scores=6,
    )
    return out.select(
        "query_id",
        "vec_id",
        F.format_string("%.6f", F.col("adc_dist")).alias("adc_dist"),
        "rank",
    ).orderBy("query_id", "rank")


def q88_sql() -> str:
    cents = _ivfpq_cents()
    books = _pq_books()
    dsub = 64 // PQ_M
    crows = ",\n        ".join(
        f"({p}, [{', '.join(str(x) for x in c)}]::DOUBLE[])" for p, c in enumerate(cents)
    )
    brows = ",\n        ".join(
        f"({j}, {p}, [{', '.join(str(x) for x in c)}]::DOUBLE[])"
        for j, book in enumerate(books)
        for p, c in enumerate(book)
    )
    return f"""
    WITH cents(p, c) AS (
      VALUES {crows}
    ), books(j, p, c) AS (
      VALUES {brows}
    ), js AS (
      SELECT unnest(generate_series(0, {PQ_M - 1})) AS j
    ), e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), assigned AS (
      SELECT vec_id, cell FROM (
        SELECT e.vec_id, cents.p AS cell,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY ROUND(list_dot_product(e.v, cents.c), 6) DESC,
                                           cents.p) AS rn
        FROM e CROSS JOIN cents
      ) WHERE rn = 1
    ), subs AS (
      SELECT vec_id, j,
             list_slice(v, j * {dsub} + 1, (j + 1) * {dsub}) AS sub
      FROM e CROSS JOIN js
    ), enc AS (
      SELECT vec_id, j, p AS code FROM (
        SELECT s.vec_id, s.j, b.p,
               ROW_NUMBER() OVER (
                 PARTITION BY s.vec_id, s.j
                 ORDER BY ROUND(list_dot_product(s.sub, s.sub)
                                - 2 * list_dot_product(s.sub, b.c)
                                + list_dot_product(b.c, b.c), 6), b.p
               ) AS rn
        FROM subs s JOIN books b ON s.j = b.j
      ) WHERE rn = 1
    ), probe AS (
      SELECT query_id, cell FROM (
        SELECT e.vec_id AS query_id, cents.p AS cell,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY ROUND(list_dot_product(e.v, cents.c), 6) DESC,
                                           cents.p) AS rn
        FROM e CROSS JOIN cents WHERE e.vec_id < 3
      ) WHERE rn <= {IVFPQ_NPROBE}
    ), lut AS (
      SELECT s.vec_id AS query_id, s.j, b.p,
             list_dot_product(s.sub, s.sub)
               - 2 * list_dot_product(s.sub, b.c)
               + list_dot_product(b.c, b.c) AS d
      FROM subs s JOIN books b ON s.j = b.j
      WHERE s.vec_id < 3
    ), cand AS (
      SELECT pr.query_id, a.vec_id
      FROM assigned a JOIN probe pr ON a.cell = pr.cell
    ), adc AS (
      SELECT ca.query_id, ca.vec_id, ROUND(SUM(l.d), 6) AS adc_dist
      FROM cand ca
      JOIN enc en ON en.vec_id = ca.vec_id
      JOIN lut l ON l.query_id = ca.query_id AND en.j = l.j AND en.code = l.p
      GROUP BY ca.query_id, ca.vec_id
    )
    SELECT query_id, vec_id,
           printf('%.6f', adc_dist) AS adc_dist,
           CAST(rank AS INT) AS rank
    FROM (
      SELECT query_id, vec_id, adc_dist,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY adc_dist, vec_id) AS rank
      FROM adc
    )
    WHERE rank <= {IVFPQ_TOPK}
    ORDER BY query_id, rank
    """


WDS_NSHARDS = 4


def q89_webdataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset tar-shard round trip (llm/webdataset.py::tar_shards/
    untar_members): every document becomes a two-member sample
    (NNNNNNNN.txt = the text bytes, NNNNNNNN.json = a tiny metadata
    record), members pack into one hand-built USTAR archive per shard
    (applyInPandas writer), and the REAL reader (stdlib-tarfile
    mapInPandas) explodes the archives back to member rows. The oracle
    recomputes every (shard, sample_key, ext, size, md5) directly from
    `documents` — so a reader that drops, truncates, mis-keys, or
    corrupts any member hash-mismatches. The q30 convention, applied
    to the multimodal training input layout."""
    from swiftbeaver_spark.llm.webdataset import tar_shards, untar_members

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    shard = F.format_string("shard-%04d.tar", (F.col("doc_id") % WDS_NSHARDS).cast("int"))
    key = F.format_string("%08d", F.col("doc_id"))
    txt = docs.select(
        shard.alias("shard"),
        F.concat(key, F.lit(".txt")).alias("name"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )
    meta = docs.select(
        shard.alias("shard"),
        F.concat(key, F.lit(".json")).alias("name"),
        F.encode(
            F.concat(F.lit('{"doc_id":'), F.col("doc_id").cast("string"), F.lit("}")),
            "utf-8",
        ).alias("payload"),
    )
    archives = tar_shards(txt.unionByName(meta))
    members = untar_members(archives)
    return members.select(
        "shard",
        "sample_key",
        "ext",
        F.col("size").cast("long").alias("size"),
        F.md5("payload").alias("payload_md5"),
    ).orderBy("shard", "sample_key", "ext")


def q89_sql() -> str:
    return f"""
    WITH j AS (
      SELECT doc_id,
             '{{"doc_id":' || CAST(doc_id AS VARCHAR) || '}}' AS jm
      FROM documents
    ), m AS (
      SELECT printf('shard-%04d.tar', CAST(doc_id % {WDS_NSHARDS} AS INT)) AS shard,
             printf('%08d', doc_id) AS sample_key,
             'txt' AS ext,
             CAST(strlen(text) AS BIGINT) AS size,
             md5(text) AS payload_md5
      FROM documents
      UNION ALL
      SELECT printf('shard-%04d.tar', CAST(doc_id % {WDS_NSHARDS} AS INT)),
             printf('%08d', doc_id),
             'json',
             CAST(strlen(jm) AS BIGINT),
             md5(jm)
      FROM j
    )
    SELECT shard, sample_key, ext, size, payload_md5
    FROM m ORDER BY shard, sample_key, ext
    """


SHARD_N = 8


def q90_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard writer gate (llm/pipeline.py::shard_assign/
    write_assigned_shards): write the documents table into SHARD_N
    real parquet shard directories (deterministic equal-width id
    spans), then read the FILES back and manifest each shard —
    row count, id span, md5-prefix content checksum. The oracle
    recomputes the manifest from `documents` alone, so rows written to
    the wrong shard, dropped, or duplicated by the writer all
    hash-mismatch. This gates the layout the data loader will stream,
    through the actual files on disk — not the plan that was supposed
    to produce them."""
    import tempfile

    from swiftbeaver_spark.llm.pipeline import write_assigned_shards

    tmp = tempfile.mkdtemp(prefix="sb_q90_")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    write_assigned_shards(docs, tmp, num_shards=SHARD_N, order_col="doc_id")
    back = spark.read.parquet(tmp)
    chk = F.conv(F.substring(F.md5(F.col("text")), 1, 8), 16, 10).cast("long")
    return (
        back.groupBy(F.col("shard_id").cast("int").alias("shard_id"))
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
            F.sum(chk).cast("long").alias("content_checksum"),
        )
        .orderBy("shard_id")
    )


def q90_sql() -> str:
    return f"""
    WITH mm AS (
      SELECT MIN(doc_id) AS mn, MAX(doc_id) AS mx FROM documents
    ), a AS (
      SELECT CAST(((doc_id - mn) * {SHARD_N}) // (mx - mn + 1) AS INT) AS shard_id,
             doc_id, text
      FROM documents CROSS JOIN mm
    )
    SELECT shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(doc_id) AS min_id,
           MAX(doc_id) AS max_id,
           CAST(SUM(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT)) AS BIGINT)
             AS content_checksum
    FROM a GROUP BY shard_id ORDER BY shard_id
    """


CRF_SHORTLIST, CRF_TOPK = 50, 5


def q91_coarse_refine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval (llm/similarity.py::coarse_refine_topk):
    1-bit Hamming shortlist (q87's coarse stage, 8 B/vector scanned)
    -> exact cosine re-rank of only the shortlisted vectors — the
    production composition of the compression ladder's cheapest and
    most precise rungs. Thresholds train in-query (exact min/max
    midranges, q87 convention), the shortlist tie-breaks on
    (hamming, vec_id), the final rank on ROUND(cosine, 6) — every
    stage SQL-replayable, so the oracle replays shortlist AND
    re-rank."""
    from swiftbeaver_spark.llm.similarity import (
        bq_thresholds,
        coarse_refine_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    mids = bq_thresholds(emb)
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = coarse_refine_topk(
        emb, queries, mids, k=CRF_TOPK, shortlist=CRF_SHORTLIST, round_cosine=6
    )
    return out.select(
        "query_id",
        "vec_id",
        F.format_string("%.6f", F.col("cosine")).alias("cosine"),
        "rank",
    ).orderBy("query_id", "rank")


def q91_sql() -> str:
    bitvals = ",\n        ".join(
        f"({d + 1}, {(1 << d) if d < 63 else -(1 << 63)})" for d in range(64)
    )
    return f"""
    WITH pv(pos, bitval) AS (
      VALUES {bitvals}
    ), comps AS (
      SELECT vec_id, p.pos, CAST(embedding[p.pos] AS DOUBLE) AS v
      FROM embeddings
      CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS pos) p
    ), mids AS (
      SELECT pos, ROUND(MIN(v) + (MAX(v) - MIN(v)) / 2.0, 6) AS mid
      FROM comps GROUP BY pos
    ), codes AS (
      SELECT c.vec_id,
             CAST(SUM(CASE WHEN c.v > m.mid THEN pv.bitval ELSE 0 END)
                  AS BIGINT) AS bq
      FROM comps c JOIN mids m USING (pos) JOIN pv USING (pos)
      GROUP BY c.vec_id
    ), q AS (
      SELECT vec_id AS query_id, bq AS qbq FROM codes WHERE vec_id < 3
    ), short AS (
      SELECT query_id, vec_id FROM (
        SELECT q.query_id, c.vec_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY bit_count(xor(c.bq, q.qbq)), c.vec_id) AS rn
        FROM codes c CROSS JOIN q
      ) WHERE rn <= {CRF_SHORTLIST}
    ), e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    )
    SELECT query_id, vec_id,
           printf('%.6f', cosine) AS cosine,
           CAST(rank AS INT) AS rank
    FROM (
      SELECT s.query_id, s.vec_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY s.query_id
                                ORDER BY cosine DESC, s.vec_id) AS rank
      FROM (
        SELECT s.query_id, s.vec_id,
               ROUND(list_dot_product(ce.v, qe.v) /
                     (sqrt(list_dot_product(ce.v, ce.v)) *
                      sqrt(list_dot_product(qe.v, qe.v))), 6) AS cosine
        FROM short s
        JOIN e ce ON ce.vec_id = s.vec_id
        JOIN e qe ON qe.vec_id = s.query_id
      ) s
    )
    WHERE rank <= {CRF_TOPK}
    ORDER BY query_id, rank
    """


def q92_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE corpus tokenization (llm/bpe.py::bpe_tokenize) — the encode
    side of q59: learn BPE_MERGES merges, then tokenize every document
    via the distinct-word segmentation + ordered per-doc reassembly
    (the fold runs |V| times, not |corpus| times). HASH-GATED since
    round 6: the oracle replays training with q59's unrolled CTE chain,
    then joins the per-doc word instances to the segmented vocabulary
    (w{N} in the chain IS the word->symbols map — the tokenizer learns
    and encodes over the same corpus, so no separate segmentation pass
    is needed) and reassembles tokens in document word order.
    tests/test_bpe.py additionally pins the token stream
    document-for-document against an independent single-node
    encoder."""
    from swiftbeaver_spark.llm.bpe import bpe_learn, bpe_tokenize

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    merges = bpe_learn(docs, num_merges=BPE_MERGES)
    out = bpe_tokenize(docs, merges)
    return out.select(
        "doc_id",
        F.array_join("tokens", " ").alias("tokens_str"),
        "n_tokens",
    ).orderBy("doc_id")


def q92_sql() -> str:
    norm = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    return f"""{_bpe_sql_ctes(BPE_MERGES)}
    , inst AS (
      SELECT doc_id, j AS pos, toks[j] AS word
      FROM (SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   string_split({norm}, ' ') AS toks
            FROM documents) t,
           unnest(generate_series(1, len(toks))) AS u(j)
      WHERE toks[j] <> ''
    ), seg AS (
      SELECT word,
             string_split(substring(s, 2, length(s) - 2),
                          chr(2) || chr(1)) AS syms
      FROM w{BPE_MERGES}
    )
    SELECT i.doc_id,
           string_agg(array_to_string(g.syms, ' '), ' '
                      ORDER BY i.pos) AS tokens_str,
           CAST(SUM(len(g.syms)) AS BIGINT) AS n_tokens
    FROM inst i JOIN seg g ON i.word = g.word
    GROUP BY i.doc_id
    ORDER BY i.doc_id
    """


EMB_ND_PLANES = 6  # 64 buckets; candidate pairs ~ n^2/64 per-bucket-uniform


def q93_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup (llm/dedup.py::embedding_near_dups):
    hyperplane-LSH bucket then exact-cosine verify INSIDE buckets only
    — the embedding leg of the dedup family (minhash q26 / simhash q27
    / edit-distance q71). Planes pinned to the md5 constant matrix and
    the verify cosine rounded to 6 dp, so the oracle replays the whole
    approximate path (q28 convention): bucket fold, candidate
    generation, and thresholded verify. Planted dups at vec_id+1e6 are
    exact 2x scalings — same sign pattern (same bucket, guaranteed
    candidate) and cosine exactly 1.0 in IEEE on any engine."""
    from swiftbeaver_spark.llm.dedup import embedding_near_dups
    from swiftbeaver_spark.llm.similarity import md5_plane_matrix

    emb = _t(spark, sf_dir, "embeddings")
    planted = emb.where(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x * F.lit(2.0)).alias("embedding"),
    )
    # widen the per-vector plane fold (16 planes x 64 dims per row)
    # off the scan's single split; bucketing/verify are per-row or
    # equi-join, so widening cannot drift results
    corpus = spread(emb.select("vec_id", "embedding").unionByName(planted))
    pairs = embedding_near_dups(
        corpus,
        threshold=0.5,
        plane_matrix=md5_plane_matrix(EMB_ND_PLANES, 64),
        round_cosine=6,
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        F.format_string("%.6f", F.col("cosine")).alias("cosine"),
    ).orderBy("doc_a", "doc_b")


def q93_sql() -> str:
    from swiftbeaver_spark.llm.similarity import md5_plane_matrix

    planes = md5_plane_matrix(EMB_ND_PLANES, 64)
    bucket_terms = []
    for p, row in enumerate(planes):
        s = "0.0" + "".join(f" + v[{j + 1}]*({c})" for j, c in enumerate(row))
        bucket_terms.append(f"(CASE WHEN ({s}) > 0 THEN {1 << p} ELSE 0 END)")
    bucket = " + ".join(bucket_terms)
    return f"""
    WITH corpus AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000,
             list_transform(CAST(embedding AS DOUBLE[]), x -> x * 2.0)
      FROM embeddings WHERE vec_id < 10
    ), b AS (
      SELECT vec_id, v, {bucket} AS bucket FROM corpus
    )
    SELECT doc_a, doc_b, printf('%.6f', cosine) AS cosine FROM (
      SELECT l.vec_id AS doc_a, r.vec_id AS doc_b,
             ROUND(list_dot_product(l.v, r.v) /
                   (sqrt(list_dot_product(l.v, l.v)) *
                    sqrt(list_dot_product(r.v, r.v))), 6) AS cosine
      FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
    )
    WHERE cosine >= 0.5
    ORDER BY doc_a, doc_b
    """


def q94_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints as a blocking key
    (llm/text.py::fingerprint_pinned): md5 each 16-char shingle of the
    normalized text, keep the 8 smallest, md5 the joined mins — then
    self-join on the fingerprint to surface blocked pairs. Planted
    exact copies at doc_id+1e6 MUST collide (identical normalized
    text); planted mutations at doc_id+2e6 (' qq tail' suffix)
    collide only if the appended shingles miss the 8-min set — the
    oracle computes the identical fingerprint, so either outcome
    hash-matches. Scale: fingerprint is one codegen pass per doc;
    the self-join shuffles 16-byte keys, never text."""
    from swiftbeaver_spark.llm.text import fingerprint_pinned

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 100).select("doc_id", "text")
    copies = docs.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    mutated = docs.select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" qq tail")).alias("text"),
    )
    fp = (
        # widen the md5-per-shingle fingerprint off the single split
        spread(docs.unionByName(copies).unionByName(mutated))
        .select("doc_id", fingerprint_pinned(F.col("text")).alias("fp"))
    )
    l, r = fp.alias("l"), fp.alias("r")
    return (
        l.join(r, (F.col("l.fp") == F.col("r.fp")) & (F.col("l.doc_id") < F.col("r.doc_id")))
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"), F.col("l.fp").alias("fp"))
        .orderBy("doc_a", "doc_b")
    )


def q94_sql() -> str:
    fp = (
        "md5(array_to_string(list_slice(list_sort("
        "list_transform(list_distinct(list_transform("
        "generate_series(1, greatest(length(norm) - 15, 1)), "
        "i -> substr(norm, i, 16))), s -> md5(s))), 1, 8), ','))"
    )
    return f"""
    WITH base AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 100
    ), corpus AS (
      SELECT doc_id, text FROM base
      UNION ALL
      SELECT doc_id + 1000000, text FROM base
      UNION ALL
      SELECT doc_id + 2000000, text || ' qq tail' FROM base
    ), fp AS (
      SELECT doc_id, {fp} AS fp FROM (
        SELECT doc_id,
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
        FROM corpus
      )
    )
    SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, l.fp AS fp
    FROM fp l JOIN fp r ON l.fp = r.fp AND l.doc_id < r.doc_id
    ORDER BY doc_a, doc_b
    """


def q95_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingestion MinHash near-dup
    (llm/dedup.py::incremental_minhash_near_dups): the corpus maintains
    an LSH band index (minhash_band_index); a NEW batch — ' tail'-
    suffixed copies of doc_id<25 at +1e6, the q26 mutation — computes
    signatures for the batch only and probes the index with a
    (band, band_hash) equi-join, then exact-Jaccard-verifies the
    candidates. Output is the planted slice, whose pairs AND jaccard
    values DuckDB predicts exactly (char-9 shingle sets) — same oracle
    math as q26 but exercising the probe-an-index path a continuous
    crawl runs, where the 100 TB corpus is banded once, not per
    batch."""
    from swiftbeaver_spark.llm.dedup import (
        incremental_minhash_near_dups,
        minhash_band_index,
        minhash_signatures,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    index = minhash_band_index(minhash_signatures(docs))
    batch = docs.where(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail")).alias("text"),
    )
    hits = incremental_minhash_near_dups(batch, index, docs, threshold=0.5)
    return (
        hits.where(F.col("new_doc_id") - F.col("doc_id") == 1_000_000)
        .select(
            "new_doc_id",
            "doc_id",
            F.format_string("%.6f", F.col("jaccard")).alias("jaccard"),
        )
        .orderBy("new_doc_id")
    )


def q95_sql() -> str:
    shingle = (
        "list_distinct(list_transform(generate_series(1, greatest(length({t}) - 8, 1)), "
        "i -> substr({t}, i, 9)))"
    )
    return f"""
    WITH p AS (
      SELECT doc_id + 1000000 AS new_doc_id, doc_id,
             trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS na
      FROM documents WHERE doc_id < 25
    ), s AS (
      SELECT new_doc_id, doc_id,
             {shingle.format(t="na || ' tail'")} AS sa, {shingle.format(t="na")} AS sb
      FROM p
    )
    SELECT new_doc_id, doc_id,
           printf('%.6f', CAST(len(list_intersect(sa, sb)) AS DOUBLE)
                          / len(list_distinct(list_concat(sa, sb)))) AS jaccard
    FROM s ORDER BY new_doc_id
    """


def q96_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped star join: revenue per nation for one region and
    a one-year order window, over lineitem ⋈ orders ⋈ customer ⋈
    supplier ⋈ nation ⋈ region with the local-supplier constraint
    (c_nationkey = s_nationkey). Scale design: the fact-fact join
    (lineitem ⋈ orders) shuffles on orderkey AFTER the date filter
    pushes into the orders scan; nation/region carry explicit
    broadcast hints (always tiny); customer/supplier get NO hint —
    at 100 TB they are far beyond broadcast range, and AQE picks
    broadcast-vs-shuffle from runtime sizes. DECIMAL arithmetic
    end-to-end (q24 convention) keeps the aggregate exact
    cross-engine."""
    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    customer = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,4)")
    rev = (price * (F.lit(1).cast("decimal(18,4)") - disc)).cast("decimal(28,6)")
    joined = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            supplier,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        joined.groupBy("n_name")
        .agg(F.sum(rev).alias("rev_d"), F.count("*").alias("n_items"))
        .orderBy(F.desc("rev_d"), "n_name")
        .select("n_name", F.col("rev_d").cast("string").alias("revenue"), "n_items")
    )


def q96_sql() -> str:
    return """
    SELECT n_name, CAST(rev_d AS VARCHAR) AS revenue, n_items FROM (
      SELECT n_name,
             SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
                      (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
                      AS DECIMAL(28,6))) AS rev_d,
             COUNT(*) AS n_items
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1997-01-01'
      GROUP BY n_name
    ) ORDER BY rev_d DESC, n_name
    """


def q97_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner (layout.py::compaction_plan +
    compaction_summary): a synthetic manifest (one 'file' per document,
    8 table partitions, size = 331 bytes/char) is binned into ~64 KB
    rewrite groups by deterministic rolling-sum binning — the
    maintenance pass every 100 TB table needs after streaming ingest.
    The plan is a pure function of the manifest; the oracle replays
    the window arithmetic verbatim."""
    from swiftbeaver_spark.layout import compaction_plan, compaction_summary

    docs = _t(spark, sf_dir, "documents")
    files = docs.select(
        (F.col("doc_id") % 8).alias("part_key"),
        F.format_string("part-%08d", F.col("doc_id")).alias("path"),
        (F.length("text") * 331).cast("long").alias("size_bytes"),
    )
    plan = compaction_plan(files, target_bytes=64_000, partition_col="part_key")
    return compaction_summary(plan, partition_col="part_key").orderBy(
        "part_key", "compaction_group"
    )


def q97_sql() -> str:
    return """
    WITH files AS (
      SELECT doc_id % 8 AS part_key,
             printf('part-%08d', doc_id) AS path,
             CAST(length(text) * 331 AS BIGINT) AS size_bytes
      FROM documents
    ), plan AS (
      SELECT part_key, path, size_bytes,
             CAST(FLOOR(COALESCE(SUM(size_bytes) OVER (
                    PARTITION BY part_key ORDER BY path
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  / 64000.0) AS BIGINT) AS compaction_group
      FROM files
    )
    SELECT part_key, compaction_group,
           COUNT(*) AS n_files,
           CAST(SUM(size_bytes) AS BIGINT) AS group_bytes,
           MIN(path) AS first_path, MAX(path) AS last_path
    FROM plan
    GROUP BY part_key, compaction_group
    ORDER BY part_key, compaction_group
    """


def q98_cube_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over three lineitem dimensions (returnflag, linestatus,
    ship year): all 8 grouping-set combinations in ONE pass — Catalyst
    expands the sets map-side, so the fact table is read once and the
    partial aggregates shuffle once (vs 8 separate scans). Completes
    the multi-level-aggregation family next to q74's ROLLUP. Integer
    cents (q74 convention) keep sums exact cross-engine; grouping_id
    disambiguates '(all)' labels from real values."""
    lineitem = _t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    out = (
        lineitem.withColumn("cents", cents)
        .withColumn("ship_year", F.year("l_shipdate").cast("int"))
        .cube("l_returnflag", "l_linestatus", "ship_year")
        .agg(
            F.count("*").cast("long").alias("n_items"),
            F.sum("cents").cast("long").alias("price_cents"),
            F.grouping_id().cast("int").alias("gid"),
        )
    )
    return out.select(
        F.coalesce("l_returnflag", F.lit("(all)")).alias("returnflag"),
        F.coalesce("l_linestatus", F.lit("(all)")).alias("linestatus"),
        F.coalesce(F.col("ship_year").cast("string"), F.lit("(all)")).alias("ship_year"),
        "gid",
        "n_items",
        "price_cents",
    ).orderBy("gid", "returnflag", "linestatus", "ship_year")


def q98_sql() -> str:
    return """
    SELECT COALESCE(l_returnflag, '(all)') AS returnflag,
           COALESCE(l_linestatus, '(all)') AS linestatus,
           COALESCE(CAST(ship_year AS VARCHAR), '(all)') AS ship_year,
           CAST(GROUPING(l_returnflag, l_linestatus, ship_year) AS INT) AS gid,
           COUNT(*) AS n_items,
           CAST(SUM(cents) AS BIGINT) AS price_cents
    FROM (
      SELECT l_returnflag, l_linestatus,
             CAST(year(l_shipdate) AS INT) AS ship_year,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem
    )
    GROUP BY CUBE (l_returnflag, l_linestatus, ship_year)
    ORDER BY gid, returnflag, linestatus, ship_year
    """


def _q99_bmp_hex(color_reps: int, w: int, h: int) -> str:
    """Hex of a solid-color 24-bit BMP header for (w, h) whose body is
    the color repeated color_reps times (stride must equal w*3)."""
    import struct

    stride = (w * 3 + 3) & ~3
    body_len = stride * h
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, body_len, 0, 0, 0, 0)
    hdr = b"BM" + struct.pack("<I", 54 + body_len) + b"\x00" * 4 + struct.pack("<I", 54) + dib
    return hdr.hex()


def q99_resize_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize under the oracle (llm/multimodal.py::
    resize_images / bmp_pixels): per doc a solid-color 4x2 24-bit BMP
    is built IN SQL (color = md5(doc_id) prefix, the q30 build-bytes
    trick), the real numpy nearest-neighbor kernel resizes it to 2x2,
    and the oracle predicts the COMPLETE output file byte-for-byte
    (solid color in, solid color out: header + 2 rows of color*2 +
    2 pad bytes). Proves the Arrow plumbing AND the pixel math, not
    just schema shape."""
    from swiftbeaver_spark.llm.multimodal import resize_images

    in_hdr = _q99_bmp_hex(8, 4, 2)
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    color = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.unhex(F.concat(F.lit(in_hdr), F.repeat(color, 8))).alias("payload"),
    )
    out = resize_images(media, 2, 2)
    return out.select(
        "media_id",
        "width",
        "height",
        F.lower(F.hex("payload")).alias("payload_hex"),
        "status",
    ).orderBy("media_id")


def q99_sql() -> str:
    out_hdr = _q99_bmp_hex(0, 2, 2)
    return f"""
    SELECT doc_id AS media_id, 2 AS width, 2 AS height,
           '{out_hdr}' || c || c || '0000' || c || c || '0000' AS payload_hex,
           'resized' AS status
    FROM (
      SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS c
      FROM documents WHERE doc_id < 200
    )
    ORDER BY media_id
    """


_Q100_SIZES = (12, 16, 20)


def _q100_mp4_layout() -> tuple[str, str]:
    """(pre_hex, post_hex) around the three mdat frame spans for the
    q100 fixture MP4 — same box layout the pytest fixture builds, so
    the real sample-table walk (mp4_sample_index) sees genuine stts/
    stsz/stsc/stco tables."""
    import struct

    sizes, timescale, delta = _Q100_SIZES, 1000, 40

    def box(name: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + name + payload

    ftyp = box(b"ftyp", b"isom" + b"\x00" * 8)
    mdat_hdr = struct.pack(">I", 8 + sum(sizes)) + b"mdat"
    stts = box(b"stts", b"\x00" * 4 + struct.pack(">III", 1, len(sizes), delta))
    stsz = box(
        b"stsz",
        b"\x00" * 4
        + struct.pack(">II", 0, len(sizes))
        + b"".join(struct.pack(">I", s) for s in sizes),
    )
    stsc = box(b"stsc", b"\x00" * 4 + struct.pack(">I", 1) + struct.pack(">III", 1, len(sizes), 1))
    stco = box(b"stco", b"\x00" * 4 + struct.pack(">I", 1) + struct.pack(">I", len(ftyp) + 8))
    stbl = box(b"stbl", stts + stsz + stsc + stco)
    mdhd = box(
        b"mdhd",
        b"\x00" * 4
        + struct.pack(">II", 0, 0)
        + struct.pack(">II", timescale, len(sizes) * delta)
        + b"\x00" * 4,
    )
    moov = box(b"moov", box(b"trak", box(b"mdia", mdhd + box(b"minf", stbl))))
    return (ftyp + mdat_hdr).hex(), moov.hex()


def q100_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codec-free video frame sampling under the oracle
    (llm/multimodal.py::sample_video_frames / mp4_sample_index): per
    doc an MP4 with REAL sample tables (stts/stsz/stsc/stco) is built
    in SQL around three md5-derived frame spans; the real box walk
    recovers each encoded frame's (t_ms, offset, size) and slices the
    bytes, and the oracle predicts every frame row closed-form —
    parser vs prediction, the q30 convention."""
    from swiftbeaver_spark.llm.multimodal import sample_video_frames

    pre_hex, post_hex = _q100_mp4_layout()
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    # two md5s per frame: the largest span (20 B = 40 hex) exceeds one
    # md5's 32 hex chars
    frames = [
        F.substring(
            F.concat(
                F.md5(F.format_string(f"f{i}:%d", F.col("doc_id"))),
                F.md5(F.format_string(f"g{i}:%d", F.col("doc_id"))),
            ),
            1,
            2 * s,
        )
        for i, s in enumerate(_Q100_SIZES)
    ]
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.unhex(F.concat(F.lit(pre_hex), *frames, F.lit(post_hex))).alias("payload"),
    )
    out = sample_video_frames(media, stride=1)
    return out.select(
        "media_id",
        "frame_idx",
        "t_ms",
        F.lower(F.hex("frame_bytes")).alias("frame_hex"),
        "status",
    ).orderBy("media_id", "frame_idx")


def q100_sql() -> str:
    rows = []
    for i, s in enumerate(_Q100_SIZES):
        rows.append(
            f"SELECT doc_id AS media_id, {i} AS frame_idx, CAST({i * 40} AS BIGINT) AS t_ms, "
            f"substr(md5(printf('f{i}:%d', doc_id)) || md5(printf('g{i}:%d', doc_id)),"
            f" 1, {2 * s}) AS frame_hex, "
            f"'ok' AS status FROM documents WHERE doc_id < 100"
        )
    union = "\n      UNION ALL\n      ".join(rows)
    return f"""
    SELECT * FROM (
      {union}
    ) ORDER BY media_id, frame_idx
    """


_Q101_PCM_BYTES = 24  # 3 exact 1-second windows at byte_rate 8


def _q101_wav_header_hex() -> str:
    """RIFF/WAVE header for a mono PCM stream: byte_rate 8, block_align
    2, data chunk of _Q101_PCM_BYTES."""
    import struct

    fmt = struct.pack("<HHIIHH", 1, 1, 4, 8, 2, 16)
    hdr = (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + _Q101_PCM_BYTES)
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", _Q101_PCM_BYTES)
    )
    return hdr.hex()


def q101_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PCM window slicing under the oracle (llm/multimodal.py::
    sample_audio_windows): per doc a WAV with md5-derived PCM is built
    in SQL (byte_rate 8 -> three exact 1 s windows of 8 bytes), the
    real fmt/data chunk walk maps milliseconds to aligned byte spans,
    and the oracle predicts every (window_idx, t_ms, pcm) row
    closed-form — parser vs prediction, the q30 convention."""
    from swiftbeaver_spark.llm.multimodal import sample_audio_windows

    hdr = _q101_wav_header_hex()
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    pcm_hex = F.substring(
        F.concat(
            F.md5(F.format_string("a:%d", F.col("doc_id"))),
            F.md5(F.format_string("b:%d", F.col("doc_id"))),
        ),
        1,
        2 * _Q101_PCM_BYTES,
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.unhex(F.concat(F.lit(hdr), pcm_hex)).alias("payload"),
    )
    out = sample_audio_windows(media, window_ms=1000)
    return out.select(
        "media_id",
        "window_idx",
        "t_ms",
        F.lower(F.hex("pcm")).alias("pcm_hex"),
        "status",
    ).orderBy("media_id", "window_idx")


def q101_sql() -> str:
    rows = []
    for i in range(3):
        rows.append(
            f"SELECT doc_id AS media_id, {i} AS window_idx,"
            f" CAST({i * 1000} AS BIGINT) AS t_ms,"
            f" substr(md5(printf('a:%d', doc_id)) || md5(printf('b:%d', doc_id)),"
            f" {16 * i + 1}, 16) AS pcm_hex,"
            f" 'ok' AS status FROM documents WHERE doc_id < 100"
        )
    union = "\n      UNION ALL\n      ".join(rows)
    return f"""
    SELECT * FROM (
      {union}
    ) ORDER BY media_id, window_idx
    """


def q102_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users cohorted by first-activity week,
    counted distinct per (cohort_week, week_offset) — the standard
    product-analytics rollup. Scale shape: distinct (user, week) is
    ONE shuffle of narrow keys; the per-user min is a partial
    aggregate; the cohort join keys on user_id (AQE broadcasts the
    cohort table when it fits — it is rows-per-USER, not per-event);
    the final matrix is bounded by weeks^2."""
    events = _t(spark, sf_dir, "events")
    active = (
        events.select(
            "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("week")
        )
        .distinct()
    )
    cohorts = active.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        active.join(cohorts, "user_id")
        .select(
            "cohort_week",
            (F.datediff(F.col("week"), F.col("cohort_week")) / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count("*").cast("long").alias("n_users"))
        .select(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            "week_offset",
            "n_users",
        )
        .orderBy("cohort_week", "week_offset")
    )


def q102_sql() -> str:
    return """
    WITH active AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
      FROM events
    ), cohorts AS (
      SELECT user_id, MIN(week) AS cohort_week FROM active GROUP BY user_id
    )
    SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
           CAST(date_diff('day', cohort_week, week) // 7 AS BIGINT) AS week_offset,
           COUNT(*) AS n_users
    FROM active JOIN cohorts USING (user_id)
    GROUP BY cohorts.cohort_week, week_offset
    ORDER BY cohort_week, week_offset
    """


def q103_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-transition matrix: per user, consecutive
    event-type pairs (lag window ordered by ts, event_id — ties break
    deterministically) counted into (from_type, to_type, n,
    probability). The window partitions by user_id (bounded per-user
    history, never a global sort); the matrix is |types|^2. The
    probability denominators come from a second small aggregate over
    the matrix itself, not another pass over events."""
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        events.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .where(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").cast("long").alias("n"))
    )
    totals = Window.partitionBy("from_type")
    return (
        pairs.withColumn(
            "probability",
            F.format_string(
                "%.6f", F.col("n") / F.sum("n").over(totals)
            ),
        )
        .orderBy("from_type", "to_type")
    )


def q103_sql() -> str:
    return """
    WITH pairs AS (
      SELECT event_type AS from_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_type
      FROM events
    ), m AS (
      SELECT from_type, to_type, COUNT(*) AS n
      FROM pairs WHERE to_type IS NOT NULL
      GROUP BY from_type, to_type
    )
    SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
           printf('%.6f', CAST(n AS DOUBLE) /
                          SUM(n) OVER (PARTITION BY from_type)) AS probability
    FROM m ORDER BY from_type, to_type
    """


def q104_stream_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING near-dup probe under the hash gate
    (streaming.py::neardup_probe_stream): the corpus's MinHash band
    index is built once; the planted q95 batch (' tail' copies of
    doc_id<25 at +1e6) arrives as TWO parquet files consumed in
    micro-batches (maxFilesPerTrigger=1), each probing the static
    index via foreachBatch and appending hits exactly-once. The union
    of per-batch hits must equal the q95 batch answer — jaccard
    values and all (tempdir round-trip is the local-harness device,
    as in q52)."""
    import tempfile

    from swiftbeaver_spark.llm.dedup import minhash_band_index, minhash_signatures
    from swiftbeaver_spark.streaming import neardup_probe_stream

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # persist: every micro-batch references the index; without it each
    # foreachBatch job would re-run the corpus signature pass
    index = minhash_band_index(minhash_signatures(docs)).persist()
    mutated = docs.where(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail")).alias("text"),
    )
    tmp = tempfile.mkdtemp(prefix="sb_q104_")
    src, out, ckpt = f"{tmp}/src", f"{tmp}/out", f"{tmp}/ckpt"
    mutated.where(F.col("doc_id") % 2 == 0).coalesce(1).write.mode("overwrite").parquet(src)
    mutated.where(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = neardup_probe_stream(stream, index, docs, out, ckpt, threshold=0.5)
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("q104 streaming near-dup probe did not finish in 300s")
    index.unpersist()  # stream done; results live on disk
    hits = spark.read.parquet(out)
    return (
        hits.where(F.col("new_doc_id") - F.col("doc_id") == 1_000_000)
        .select(
            "new_doc_id",
            "doc_id",
            F.format_string("%.6f", F.col("jaccard")).alias("jaccard"),
        )
        .orderBy("new_doc_id")
    )


def q104_sql() -> str:
    return q95_sql()


def q105_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (llm/pipeline.py::
    chunk_documents): 128-char windows advancing 96 chars (32 overlap)
    over every document — the pre-embedding splitter. Fully
    SQL-replayable (ceil count, per-chunk offsets, substring), so the
    oracle checks every chunk's offset AND text."""
    from swiftbeaver_spark.llm.pipeline import chunk_documents

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_documents(docs, window_chars=128, overlap_chars=32).orderBy(
        "doc_id", "chunk_idx"
    )


def q105_sql() -> str:
    return """
    WITH n AS (
      SELECT doc_id, text,
             CAST(GREATEST(CEIL((length(text) - 32) / 96.0), 1) AS INT) AS n_chunks
      FROM documents
    )
    SELECT doc_id,
           CAST(i AS BIGINT) AS chunk_idx,
           CAST(i * 96 AS BIGINT) AS char_start,
           substr(text, i * 96 + 1, 128) AS chunk_text,
           CAST(length(substr(text, i * 96 + 1, 128)) AS BIGINT) AS n_chars
    FROM n, LATERAL unnest(generate_series(0, n_chunks - 1)) AS t(i)
    ORDER BY doc_id, chunk_idx
    """


def q106_gopher_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule quality flags (llm/text.py::gopher_quality_flags,
    Rae et al. 2021 thresholds): corpus docs plus planted failures —
    a 3-word doc at +1e6 (word-count rule) and a '###'-salted copy at
    +2e6 (symbol-ratio rule). Every rule is integer cross-multiplied,
    so the oracle replays each flag exactly — no float ratios."""
    from swiftbeaver_spark.llm.text import gopher_quality_flags

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 150).select(
        "doc_id", "text"
    )
    short = docs.where(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), F.lit("one two three").alias("text")
    )
    salted = docs.where(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.repeat(F.lit(" ###"), 20)).alias("text"),
    )
    out = gopher_quality_flags(docs.unionByName(short).unionByName(salted))
    return out.select(
        "doc_id",
        "g_n_words",
        "g_word_chars",
        "g_alpha_words",
        "g_symbols",
        "word_count_ok",
        "mean_word_len_ok",
        "alpha_frac_ok",
        "symbol_ratio_ok",
        "bullet_frac_ok",
        "passes_gopher",
    ).orderBy("doc_id")


def q106_sql() -> str:
    words = (
        "list_filter(string_split_regex(trim(t), '\\s+'), w -> length(w) > 0)"
    )
    return f"""
    WITH corpus AS (
      SELECT doc_id, text AS t FROM documents WHERE doc_id < 150
      UNION ALL
      SELECT doc_id + 1000000, 'one two three' FROM documents WHERE doc_id < 10
      UNION ALL
      SELECT doc_id + 2000000, text || repeat(' ###', 20)
      FROM documents WHERE doc_id < 10
    ), m AS (
      SELECT doc_id,
             CAST(len(w) AS BIGINT) AS g_n_words,
             CAST(COALESCE(list_sum(list_transform(w, x -> length(x))), 0) AS BIGINT)
               AS g_word_chars,
             CAST(len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT)
               AS g_alpha_words,
             CAST(len(regexp_extract_all(t, '#|\\.\\.\\.')) AS BIGINT) AS g_symbols,
             CAST(len(list_filter(string_split(t, chr(10)),
                                  ln -> regexp_matches(trim(ln), '^[-*•]'))) AS BIGINT)
               AS g_bullet_lines,
             CAST(len(string_split(t, chr(10))) AS BIGINT) AS g_n_lines
      FROM (SELECT doc_id, t, {words} AS w FROM corpus)
    )
    SELECT doc_id, g_n_words, g_word_chars, g_alpha_words, g_symbols,
           (g_n_words >= 50 AND g_n_words <= 100000) AS word_count_ok,
           (g_word_chars >= 3 * g_n_words AND g_word_chars <= 10 * g_n_words)
             AS mean_word_len_ok,
           (5 * g_alpha_words >= 4 * g_n_words) AS alpha_frac_ok,
           (10 * g_symbols <= g_n_words) AS symbol_ratio_ok,
           (10 * g_bullet_lines <= 9 * g_n_lines) AS bullet_frac_ok,
           ((g_n_words >= 50 AND g_n_words <= 100000)
            AND (g_word_chars >= 3 * g_n_words AND g_word_chars <= 10 * g_n_words)
            AND (5 * g_alpha_words >= 4 * g_n_words)
            AND (10 * g_symbols <= g_n_words)
            AND (10 * g_bullet_lines <= 9 * g_n_lines)) AS passes_gopher
    FROM m ORDER BY doc_id
    """


def q107_c4_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line cleaning (llm/text.py::c4_clean_lines, Raffel et
    al. 2020 heuristics): docs get synthesized 4-line structure — a
    terminal-punctuated sentence (kept), a raw substring with no
    terminal punctuation (dropped), a 2-word sentence (dropped:
    < 3 words), and a '!'-terminated substring (kept) — and every
    10th doc gains a '{' (whole-doc drop). The oracle rebuilds the
    same lines and replays keep/drop per line."""
    from swiftbeaver_spark.llm.text import c4_clean_lines

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    structured = F.concat_ws(
        "\n",
        F.concat(F.substring("text", 1, 30), F.lit(" sentence ends here.")),
        F.substring("text", 31, 25),
        F.lit("two words."),
        F.concat(F.substring("text", 56, 25), F.lit(" and it ends!")),
    )
    doc = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 10 == 0, F.concat(structured, F.lit("{")))
        .otherwise(structured)
        .alias("text"),
    )
    return c4_clean_lines(doc).orderBy("doc_id")


def q107_sql() -> str:
    keepable = (
        "ln -> regexp_matches(trim(ln), '[.!?\"]$') AND "
        "len(list_filter(string_split_regex(trim(ln), '\\s+'), w -> length(w) > 0)) >= 3"
    )
    return f"""
    WITH built AS (
      SELECT doc_id,
             substr(text, 1, 30) || ' sentence ends here.' || chr(10) ||
             substr(text, 31, 25) || chr(10) ||
             'two words.' || chr(10) ||
             substr(text, 56, 25) || ' and it ends!' ||
             (CASE WHEN doc_id % 10 = 0 THEN '{{' ELSE '' END) AS t
      FROM documents WHERE doc_id < 100
    ), split AS (
      SELECT doc_id, t, string_split(t, chr(10)) AS lines,
             list_filter(string_split(t, chr(10)), {keepable}) AS kept,
             (NOT contains(lower(t), 'lorem ipsum') AND NOT contains(t, '{{')) AS ok
      FROM built
    )
    SELECT doc_id,
           CASE WHEN ok THEN array_to_string(kept, chr(10)) ELSE '' END AS clean_text,
           CAST(CASE WHEN ok THEN len(kept) ELSE 0 END AS BIGINT) AS n_kept,
           CAST(CASE WHEN ok THEN len(lines) - len(kept) ELSE len(lines) END AS BIGINT)
             AS n_dropped
    FROM split ORDER BY doc_id
    """


HLL_P = 9


def q108_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct estimation (sketch.py::hll_registers/
    hll_estimate) over lineitem part keys — the APPROXIMATE estimate
    itself sits under the cross-engine hash gate (the q46/q49 sketch
    convention): md5-derived 60-bit hashes, exact binary-string-length
    rho, exact integer harmonic sum, ONE final rounded float division.
    Output includes the exact distinct count for the accuracy story
    (|est - exact| / exact is the published ~1.04/sqrt(2^p))."""
    from swiftbeaver_spark.sketch import hll_estimate, hll_registers

    lineitem = _t(spark, sf_dir, "lineitem")
    regs = hll_registers(lineitem, "l_partkey", p=HLL_P)
    est = hll_estimate(regs, p=HLL_P)
    exact = lineitem.agg(
        F.count_distinct("l_partkey").cast("long").alias("exact_distinct")
    )
    return est.crossJoin(exact).select(
        "n_zero_registers",
        "harmonic_scaled",
        F.format_string("%.3f", F.col("estimate")).alias("estimate"),
        "exact_distinct",
    )


def q108_sql() -> str:
    m = 1 << HLL_P
    alpha = 0.7213 / (1 + 1.079 / m)
    width = 60 - HLL_P
    rmax = width + 1
    s_total = f"s_filled + ({m} - n_filled) * (CAST(1 AS BIGINT) << {rmax})"
    return f"""
    WITH h AS (
      SELECT CAST('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15) AS BIGINT) AS h
      FROM lineitem
    ), regs AS (
      SELECT h % {m} AS bucket,
             MAX(CASE WHEN h // {m} > 0
                      THEN {width} - length(bin(h // {m})) + 1
                      ELSE {rmax} END) AS max_rho
      FROM h GROUP BY bucket
    ), agg AS (
      SELECT COUNT(*) AS n_filled,
             SUM(CAST(1 AS BIGINT) << ({rmax} - max_rho)) AS s_filled
      FROM regs
    )
    SELECT CAST({m} - n_filled AS BIGINT) AS n_zero_registers,
           CAST({s_total} AS BIGINT) AS harmonic_scaled,
           printf('%.3f', ROUND(CAST({alpha!r} AS DOUBLE) * {m} * {m}
                  * CAST(CAST(1 AS BIGINT) << {rmax} AS DOUBLE)
                  / CAST({s_total} AS DOUBLE), 3)) AS estimate,
           (SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) FROM lineitem)
             AS exact_distinct
    FROM agg
    """


def q109_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate removal (llm/pipeline.py::
    boilerplate_line_removal): every doc gets a unique line, a global
    cookie banner, and a per-group footer shared by ~20 docs; at
    min_doc_freq=3 both shared lines must vanish from EVERY doc and
    the unique line must survive — closed-form for the oracle. The
    doc-frequency count is a partial aggregate over distinct
    (line, doc), never a window (the q43 skew lesson applied to
    whole-line boilerplate)."""
    from swiftbeaver_spark.llm.pipeline import boilerplate_line_removal

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    built = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.format_string("u%d:", F.col("doc_id")),
            F.lit("accept cookies to continue"),
            F.format_string("footer group %d", F.col("doc_id") % 5),
        ).alias("text"),
    )
    return boilerplate_line_removal(built, min_doc_freq=3).orderBy("doc_id")


def q109_sql() -> str:
    return """
    SELECT doc_id,
           printf('u%d:', doc_id) AS clean_text,
           CAST(1 AS BIGINT) AS n_kept_lines,
           CAST(2 AS BIGINT) AS n_boilerplate_lines
    FROM documents WHERE doc_id < 100
    ORDER BY doc_id
    """


def q110_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the third member of the multi-level
    aggregation family (q74 ROLLUP, q98 CUBE): per-region totals,
    per-priority totals, and the grand total in ONE fact pass, WITHOUT
    the 8-set expansion CUBE would pay for the same three answers
    (grouping-set expansion is map-side; sets you don't ask for cost
    nothing). Integer cents, grouping_id disambiguation."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    joined = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            orders.o_custkey == customer.c_custkey,
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(region.select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .withColumn("cents", F.round(F.col("o_totalprice") * 100).cast("long"))
    )
    joined.createOrReplaceTempView("_sb_q110")
    return spark.sql(
        """
        SELECT COALESCE(r_name, '(all)') AS region,
               COALESCE(o_orderpriority, '(all)') AS priority,
               CAST(grouping_id() AS INT) AS gid,
               CAST(COUNT(*) AS LONG) AS n_orders,
               CAST(SUM(cents) AS LONG) AS revenue_cents
        FROM _sb_q110
        GROUP BY GROUPING SETS ((r_name), (o_orderpriority), ())
        ORDER BY gid, region, priority
        """
    )


def q110_sql() -> str:
    return """
    SELECT COALESCE(r_name, '(all)') AS region,
           COALESCE(o_orderpriority, '(all)') AS priority,
           CAST(GROUPING(r_name, o_orderpriority) AS INT) AS gid,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY GROUPING SETS ((r_name), (o_orderpriority), ())
    ORDER BY gid, region, priority
    """


def q111_moving_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE moving aggregate: per event, the count and
    integer-micro sum of the same user's events in the preceding hour
    (rangeBetween over epoch seconds — a true range frame, not a row
    frame). Partitioned by user (bounded history, no global sort);
    micro-unit sums are order-exact cross-engine."""
    events = _t(spark, sf_dir, "events").where(F.col("event_id") < 2000)
    epoch = F.unix_timestamp("ts")
    micro = F.round(F.col("value") * 1e6).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("epoch"))
        .rangeBetween(-3600, 0)
    )
    return (
        events.select("event_id", "user_id", epoch.alias("epoch"), micro.alias("micro"))
        .select(
            "event_id",
            "user_id",
            F.count("*").over(w).cast("long").alias("n_last_hour"),
            F.sum("micro").over(w).cast("long").alias("micro_last_hour"),
        )
        .orderBy("event_id")
    )


def q111_sql() -> str:
    return """
    SELECT event_id, user_id,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_last_hour,
           CAST(SUM(micro) OVER w AS BIGINT) AS micro_last_hour
    FROM (
      SELECT event_id, user_id,
             CAST(epoch(ts) AS BIGINT) AS ep,
             CAST(ROUND(value * 1e6) AS BIGINT) AS micro
      FROM events WHERE event_id < 2000
    )
    WINDOW w AS (PARTITION BY user_id ORDER BY ep
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    ORDER BY event_id
    """


def q112_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC snapshot diff (relational.py::snapshot_diff): the new
    snapshot deletes orderkeys ending in 7, bumps totalprice on keys
    ending in 3, and inserts fresh keys at +10^7 — the diff must
    report exactly those as deleted/updated/inserted and NOTHING for
    untouched keys. Rows reduce to (key, digest) before the full
    outer join, so the shuffle never carries payload columns."""
    from swiftbeaver_spark.relational import snapshot_diff

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus", "o_orderpriority"
    )
    new = (
        orders.where(F.col("o_orderkey") % 10 != 7)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 10 == 3, F.col("o_totalprice") + 1.0
            ).otherwise(F.col("o_totalprice")),
        )
        .unionByName(
            orders.where(F.col("o_orderkey") < 50).select(
                (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
                "o_totalprice",
                "o_orderstatus",
                "o_orderpriority",
            )
        )
    )
    return snapshot_diff(orders, new, ["o_orderkey"]).orderBy("o_orderkey")


def q112_sql() -> str:
    return """
    SELECT o_orderkey, 'deleted' AS change_type
    FROM orders WHERE o_orderkey % 10 = 7
    UNION ALL
    SELECT o_orderkey, 'updated'
    FROM orders WHERE o_orderkey % 10 = 3
    UNION ALL
    SELECT o_orderkey + 10000000, 'inserted'
    FROM orders WHERE o_orderkey < 50
    ORDER BY o_orderkey
    """


def q113_fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphan counts per foreign-key
    relationship via left-anti joins — lineitem→orders with every
    10th order removed from the parent side (planted orphans),
    orders→customer and customer→nation intact (expected 0). The
    anti-join shuffles only the key column; AQE broadcasts parent
    key-sets that fit."""
    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    holey_orders = orders.where(F.col("o_orderkey") % 10 != 0)
    checks = [
        (
            "lineitem.l_orderkey -> orders(minus 10th)",
            lineitem.join(
                holey_orders.select("o_orderkey"),
                lineitem.l_orderkey == F.col("o_orderkey"),
                "left_anti",
            ),
        ),
        (
            "orders.o_custkey -> customer",
            orders.join(
                customer.select("c_custkey"),
                orders.o_custkey == F.col("c_custkey"),
                "left_anti",
            ),
        ),
        (
            "customer.c_nationkey -> nation",
            customer.join(
                nation.select("n_nationkey"),
                customer.c_nationkey == F.col("n_nationkey"),
                "left_anti",
            ),
        ),
    ]
    out = None
    for name, orphans in checks:
        row = orphans.agg(F.count("*").cast("long").alias("n_orphans")).select(
            F.lit(name).alias("relationship"), "n_orphans"
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("relationship")


def q113_sql() -> str:
    return """
    SELECT * FROM (
      SELECT 'lineitem.l_orderkey -> orders(minus 10th)' AS relationship,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
              WHERE l_orderkey NOT IN
                (SELECT o_orderkey FROM orders WHERE o_orderkey % 10 <> 0))
               AS n_orphans
      UNION ALL
      SELECT 'orders.o_custkey -> customer',
             (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
              WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
      UNION ALL
      SELECT 'customer.c_nationkey -> nation',
             (SELECT CAST(COUNT(*) AS BIGINT) FROM customer
              WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation))
    ) ORDER BY relationship
    """


def q114_tfrecord_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TFRecord shard round-trip (llm/tfrecord.py): documents pack
    into 4 shards (spec framing: little-endian length + masked
    crc32c of length and payload — crc32c itself pinned in pytest to
    the RFC 3720 check value), the reader walks the streams
    re-verifying every CRC, and the oracle recomputes each record's
    (shard, idx, size, md5) directly from the table — so record
    order, sizes, payload digests AND crc verdicts are all gated."""
    from swiftbeaver_spark.llm.tfrecord import tfrecord_members, tfrecord_shards

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    members = docs.select(
        F.concat(F.lit("shard-"), (F.col("doc_id") % 4).cast("string")).alias("shard"),
        F.format_string("%08d", F.col("doc_id")).alias("name"),
        F.encode("text", "utf-8").alias("payload"),
    )
    shards = tfrecord_shards(members)
    out = tfrecord_members(shards.selectExpr("path", "content"))
    return out.select(
        "shard",
        "record_idx",
        "size",
        F.md5("payload").alias("payload_md5"),
        "crc_ok",
    ).orderBy("shard", "record_idx")


def q114_sql() -> str:
    return """
    SELECT 'shard-' || CAST(doc_id % 4 AS VARCHAR) AS shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY doc_id % 4
                                   ORDER BY printf('%08d', doc_id)) - 1 AS BIGINT)
             AS record_idx,
           CAST(length(text) AS BIGINT) AS size,
           md5(text) AS payload_md5,
           TRUE AS crc_ok
    FROM documents WHERE doc_id < 200
    ORDER BY shard, record_idx
    """


def q115_grouped_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group discrete median (percentile_disc semantics: the
    value at rank ceil(n/2) under (value, orderkey) ordering — an
    actual row's value, integer-exact, no interpolation float canon).

    r15: runs as `grouped_weighted_median` with unit weights — with
    weight 1 per row the cumulative weight IS the row_number rank under
    the same (cents, o_orderkey) order, and the cross-mult pick
    (first row with 2*cum >= total) is exactly rank ceil(n/2), so the
    result row is identical to the old two-window formulation. What
    changes is the PLAN: the old shape funneled each market segment
    through ONE sort partition (5 segments = 5 sort tasks at any scale,
    the q132 hot-partition pathology); the two-level block prefix sum
    (block_width on the cents axis) sorts only within (segment,
    cents-block) and rolls per-block offsets through a window over the
    tiny block summary. Same fix, same operator, as q132 (r14)."""
    from swiftbeaver_spark.relational import grouped_weighted_median

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    joined = orders.join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        orders.o_custkey == customer.c_custkey,
    ).select(
        "c_mktsegment",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "o_orderkey",
    )
    med = grouped_weighted_median(
        joined.withColumn("_one", F.lit(1)),
        group_col="c_mktsegment",
        value_col="cents",
        weight_col="_one",
        # o_totalprice spans ~[90k, 6e7] cents -> ~600 blocks/segment at
        # 100k-cent width; 5 segments x 600 blocks stays broadcast-tiny
        block_width=100_000,
        tiebreak_cols=["o_orderkey"],
    )
    return med.select(
        "c_mktsegment",
        F.col("weighted_median").alias("median_cents"),
        F.col("total_weight").alias("n_orders"),
    ).orderBy("c_mktsegment")


def q115_sql() -> str:
    return """
    SELECT c_mktsegment, CAST(cents AS BIGINT) AS median_cents,
           CAST(n AS BIGINT) AS n_orders
    FROM (
      SELECT c_mktsegment, cents,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY cents, o_orderkey) AS rn,
             COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
      FROM (
        SELECT c_mktsegment,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
               o_orderkey
        FROM orders JOIN customer ON o_custkey = c_custkey
      )
    )
    WHERE rn = CAST(CEIL(n / 2.0) AS BIGINT)
    ORDER BY c_mktsegment
    """


def q116_grouped_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group mode with a deterministic tie-break (highest
    count, then lexicographically smallest value): the most frequent
    order priority per market segment. Two partial-agg levels — count
    per (group, value), then argmax via MAX(struct(count, inverted
    tiebreak)) — NO window: the candidate set per group is |distinct
    values|, so a map-side combine bounds the shuffle regardless of
    row count (the q43 skew principle applied to mode)."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    joined = orders.join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        orders.o_custkey == customer.c_custkey,
    )
    counts = joined.groupBy("c_mktsegment", "o_orderpriority").agg(
        F.count("*").cast("long").alias("cnt")
    )
    # argmax by (cnt, -lex(value)): invert the value ordering by
    # negating each byte is fragile — instead keep MIN over a struct
    # sorted by (-cnt, value)
    return (
        counts.groupBy("c_mktsegment")
        .agg(
            F.min(F.struct((-F.col("cnt")).alias("neg"), F.col("o_orderpriority"))).alias(
                "m"
            )
        )
        .select(
            "c_mktsegment",
            F.col("m.o_orderpriority").alias("mode_priority"),
            (-F.col("m.neg")).cast("long").alias("mode_count"),
        )
        .orderBy("c_mktsegment")
    )


def q116_sql() -> str:
    return """
    WITH counts AS (
      SELECT c_mktsegment, o_orderpriority, COUNT(*) AS cnt
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment, o_orderpriority
    ), ranked AS (
      SELECT c_mktsegment, o_orderpriority, cnt,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY cnt DESC, o_orderpriority) AS rn
      FROM counts
    )
    SELECT c_mktsegment, o_orderpriority AS mode_priority,
           CAST(cnt AS BIGINT) AS mode_count
    FROM ranked WHERE rn = 1
    ORDER BY c_mktsegment
    """


def q117_contamination_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded benchmark contamination (llm/pipeline.py::
    contamination_scores — the GPT-3/PaLM-style n-gram overlap
    FRACTION, beyond q42's boolean): bench = docs<20; train = clean
    docs 20-199 plus ' contaminated copy'-suffixed bench copies at
    +2e6, which must score near 10000 bp while clean docs score
    whatever their genuine overlap is — the oracle recomputes every
    ratio exactly (integer basis points)."""
    from swiftbeaver_spark.llm.pipeline import contamination_scores

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.where(F.col("doc_id") < 20)
    train = (
        docs.where((F.col("doc_id") >= 20) & (F.col("doc_id") < 200))
        .unionByName(
            bench.select(
                (F.col("doc_id") + 2_000_000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" contaminated copy")).alias("text"),
            )
        )
    )
    return contamination_scores(train, bench, ngram_n=DECON_N).orderBy("doc_id")


def q117_sql() -> str:
    n = DECON_N
    grams = (
        f"list_distinct([array_to_string(toks[i:i+{n - 1}], ' ') "
        f"for i in generate_series(1, greatest(len(toks) - {n - 1}, 1))])"
    )
    toks = "string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')"
    return f"""
    WITH base AS (
      SELECT doc_id, text FROM documents
    ), train AS (
      SELECT doc_id, text FROM base WHERE doc_id >= 20 AND doc_id < 200
      UNION ALL
      SELECT doc_id + 2000000, text || ' contaminated copy'
      FROM base WHERE doc_id < 20
    ), eg AS (
      SELECT DISTINCT unnest({grams}) AS ng
      FROM (SELECT {toks} AS toks FROM base WHERE doc_id < 20)
    ), tg AS (
      SELECT doc_id, unnest({grams}) AS ng
      FROM (SELECT doc_id, {toks} AS toks FROM train)
    ), m AS (
      SELECT doc_id,
             COUNT(DISTINCT ng) AS n_ngrams,
             COUNT(DISTINCT CASE WHEN ng IN (SELECT ng FROM eg) THEN ng END)
               AS n_contaminated
      FROM tg GROUP BY doc_id
    )
    SELECT doc_id, CAST(n_ngrams AS BIGINT) AS n_ngrams,
           CAST(n_contaminated AS BIGINT) AS n_contaminated,
           CAST(FLOOR(10000 * n_contaminated / GREATEST(n_ngrams, 1)) AS BIGINT)
             AS contamination_bp
    FROM m ORDER BY doc_id
    """


def q118_curation_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAPSTONE v2 — the round-4 ops composed as real pipeline stages,
    one SQL oracle replaying the WHOLE chain: Gopher rule filter
    (q106, integer cross-mult) -> graded contamination filter vs the
    doc<20 bench (q117, keep < 2500 bp) -> winnowing-fingerprint
    dedup (q94, lowest id per fingerprint) -> sliding-window chunking
    (q105). Output is each surviving chunk's (doc_id, chunk_idx,
    char_start, n_chars, md5) — filters, dedup canon AND chunk
    geometry all hash-gated end-to-end."""
    from swiftbeaver_spark.llm.pipeline import chunk_documents, contamination_scores
    from swiftbeaver_spark.llm.text import fingerprint_pinned, gopher_quality_flags

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.where(F.col("doc_id") < 20)
    # widen the gopher/contamination/fingerprint chain off the scan's
    # single split (compute-dense per-row work, integer counts only)
    train = spread(docs.where((F.col("doc_id") >= 20) & (F.col("doc_id") < 300)))
    passed = (
        gopher_quality_flags(train)
        .where(F.col("passes_gopher"))
        .select("doc_id", "text")
    )
    # contamination_scores (r15 default): one evaluation of the
    # gopher->explode subtree and ZERO gram-scale shuffles — the only
    # exchange carries per-doc counters (r14 single-pass was -22% at
    # compute-dominated size; r15 additionally drops its (doc, gram)
    # dedup exchange, sound because word_ngrams is distinct per doc)
    clean_ids = (
        contamination_scores(passed, bench, ngram_n=DECON_N)
        .where(F.col("contamination_bp") < 2500)
        .select("doc_id")
    )
    # join back against `train`, not `passed`: clean_ids ⊆ passed by
    # construction and doc_id is unique, so the rows are identical —
    # but the gopher array machinery is not re-evaluated a third time
    # just to recover (doc_id, text) (r14)
    clean = train.join(clean_ids, "doc_id")
    fp = clean.select("doc_id", "text", fingerprint_pinned(F.col("text")).alias("fp"))
    # window-min dedup: ONE pass over fp (the old groupBy + join-back
    # referenced fp twice, re-evaluating the whole gopher->
    # contamination->fingerprint chain per consumer — r14); same
    # keep-set (doc with the min doc_id per fingerprint), one shuffle
    # on the 16-byte fp key
    w_fp = Window.partitionBy("fp")
    kept = (
        fp.withColumn("_keep", F.min("doc_id").over(w_fp))
        .where(F.col("doc_id") == F.col("_keep"))
        .select("doc_id", "text")
    )
    chunks = chunk_documents(kept, window_chars=128, overlap_chars=32)
    return chunks.select(
        "doc_id",
        "chunk_idx",
        "char_start",
        "n_chars",
        F.md5("chunk_text").alias("chunk_md5"),
    ).orderBy("doc_id", "chunk_idx")


def q118_sql() -> str:
    n = DECON_N
    grams = (
        f"list_distinct([array_to_string(toks[i:i+{n - 1}], ' ') "
        f"for i in generate_series(1, greatest(len(toks) - {n - 1}, 1))])"
    )
    toks = "string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')"
    fp = (
        "md5(array_to_string(list_slice(list_sort("
        "list_transform(list_distinct(list_transform("
        "generate_series(1, greatest(length(norm) - 15, 1)), "
        "i -> substr(norm, i, 16))), s -> md5(s))), 1, 8), ','))"
    )
    return f"""
    WITH train AS (
      SELECT doc_id, text FROM documents WHERE doc_id >= 20 AND doc_id < 300
    ), gw AS (
      SELECT doc_id, text,
             list_filter(string_split_regex(trim(text), '\\s+'),
                         w -> length(w) > 0) AS wl
      FROM train
    ), g AS (
      SELECT doc_id, text FROM (
        SELECT doc_id, text,
               len(wl) AS nw,
               COALESCE(list_sum(list_transform(wl, x -> length(x))), 0) AS wc,
               len(list_filter(wl, x -> regexp_matches(x, '[a-zA-Z]'))) AS aw,
               len(regexp_extract_all(text, '#|\\.\\.\\.')) AS sym,
               len(list_filter(string_split(text, chr(10)),
                               ln -> regexp_matches(trim(ln), '^[-*•]'))) AS bl,
               len(string_split(text, chr(10))) AS nl
        FROM gw
      )
      WHERE nw >= 50 AND nw <= 100000
        AND wc >= 3 * nw AND wc <= 10 * nw
        AND 5 * aw >= 4 * nw AND 10 * sym <= nw AND 10 * bl <= 9 * nl
    ), eg AS (
      SELECT DISTINCT unnest({grams}) AS ng
      FROM (SELECT {toks} AS toks FROM documents WHERE doc_id < 20)
    ), tg AS (
      SELECT doc_id, unnest({grams}) AS ng
      FROM (SELECT doc_id, {toks} AS toks FROM g)
    ), scores AS (
      SELECT doc_id, COUNT(DISTINCT ng) AS nn,
             COUNT(DISTINCT CASE WHEN ng IN (SELECT ng FROM eg) THEN ng END) AS nc
      FROM tg GROUP BY doc_id
    ), clean AS (
      SELECT g.doc_id, g.text FROM g JOIN scores USING (doc_id)
      WHERE FLOOR(10000 * nc / GREATEST(nn, 1)) < 2500
    ), fps AS (
      SELECT doc_id, text, {fp} AS fp FROM (
        SELECT doc_id, text,
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
        FROM clean
      )
    ), canon AS (
      SELECT fp, MIN(doc_id) AS doc_id FROM fps GROUP BY fp
    ), kept AS (
      SELECT f.doc_id, f.text FROM fps f JOIN canon c ON f.doc_id = c.doc_id
    ), nchunks AS (
      SELECT doc_id, text,
             CAST(GREATEST(CEIL((length(text) - 32) / 96.0), 1) AS INT) AS n_chunks
      FROM kept
    )
    SELECT doc_id,
           CAST(i AS BIGINT) AS chunk_idx,
           CAST(i * 96 AS BIGINT) AS char_start,
           CAST(length(substr(text, i * 96 + 1, 128)) AS BIGINT) AS n_chars,
           md5(substr(text, i * 96 + 1, 128)) AS chunk_md5
    FROM nchunks, LATERAL unnest(generate_series(0, n_chunks - 1)) AS t(i)
    ORDER BY doc_id, chunk_idx
    """


def q119_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (llm/pipeline.py::
    train_val_test_split, the q39 md5-gate convention): per-split doc
    counts plus an order-insensitive id checksum (SUM of doc_ids —
    exact integers), so the oracle verifies EVERY doc's assignment,
    not just the counts. A doc's split is a pure function of its id —
    stable under corpus growth and any partitioning."""
    from swiftbeaver_spark.llm.pipeline import train_val_test_split

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return (
        train_val_test_split(docs, val_pct=10, test_pct=10)
        .groupBy("split")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("doc_id").cast("long").alias("id_sum"),
        )
        .orderBy("split")
    )


def q119_sql() -> str:
    val_hi = 65536 * 10 // 100
    test_hi = val_hi + 65536 * 10 // 100
    return f"""
    SELECT split, COUNT(*) AS n_docs, CAST(SUM(doc_id) AS BIGINT) AS id_sum
    FROM (
      SELECT doc_id,
             CASE WHEN b < {val_hi} THEN 'val'
                  WHEN b < {test_hi} THEN 'test'
                  ELSE 'train' END AS split
      FROM (
        SELECT doc_id,
               CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4)
                    AS BIGINT) AS b
        FROM documents
      )
    )
    GROUP BY split ORDER BY split
    """


def q120_ivfpq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVF-PQ (llm/similarity.py, residual=True) — the full
    FAISS IndexIVFPQ refinement on top of q88: codes quantize
    (v - centroid[cell]) instead of the raw vector, and each query
    builds one ADC LUT per PROBED CELL from its own residual. Same
    pinned centroids/codebooks and rounding rules as q88; the oracle
    replays cell assignment, residual sub-encoding, per-cell query
    LUTs, and the ADC ranking. Pytest additionally pins the whole
    path against an independent pure-Python replay."""
    from swiftbeaver_spark.llm.similarity import ivfpq_encode, ivfpq_topk

    cents = _ivfpq_cents()
    books = _pq_books()
    emb = _t(spark, sf_dir, "embeddings")
    codes = ivfpq_encode(emb, cents, books, round_dp=6, residual=True)
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = ivfpq_topk(
        codes, queries, cents, books,
        k=IVFPQ_TOPK, nprobe=IVFPQ_NPROBE, round_scores=6, residual=True,
    )
    return out.select(
        "query_id",
        "vec_id",
        F.format_string("%.6f", F.col("adc_dist")).alias("adc_dist"),
        "rank",
    ).orderBy("query_id", "rank")


def q120_sql() -> str:
    cents = _ivfpq_cents()
    books = _pq_books()
    dsub = 64 // PQ_M
    crows = ",\n        ".join(
        f"({p}, [{', '.join(str(x) for x in c)}]::DOUBLE[])" for p, c in enumerate(cents)
    )
    brows = ",\n        ".join(
        f"({j}, {p}, [{', '.join(str(x) for x in c)}]::DOUBLE[])"
        for j, book in enumerate(books)
        for p, c in enumerate(book)
    )
    return f"""
    WITH cents(p, c) AS (
      VALUES {crows}
    ), books(j, p, c) AS (
      VALUES {brows}
    ), js AS (
      SELECT unnest(generate_series(0, {PQ_M - 1})) AS j
    ), e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), assigned AS (
      SELECT vec_id, cell FROM (
        SELECT e.vec_id, cents.p AS cell,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY ROUND(list_dot_product(e.v, cents.c), 6) DESC,
                                           cents.p) AS rn
        FROM e CROSS JOIN cents
      ) WHERE rn = 1
    ), resid AS (
      SELECT e.vec_id, a.cell,
             [e.v[i] - cents.c[i] for i in generate_series(1, 64)] AS r
      FROM e JOIN assigned a USING (vec_id) JOIN cents ON cents.p = a.cell
    ), subs AS (
      SELECT vec_id, j,
             list_slice(r, j * {dsub} + 1, (j + 1) * {dsub}) AS sub
      FROM resid CROSS JOIN js
    ), enc AS (
      SELECT vec_id, j, p AS code FROM (
        SELECT s.vec_id, s.j, b.p,
               ROW_NUMBER() OVER (
                 PARTITION BY s.vec_id, s.j
                 ORDER BY ROUND(list_dot_product(s.sub, s.sub)
                                - 2 * list_dot_product(s.sub, b.c)
                                + list_dot_product(b.c, b.c), 6), b.p
               ) AS rn
        FROM subs s JOIN books b ON s.j = b.j
      ) WHERE rn = 1
    ), probe AS (
      SELECT query_id, cell FROM (
        SELECT e.vec_id AS query_id, cents.p AS cell,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY ROUND(list_dot_product(e.v, cents.c), 6) DESC,
                                           cents.p) AS rn
        FROM e CROSS JOIN cents WHERE e.vec_id < 3
      ) WHERE rn <= {IVFPQ_NPROBE}
    ), qres AS (
      SELECT pr.query_id, pr.cell,
             [e.v[i] - cents.c[i] for i in generate_series(1, 64)] AS r
      FROM probe pr JOIN e ON e.vec_id = pr.query_id
      JOIN cents ON cents.p = pr.cell
    ), lut AS (
      SELECT q.query_id, q.cell, js.j, b.p,
             list_dot_product(s.sub, s.sub)
               - 2 * list_dot_product(s.sub, b.c)
               + list_dot_product(b.c, b.c) AS d
      FROM qres q CROSS JOIN js
      CROSS JOIN LATERAL (
        SELECT list_slice(q.r, js.j * {dsub} + 1, (js.j + 1) * {dsub}) AS sub
      ) s
      JOIN books b ON b.j = js.j
    ), cand AS (
      SELECT pr.query_id, a.vec_id, a.cell
      FROM assigned a JOIN probe pr ON a.cell = pr.cell
    ), adc AS (
      SELECT ca.query_id, ca.vec_id, ROUND(SUM(l.d), 6) AS adc_dist
      FROM cand ca
      JOIN enc en ON en.vec_id = ca.vec_id
      JOIN lut l ON l.query_id = ca.query_id AND l.cell = ca.cell
                AND en.j = l.j AND en.code = l.p
      GROUP BY ca.query_id, ca.vec_id
    )
    SELECT query_id, vec_id,
           printf('%.6f', adc_dist) AS adc_dist,
           CAST(rank AS INT) AS rank
    FROM (
      SELECT query_id, vec_id, adc_dist,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY adc_dist, vec_id) AS rank
      FROM adc
    )
    WHERE rank <= {IVFPQ_TOPK}
    ORDER BY query_id, rank
    """


def q121_filtered_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search — top-k restricted to a metadata
    predicate (label match), the retrieval shape every production
    vector store serves ("nearest docs WHERE lang='en'"). Expressed
    declaratively: the label filter composes BEFORE the scoring join,
    so Catalyst pushes it into the parquet scan (plan-tested) and the
    broadcast probe scores only surviving vectors — approximate
    indexes never see filtered-out vectors (no post-filter recall
    loss, the classic filtered-ANN pitfall). Exact cosine ranking
    with the q23 round-before-rank convention."""
    from swiftbeaver_spark.llm.similarity import cosine_similarity

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("query_vec"),
    )
    filtered = emb.where(F.col("label") == 2).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    scored = filtered.join(F.broadcast(queries)).select(
        "query_id",
        "vec_id",
        F.round(cosine_similarity(F.col("vec"), F.col("query_vec")), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 5)
        .select(
            "query_id",
            "vec_id",
            F.format_string("%.6f", F.col("cosine")).alias("cosine"),
            "rank",
        )
        .orderBy("query_id", "rank")
    )


def q121_sql() -> str:
    return """
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 3
    ), c AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE label = 2
    )
    SELECT query_id, vec_id, printf('%.6f', cosine) AS cosine, rank FROM (
      SELECT query_id, vec_id, cosine,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, vec_id) AS INT) AS rank
      FROM (
        SELECT q.query_id, c.vec_id,
               ROUND(list_dot_product(c.v, q.qv) /
                     (sqrt(list_dot_product(c.v, c.v)) *
                      sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine
        FROM c CROSS JOIN q
      )
    )
    WHERE rank <= 5
    ORDER BY query_id, rank
    """


SEMDEDUP_NLIST = 16  # cells; pair work ~ n^2/nlist per-cell-uniform


def q122_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (llm/similarity.py::semantic_dedup, Abbas et al. 2023):
    cluster the embedding space (pinned md5 ±1 centroids, the q34
    convention), pairwise rounded cosine INSIDE cells only, and per dup
    pair drop the member closest to its centroid (the paper's
    keep-the-edge-points policy; (centroid_cos, vec_id) total order).
    Planted copies at vec_id+1e6 are 3x scalings — same cell (argmax
    dot is scale-covariant), pair cosine exactly 1.0, and centroid_cos
    EQUAL, so the id tiebreak deterministically drops the copy. Output
    is keep/drop for the WHOLE corpus, hash-gated."""
    from swiftbeaver_spark.llm.similarity import md5_centroids, semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    planted = emb.where(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x * F.lit(3.0)).alias("embedding"),
    )
    # NOT widened (r14 A/B): shuffling 512-byte embedding rows costs
    # more than the arrow matmul assignment saves at this density —
    # interleaved minima 1.44 s natural vs 1.79 s widened
    corpus = emb.select("vec_id", "embedding").unionByName(planted)
    cents = md5_centroids(SEMDEDUP_NLIST, 64, tag="semdedup")
    return semantic_dedup(corpus, cents, threshold=0.95).orderBy("vec_id")


def q122_sql() -> str:
    from swiftbeaver_spark.llm.similarity import md5_centroids

    cents = md5_centroids(SEMDEDUP_NLIST, 64, tag="semdedup")
    rows = ",\n        ".join(
        f"({p}, [{', '.join(str(x) for x in c)}]::DOUBLE[])" for p, c in enumerate(cents)
    )
    return f"""
    WITH cents(p, c) AS (
      VALUES {rows}
    ), corpus AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000,
             list_transform(CAST(embedding AS DOUBLE[]), x -> x * 3.0)
      FROM embeddings WHERE vec_id < 10
    ), assigned AS (
      SELECT vec_id, v, cell, ROUND(d / (sqrt(list_dot_product(v, v)) * nc), 6)
               AS centroid_cos
      FROM (
        SELECT corpus.vec_id, corpus.v, cents.p AS cell,
               list_dot_product(corpus.v, cents.c) AS d,
               sqrt(list_dot_product(cents.c, cents.c)) AS nc,
               ROW_NUMBER() OVER (PARTITION BY corpus.vec_id
                                  ORDER BY ROUND(list_dot_product(corpus.v, cents.c), 6)
                                             DESC, cents.p) AS rn
        FROM corpus CROSS JOIN cents
      ) WHERE rn = 1
    ), pairs AS (
      SELECT l.vec_id AS a, l.centroid_cos AS a_cc,
             r.vec_id AS b, r.centroid_cos AS b_cc
      FROM assigned l JOIN assigned r
        ON l.cell = r.cell AND l.vec_id < r.vec_id
      WHERE ROUND(list_dot_product(l.v, r.v) /
                  (sqrt(list_dot_product(l.v, l.v)) *
                   sqrt(list_dot_product(r.v, r.v))), 6) >= 0.95
    ), dropped AS (
      SELECT DISTINCT CASE WHEN a_cc > b_cc OR (a_cc = b_cc AND a > b)
                           THEN a ELSE b END AS vec_id
      FROM pairs
    )
    SELECT s.vec_id, s.cell, printf('%.6f', s.centroid_cos) AS centroid_cos,
           (d.vec_id IS NOT NULL) AS dropped
    FROM assigned s LEFT JOIN dropped d ON s.vec_id = d.vec_id
    ORDER BY s.vec_id
    """


def q123_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join with prefix filtering
    (llm/dedup.py::prefix_filter_near_dups — the AllPairs/PPJoin
    blocking, Bayardo 2007 / Xiao 2008): word-set Jaccard >= 0.7 pairs
    without an all-pairs stage — candidates only from an equi-join on
    each doc's RAREST p = n - ceil(0.7n) + 1 tokens (global df order).
    The exact member of the near-dup family (q26/q27/q71/q93 are
    approximate blockings). Planted ' zqz zrz' copies of doc_id<25 at
    +1e6 differ by exactly 2 tokens (Jaccard = n/(n+2)). All-integer
    arithmetic; the oracle replays df table, prefix cut, candidate
    join and cross-multiplied verify."""
    from swiftbeaver_spark.llm.dedup import prefix_filter_near_dups

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 150).select("doc_id", "text")
    planted = docs.where(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zqz zrz")).alias("text"),
    )
    corpus = docs.unionByName(planted)
    return prefix_filter_near_dups(corpus, threshold_num=7, threshold_den=10).orderBy(
        "doc_a", "doc_b"
    )


def q123_sql() -> str:
    return """
    WITH corpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 150
      UNION ALL
      SELECT doc_id + 1000000, text || ' zqz zrz'
      FROM documents WHERE doc_id < 25
    ), tok AS (
      SELECT doc_id AS id, unnest(list_distinct(string_split(
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))) AS token
      FROM corpus
    ), tok2 AS (
      SELECT id, token FROM tok WHERE token <> ''
    ), dfreq AS (
      SELECT token, COUNT(*) AS df FROM tok2 GROUP BY token
    ), arr AS (
      SELECT id,
             list_transform(list_sort(list({'df': df, 'token': token})),
                            s -> s.token) AS tokens,
             COUNT(*) AS n
      FROM tok2 JOIN dfreq USING (token) GROUP BY id
    ), pref AS (
      SELECT id, unnest(tokens[1:(n - ((7*n + 9) // 10) + 1)]) AS token
      FROM arr
    ), cand AS (
      SELECT DISTINCT l.id AS a, r.id AS b
      FROM pref l JOIN pref r ON l.token = r.token AND l.id < r.id
    ), pairs AS (
      SELECT a, b,
             len(list_intersect(la.tokens, lb.tokens)) AS inter,
             la.n AS na, lb.n AS nb
      FROM cand
      JOIN arr la ON cand.a = la.id
      JOIN arr lb ON cand.b = lb.id
    )
    SELECT a AS doc_a, b AS doc_b,
           CAST(inter AS INT) AS inter,
           CAST(na AS INT) AS na, CAST(nb AS INT) AS nb,
           CAST(FLOOR(10000 * inter / (na + nb - inter)) AS BIGINT) AS jaccard_bp
    FROM pairs
    WHERE 17 * inter >= 7 * (na + nb)
    ORDER BY doc_a, doc_b
    """


def q124_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML visible-text extraction (llm/text.py::html_extract_text) —
    the crawl-curation stage before any quality/dedup op. Each doc is
    wrapped into a full HTML page IN SQL (the q30 build-bytes trick):
    title, style block, comment, script body containing a raw '<', and
    a tail paragraph exercising &lt; &#39; &nbsp; and the
    &amp;-decoded-last rule. The oracle replays the identical
    regex/entity chain, so extraction is byte-gated, including the
    script/style drops and entity decode order."""
    from swiftbeaver_spark.llm.text import html_extract_text

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    html = F.concat(
        F.lit("<html><head><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit("</title><style>p { color: red; }</style></head><body>"),
        F.lit("<!-- hidden comment --><h1>Title &amp;lt; more</h1><p>"),
        F.col("text"),
        F.lit('</p><script type="text/javascript">var x = 1 < 2;</script>'),
        F.lit("<p>Tail &lt;b&gt; &#39;q&#39;&nbsp;end</p></body></html>"),
    )
    out = docs.select(
        "doc_id", html_extract_text(html).alias("extracted")
    ).withColumn("n_chars", F.length("extracted").cast("int"))
    return out.orderBy("doc_id")


def q124_sql() -> str:
    return r"""
    WITH page AS (
      SELECT doc_id,
             '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
             '</title><style>p { color: red; }</style></head><body>' ||
             '<!-- hidden comment --><h1>Title &amp;lt; more</h1><p>' || text ||
             '</p><script type="text/javascript">var x = 1 < 2;</script>' ||
             '<p>Tail &lt;b&gt; &#39;q&#39;&nbsp;end</p></body></html>' AS html
      FROM documents
    ), stripped AS (
      SELECT doc_id,
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(html, '(?is)<script\b[^>]*>.*?</script>', ' ', 'g'),
              '(?is)<style\b[^>]*>.*?</style>', ' ', 'g'),
            '(?s)<!--.*?-->', ' ', 'g'),
          '<[^>]+>', ' ', 'g') AS t
      FROM page
    ), decoded AS (
      SELECT doc_id,
        replace(replace(replace(replace(replace(replace(t,
          '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
          '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&') AS t
      FROM stripped
    )
    SELECT doc_id,
           trim(regexp_replace(t, '\s+', ' ', 'g')) AS extracted,
           CAST(length(trim(regexp_replace(t, '\s+', ' ', 'g'))) AS INT) AS n_chars
    FROM decoded
    ORDER BY doc_id
    """


WARC_NARCH = 4


def q125_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC round trip (llm/warc.py) — the container web crawls arrive
    in (ISO 28500; Common Crawl's on-disk format). Every document
    becomes one response record (HTTP headers + text as the payload),
    records serialize into one archive per doc_id%4 group via the
    deterministic writer, and the REAL reader walks the archives back
    to record rows. The oracle recomputes every field closed-form —
    including each record's BYTE OFFSET as a prefix sum of exact
    serialized record sizes — so a reader that drops, shifts, or
    mis-frames any record hash-mismatches. q89's convention applied to
    the crawl-ingest layout."""
    from swiftbeaver_spark.llm.warc import warc_archives, warc_records

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    recs = docs.select(
        F.format_string("warc-%02d.warc", (F.col("doc_id") % WARC_NARCH).cast("int")).alias(
            "archive"
        ),
        F.col("doc_id").alias("order_key"),
        F.lit("response").alias("warc_type"),
        F.format_string(
            "<urn:uuid:00000000-0000-0000-0000-%012d>", F.col("doc_id")
        ).alias("record_id"),
        F.concat(F.lit("http://example.com/doc/"), F.col("doc_id").cast("string")).alias(
            "target_uri"
        ),
        F.encode(
            F.concat(
                F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n"),
                F.col("text"),
            ),
            "utf-8",
        ).alias("payload"),
    )
    out = warc_records(warc_archives(recs))
    return out.select(
        "archive",
        "rec_offset",
        "warc_type",
        "record_id",
        "target_uri",
        "content_length",
        F.md5("payload").alias("payload_md5"),
        F.coalesce(F.col("truncated"), F.lit("none")).alias("truncated"),
    ).orderBy("archive", "rec_offset")


def q125_sql() -> str:
    # serialized record size, closed form (fixed header order of
    # llm/warc.py::serialize_record with type='response' and the
    # 47-char urn:uuid record id):
    #   139 + len(uri) + len(str(clen)) + clen
    return f"""
    WITH r AS (
      SELECT printf('warc-%02d.warc', CAST(doc_id % {WARC_NARCH} AS INT)) AS archive,
             doc_id,
             '<urn:uuid:00000000-0000-0000-0000-' || printf('%012d', doc_id) || '>'
               AS record_id,
             'http://example.com/doc/' || CAST(doc_id AS VARCHAR) AS target_uri,
             'HTTP/1.1 200 OK' || chr(13) || chr(10) ||
             'Content-Type: text/plain' || chr(13) || chr(10) ||
             chr(13) || chr(10) || text AS payload
      FROM documents
    ), sized AS (
      SELECT archive, doc_id, record_id, target_uri,
             CAST(strlen(payload) AS BIGINT) AS content_length,
             md5(payload) AS payload_md5,
             139 + strlen(target_uri) + strlen(CAST(strlen(payload) AS VARCHAR))
                 + strlen(payload) AS rec_size
      FROM r
    )
    SELECT archive,
           CAST(SUM(rec_size) OVER (PARTITION BY archive ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING) - rec_size
                AS BIGINT) AS rec_offset,
           'response' AS warc_type,
           record_id, target_uri, content_length, payload_md5,
           'none' AS truncated
    FROM sized
    ORDER BY archive, rec_offset
    """


def q126_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape — the correlated scalar-aggregate subquery
    ("lineitems below 20% of their part's average quantity"),
    DECORRELATED the way Catalyst rewrites it: one partial-agg shuffle
    builds per-part (count, sum_qty), joined back to the fact table.
    The threshold is the integer cross-multiplication
    5*qty*cnt < sum_qty (qty < 0.2*avg with no division, no floats),
    so membership is bit-exact on any engine. Revenue in DECIMAL.
    Scale: two shuffles on l_partkey (stats + join; AQE picks the
    strategy), part's p_size filter pushed to its scan; no
    per-row subquery execution anywhere."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").where(F.col("p_size") <= 5).select(
        "p_partkey", "p_brand"
    )
    qty = F.col("l_quantity").cast("bigint")
    stats = li.groupBy("l_partkey").agg(
        F.count("*").alias("cnt"), F.sum(qty).alias("sum_qty")
    )
    picked = (
        li.select("l_partkey", qty.alias("qty"),
                  F.col("l_extendedprice").cast("decimal(18,2)").alias("price"))
        .join(stats, "l_partkey")
        .where(F.lit(5) * F.col("qty") * F.col("cnt") < F.col("sum_qty"))
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
    )
    return (
        picked.groupBy("p_brand")
        .agg(
            F.sum("price").cast("string").alias("total_price"),
            F.count("*").alias("n_rows"),
        )
        .orderBy("p_brand")
    )


def q126_sql() -> str:
    return """
    WITH stats AS (
      SELECT l_partkey, COUNT(*) AS cnt,
             SUM(CAST(l_quantity AS BIGINT)) AS sum_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT p_brand,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS total_price,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM lineitem
    JOIN stats USING (l_partkey)
    JOIN part ON p_partkey = l_partkey
    WHERE p_size <= 5
      AND 5 * CAST(l_quantity AS BIGINT) * cnt < sum_qty
    GROUP BY p_brand
    ORDER BY p_brand
    """


def q127_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram LM plausibility scoring (llm/text.py::bigram_lm_score) —
    the CCNet/KenLM-style corpus-LM quality filter with all-integer
    conditional probabilities P(w2|w1) in milli-units. Planted probes
    at +1e6: each doc<10's words RE-SORTED alphabetically — identical
    VOCABULARY, different TRANSITIONS — score differently from the
    natural originals (sorted text concentrates repeated/adjacent
    tokens into deterministic continuations), proving the signal reads
    word ORDER where q67's unigram rarity is provably identical on
    both. The oracle replays bigram/prefix counts and every
    per-instance integer division."""
    from swiftbeaver_spark.llm.text import bigram_lm_score

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200).select(
        "doc_id", "text"
    )
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    planted = docs.where(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.array_join(F.array_sort(F.split(norm, " ")), " ").alias("text"),
    )
    return bigram_lm_score(docs.unionByName(planted)).orderBy("doc_id")


def q127_sql() -> str:
    return """
    WITH corpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 200
      UNION ALL
      SELECT doc_id + 1000000,
             array_to_string(list_sort(string_split(
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')), ' ')
      FROM documents WHERE doc_id < 10
    ), t AS (
      SELECT doc_id,
             list_filter(string_split(
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
               x -> x <> '') AS toks
      FROM corpus
    ), inst AS (
      SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
      FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i)
    ), c2 AS (
      SELECT w1, w2, COUNT(*) AS c2 FROM inst GROUP BY w1, w2
    ), c1 AS (
      SELECT w1, COUNT(*) AS c1 FROM inst GROUP BY w1
    ), scored AS (
      SELECT doc_id, FLOOR(1000 * c2.c2 / c1.c1) AS cond_milli
      FROM inst JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(cond_milli) AS BIGINT) AS sum_cond_milli,
           CAST(FLOOR(SUM(cond_milli) / COUNT(*)) AS BIGINT) AS mean_cond_milli
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """


HILBERT_BITS = 8


def q128_hilbert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering key (layout.py::with_hilbert_key) over
    (user_id mod 256, event_id mod 256) — q66's Z-order upgraded to
    the curve with unit-step locality (Delta liquid clustering's
    choice). The public xy2d quadrant-fold algorithm unrolled into 8
    rounds of pure Catalyst conditionals (per-round materialized
    projections — the nested-Column form grows exponentially); the
    oracle replays every round with div/mod/CASE arithmetic, so each
    of the 65536 cell mappings is hash-gated."""
    from swiftbeaver_spark.layout import with_hilbert_key

    events = _t(spark, sf_dir, "events")
    x = (F.col("user_id") % 256).cast("long")
    y = (F.col("event_id") % 256).cast("long")
    keyed = with_hilbert_key(
        events.select("event_id", x.alias("x"), y.alias("y")),
        F.col("x"),
        F.col("y"),
        bits=HILBERT_BITS,
        out_col="h",
    )
    return keyed.select("event_id", "x", "y", "h").orderBy("event_id")


def q128_sql() -> str:
    n = 1 << HILBERT_BITS
    ctes = [
        "e0 AS (SELECT event_id, user_id % 256 AS hx, event_id % 256 AS hy,"
        " user_id % 256 AS x, event_id % 256 AS y, 0 AS d FROM events)"
    ]
    i = 0
    s = n >> 1
    while s > 0:
        rx = f"((x // {s}) % 2)"
        ry = f"((y // {s}) % 2)"
        quad = (
            f"CASE WHEN {rx} = 0 AND {ry} = 0 THEN 0 "
            f"WHEN {rx} = 0 THEN 1 WHEN {ry} = 0 THEN 3 ELSE 2 END"
        )
        nx = (
            f"CASE WHEN {ry} = 0 THEN (CASE WHEN {rx} = 1 THEN {n - 1} - y "
            f"ELSE y END) ELSE x END"
        )
        ny = (
            f"CASE WHEN {ry} = 0 THEN (CASE WHEN {rx} = 1 THEN {n - 1} - x "
            f"ELSE x END) ELSE y END"
        )
        ctes.append(
            f"e{i + 1} AS (SELECT event_id, hx, hy, {nx} AS x, {ny} AS y, "
            f"d + {s * s} * ({quad}) AS d FROM e{i})"
        )
        i += 1
        s >>= 1
    return (
        "WITH " + ",\n    ".join(ctes) + f"""
    SELECT event_id, CAST(hx AS BIGINT) AS x, CAST(hy AS BIGINT) AS y,
           CAST(d AS BIGINT) AS h
    FROM e{i} ORDER BY event_id
    """
    )


def q129_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set operations (sketch.py::kmv_pairwise_set_ops):
    audience-overlap estimates |A∩B| / |A∪B| / Jaccard for every
    unordered pair of event types, computed from the per-type KMV
    sketches ALONE (one stream scan builds them; every estimate is
    O(k) sketch arithmetic — the DataSketches theta model). Extends
    q46's single-set KMV to the set-algebra the sketch family exists
    for. Every step is integer math under min(theta_a, theta_b), so
    the APPROXIMATE estimates themselves hash-gate cross-engine."""
    from swiftbeaver_spark.sketch import kmv_pairwise_set_ops

    events = _t(spark, sf_dir, "events")
    return kmv_pairwise_set_ops(
        events, "event_type", "user_id", k=KMV_K, mult=KMV_MULT, space=KMV_SPACE
    ).orderBy("group_a", "group_b")


def q129_sql() -> str:
    return f"""
    WITH hashed AS (
      -- ((x % m) + m) % m == Spark's pmod: sign-safe for negative ids
      SELECT DISTINCT event_type AS g,
             ((user_id * {KMV_MULT}) % {KMV_SPACE} + {KMV_SPACE})
               % {KMV_SPACE} AS h
      FROM events
    ), sk AS (
      SELECT g, h FROM (
        SELECT g, h, ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rn
        FROM hashed
      ) WHERE rn <= {KMV_K}
    ), stats AS (
      SELECT g,
             CASE WHEN COUNT(*) < {KMV_K} THEN {KMV_SPACE}
                  ELSE MAX(h) END AS theta
      FROM sk GROUP BY g
    ), pairs AS (
      SELECT a.g AS ga, b.g AS gb, LEAST(a.theta, b.theta) AS theta
      FROM stats a JOIN stats b ON a.g < b.g
    ), inter AS (
      SELECT x.g AS ga, y.g AS gb, COUNT(*) AS inter_ct
      FROM sk x JOIN sk y ON x.h = y.h AND x.g < y.g
      JOIN pairs p ON p.ga = x.g AND p.gb = y.g
      WHERE x.h < p.theta
      GROUP BY x.g, y.g
    ), un AS (
      SELECT ga, gb, theta, COUNT(*) AS union_ct FROM (
        SELECT DISTINCT p.ga, p.gb, p.theta, u.h
        FROM pairs p JOIN sk u ON u.g = p.ga OR u.g = p.gb
        WHERE u.h < p.theta
      ) GROUP BY ga, gb, theta
    )
    SELECT un.ga AS group_a, un.gb AS group_b,
           CAST(COALESCE(inter_ct, 0) AS BIGINT) AS inter_ct,
           CAST(union_ct AS BIGINT) AS union_ct,
           CAST(FLOOR(COALESCE(inter_ct, 0) * {KMV_SPACE}.0 / theta) AS BIGINT)
             AS est_inter,
           CAST(FLOOR(union_ct * {KMV_SPACE}.0 / theta) AS BIGINT) AS est_union,
           CAST(FLOOR(1000.0 * COALESCE(inter_ct, 0) / GREATEST(union_ct, 1))
                AS BIGINT) AS jaccard_milli
    FROM un LEFT JOIN inter ON un.ga = inter.ga AND un.gb = inter.gb
    ORDER BY group_a, group_b
    """


def q130_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled corpus balancing (llm/pipeline.py::
    temperature_sample) — the XLM-R multilingual sampling rule
    (n_l^alpha, alpha=0.5): each language downsampled at md5-gate rate
    floor(65536*sqrt(n_min/n_l)), so kept counts scale with sqrt(n_l).
    Completes the sampling family with the rate-DERIVED-from-counts
    member (q39 fixed rates / q50 weighted / q68 fixed-k / q84 mixture
    weights). Output: per-language audit row (corpus size, derived
    threshold, kept count, order-insensitive id checksum — the q119
    convention, so every individual membership decision is gated)."""
    from swiftbeaver_spark.llm.pipeline import temperature_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    kept = temperature_sample(docs)
    chk = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    totals = (
        _t(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"))
    )
    return (
        kept.groupBy("lang", "keep_threshold")
        .agg(
            F.count("*").cast("long").alias("n_kept"),
            F.sum(chk).cast("long").alias("id_checksum"),
        )
        .join(totals, "lang")
        .select(
            "lang",
            F.col("n_docs").cast("long").alias("n_docs"),
            "keep_threshold",
            "n_kept",
            "id_checksum",
        )
        .orderBy("lang")
    )


def q130_sql() -> str:
    return """
    WITH counts AS (
      SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
    ), rates AS (
      SELECT lang, n,
             CAST(FLOOR(65536 * sqrt(CAST((SELECT MIN(n) FROM counts) AS DOUBLE)
                                     / n)) AS BIGINT) AS keep_threshold
      FROM counts
    ), kept AS (
      SELECT d.doc_id, d.lang, r.keep_threshold, r.n
      FROM documents d JOIN rates r ON d.lang = r.lang
      WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) AS BIGINT)
            < r.keep_threshold
    )
    SELECT lang,
           CAST(MAX(n) AS BIGINT) AS n_docs,
           keep_threshold,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                         AS BIGINT)) AS BIGINT) AS id_checksum
    FROM kept GROUP BY lang, keep_threshold
    ORDER BY lang
    """


CRAWL_LM_MIN_MILLI = 20  # bigram-LM floor; natural corpus docs score ~40


def q131_crawl_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAPSTONE v3 — the CRAWL-INGEST side composed end-to-end, every
    stage this round's real operator, one SQL oracle replaying the
    whole chain: documents wrapped as HTML pages inside HTTP responses
    inside WARC archives (built by the q125 writer), then
      REAL WARC reader (q125) -> HTTP body split -> HTML visible-text
      extraction (q124) -> corpus bigram-LM scoring (q127) -> quality
      floor -> temperature-balanced sampling over the SURVIVORS
      (q130; thresholds derived from post-filter counts, so the
      cascade itself is gated).
    Output: one audit row per sampled doc (id, lang, extracted-text
    md5 + length, LM score, the language's derived keep threshold)."""
    from swiftbeaver_spark.llm.pipeline import temperature_sample
    from swiftbeaver_spark.llm.text import bigram_lm_score, html_extract_text
    from swiftbeaver_spark.llm.warc import warc_archives, warc_records

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    html = F.concat(
        F.lit("<html><head><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit("</title><style>p { color: red; }</style></head><body>"),
        F.lit("<!-- hidden comment --><h1>Title &amp;lt; more</h1><p>"),
        F.col("text"),
        F.lit('</p><script type="text/javascript">var x = 1 < 2;</script>'),
        F.lit("<p>Tail &lt;b&gt; &#39;q&#39;&nbsp;end</p></body></html>"),
    )
    recs = docs.select(
        F.format_string("warc-%02d.warc", (F.col("doc_id") % WARC_NARCH).cast("int")).alias(
            "archive"
        ),
        F.col("doc_id").alias("order_key"),
        F.lit("response").alias("warc_type"),
        F.format_string(
            "<urn:uuid:00000000-0000-0000-0000-%012d>", F.col("doc_id")
        ).alias("record_id"),
        F.concat(F.lit("http://example.com/doc/"), F.col("doc_id").cast("string")).alias(
            "target_uri"
        ),
        F.encode(
            F.concat(
                F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"), html
            ),
            "utf-8",
        ).alias("payload"),
    )
    parsed = warc_records(warc_archives(recs)).select(
        F.substring(F.col("record_id"), 35, 12).cast("bigint").alias("doc_id"),
        F.split(F.decode(F.col("payload"), "UTF-8"), "\r\n\r\n", 2)
        .getItem(1)
        .alias("html"),
    )
    extracted = parsed.select(
        "doc_id", html_extract_text(F.col("html")).alias("extracted")
    )
    scores = bigram_lm_score(extracted, text_col="extracted").select(
        "doc_id", "mean_cond_milli"
    )
    # Decide on narrow rows, attach the payload once (r14, guide §8):
    # the sampling decision needs only (doc_id, lm, lang) — `scores`'
    # doc_id set already equals the old extracted⋈scores survivors set
    # (bigram_lm_score emits ⊆ extracted's doc_ids and the inner join
    # only attached text) — so temperature_sample's double reference
    # (group counts + the gated join) re-evaluates a three-column
    # frame, not the WARC-parse + HTML-extract chain; `extracted`
    # joins back exactly once for the output columns. −22% on
    # interleaved quiet-window minima, rows byte-identical at all
    # three SFs (OPTIMIZATION_r14.md).
    meta = scores.where(F.col("mean_cond_milli") >= CRAWL_LM_MIN_MILLI).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    sampled = temperature_sample(meta)
    return (
        sampled.join(extracted, "doc_id")
        .select(
            "doc_id",
            "lang",
            F.length("extracted").cast("int").alias("n_chars"),
            F.md5("extracted").alias("extracted_md5"),
            F.col("mean_cond_milli").cast("bigint").alias("lm_milli"),
            "keep_threshold",
        )
        .orderBy("doc_id")
    )


def q131_sql() -> str:
    toks = (
        "list_filter(string_split(trim(regexp_replace(lower(extracted), "
        "'\\s+', ' ', 'g')), ' '), x -> x <> '')"
    )
    return rf"""
    WITH page AS (
      SELECT doc_id,
             '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
             '</title><style>p {{ color: red; }}</style></head><body>' ||
             '<!-- hidden comment --><h1>Title &amp;lt; more</h1><p>' || text ||
             '</p><script type="text/javascript">var x = 1 < 2;</script>' ||
             '<p>Tail &lt;b&gt; &#39;q&#39;&nbsp;end</p></body></html>' AS html
      FROM documents
    ), stripped AS (
      SELECT doc_id,
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(html, '(?is)<script\b[^>]*>.*?</script>', ' ', 'g'),
              '(?is)<style\b[^>]*>.*?</style>', ' ', 'g'),
            '(?s)<!--.*?-->', ' ', 'g'),
          '<[^>]+>', ' ', 'g') AS t
      FROM page
    ), ex AS (
      SELECT doc_id,
             trim(regexp_replace(
               replace(replace(replace(replace(replace(replace(t,
                 '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                 '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
               '\s+', ' ', 'g')) AS extracted
      FROM stripped
    ), tkn AS (
      SELECT doc_id, {toks} AS toks FROM ex
    ), inst AS (
      SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
      FROM tkn, unnest(generate_series(1, len(toks) - 1)) AS u(i)
    ), c2 AS (
      SELECT w1, w2, COUNT(*) AS c2 FROM inst GROUP BY w1, w2
    ), c1 AS (
      SELECT w1, COUNT(*) AS c1 FROM inst GROUP BY w1
    ), sc AS (
      SELECT doc_id,
             CAST(FLOOR(SUM(FLOOR(1000 * c2.c2 / c1.c1)) / COUNT(*)) AS BIGINT)
               AS lm_milli
      FROM inst JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
      GROUP BY doc_id
    ), surv AS (
      SELECT ex.doc_id, ex.extracted, sc.lm_milli, d.lang
      FROM ex JOIN sc USING (doc_id) JOIN documents d USING (doc_id)
      WHERE sc.lm_milli >= {CRAWL_LM_MIN_MILLI}
    ), counts AS (
      SELECT lang, COUNT(*) AS n FROM surv GROUP BY lang
    ), rates AS (
      SELECT lang,
             CAST(FLOOR(65536 * sqrt(CAST((SELECT MIN(n) FROM counts) AS DOUBLE)
                                     / n)) AS BIGINT) AS keep_threshold
      FROM counts
    )
    SELECT s.doc_id, s.lang,
           CAST(length(s.extracted) AS INT) AS n_chars,
           md5(s.extracted) AS extracted_md5,
           s.lm_milli,
           r.keep_threshold
    FROM surv s JOIN rates r ON s.lang = r.lang
    WHERE CAST('0x' || substr(md5(CAST(s.doc_id AS VARCHAR)), 1, 4) AS BIGINT)
          < r.keep_threshold
    ORDER BY s.doc_id
    """


def q132_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped WEIGHTED median (relational.py::
    grouped_weighted_median): per return flag, the lineitem price-cent
    value at the 50% point of the QUANTITY-weight distribution —
    completing the exact order-statistic family (q115 unweighted
    median, q116 mode). Integer cross-mult pick (2*cum >= total) over
    a deterministic (value, orderkey, linenumber) order; price cents
    via the proven DECIMAL(18,2) cast convention."""
    from swiftbeaver_spark.relational import grouped_weighted_median

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("price_cents"),
        F.col("l_quantity").cast("bigint").alias("qty"),
        "l_orderkey",
        "l_linenumber",
    )
    return grouped_weighted_median(
        li,
        group_col="l_returnflag",
        value_col="price_cents",
        weight_col="qty",
        # two-level block prefix sum (r14): 1000.00-wide value blocks
        # distribute the running weight instead of funneling each
        # returnflag group through one sort partition — 3.13 -> 1.90 s
        # at sf0.1, rows identical (relational.py docstring)
        block_width=100_000,
        tiebreak_cols=["l_orderkey", "l_linenumber"],
    ).orderBy("l_returnflag")


def q132_sql() -> str:
    return """
    WITH li AS (
      SELECT l_returnflag,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS price_cents,
             CAST(l_quantity AS BIGINT) AS qty,
             l_orderkey, l_linenumber
      FROM lineitem
    ), cum AS (
      SELECT l_returnflag, price_cents, qty, l_orderkey, l_linenumber,
             SUM(qty) OVER (PARTITION BY l_returnflag
                            ORDER BY price_cents, l_orderkey, l_linenumber
                            ROWS UNBOUNDED PRECEDING) AS c,
             SUM(qty) OVER (PARTITION BY l_returnflag) AS tot
      FROM li
    ), q AS (
      SELECT l_returnflag, price_cents, c, tot,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY price_cents, l_orderkey, l_linenumber)
               AS rn
      FROM cum WHERE 2 * c >= tot
    )
    SELECT l_returnflag,
           price_cents AS weighted_median,
           CAST(tot AS BIGINT) AS total_weight,
           CAST(c AS BIGINT) AS cum_at_median
    FROM q WHERE rn = 1
    ORDER BY l_returnflag
    """


def q133_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON ingestion — the sidecar-metadata shape
    every crawl/events pipeline carries (events.props IS a JSON string
    column; this query is its first consumer). The flat props are
    genuinely parsed (from_json -> k), then wrapped into a NESTED
    document (object-in-object + array) built in SQL, and the nested
    fields extracted back with a typed from_json schema — Spark's
    idiomatic JSON path (typed struct, codegen field access, no
    regex). The oracle parses the same strings with DuckDB's
    json_extract, so both engines' JSON PARSERS must agree on every
    row, not just the arithmetic. Aggregated per (event_type, first
    tag): integer sums of both extracted numbers."""
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    events = _t(spark, sf_dir, "events")
    k = F.from_json(
        F.col("props"), StructType([StructField("k", IntegerType())])
    )["k"]
    doc = F.concat(
        F.lit('{"meta":{"k":'),
        k.cast("string"),
        F.lit(',"tags":["t'),
        (F.col("event_id") % 3).cast("string"),
        F.lit('","u"]},"v":'),
        (F.col("event_id") % 7).cast("string"),
        F.lit("}"),
    )
    schema = StructType(
        [
            StructField(
                "meta",
                StructType(
                    [
                        StructField("k", IntegerType()),
                        StructField("tags", ArrayType(StringType())),
                    ]
                ),
            ),
            StructField("v", IntegerType()),
        ]
    )
    parsed = events.select(
        "event_type", F.from_json(doc, schema).alias("j")
    ).select(
        "event_type",
        F.col("j.meta.k").alias("k"),
        F.element_at(F.col("j.meta.tags"), 1).alias("tag"),
        F.col("j.v").alias("v"),
    )
    return (
        parsed.groupBy("event_type", "tag")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").cast("long").alias("sum_k"),
            F.sum("v").cast("long").alias("sum_v"),
        )
        .orderBy("event_type", "tag")
    )


def q133_sql() -> str:
    return """
    WITH doc AS (
      SELECT event_type,
             '{"meta":{"k":' ||
             CAST(CAST(json_extract(props, '$.k') AS INT) AS VARCHAR) ||
             ',"tags":["t' || CAST(event_id % 3 AS VARCHAR) ||
             '","u"]},"v":' || CAST(event_id % 7 AS VARCHAR) || '}' AS j
      FROM events
    ), parsed AS (
      SELECT event_type,
             CAST(json_extract(j, '$.meta.k') AS INT) AS k,
             json_extract_string(j, '$.meta.tags[0]') AS tag,
             CAST(json_extract(j, '$.v') AS INT) AS v
      FROM doc
    )
    SELECT event_type, tag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           CAST(SUM(v) AS BIGINT) AS sum_v
    FROM parsed GROUP BY event_type, tag
    ORDER BY event_type, tag
    """


BFS_MAX_DIST = 4
BFS_SEED_MOD = 100


def q134_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum-hop BFS over the q80 user-interaction graph
    (relational.py::bfs_distances): frontier-expansion rounds with an
    anti-join against the settled set, seeds = users ≡ 0 mod 100.
    Completes the iterative-graph family (q36 connected components,
    q80 pagerank) with the reachability/distance member — and the
    oracle is a genuine WITH RECURSIVE traversal of the same edges, so
    Spark's iterative joins are gated against a SQL engine's recursive
    evaluation, not an unrolled replay."""
    from swiftbeaver_spark.relational import bfs_distances

    events = _t(spark, sf_dir, "events")
    bucket = F.expr(f"({ts_unix_micros_sql('ts')}) div {3600 * 1_000_000}L")
    w_lag = Window.partitionBy("event_type", bucket.alias("b")).orderBy(
        ts_unix_micros(F.col("ts")), "event_id"
    )
    prev_u = F.lag("user_id").over(w_lag)
    edges = (
        events.withColumn("src", prev_u)
        .where(F.col("src").isNotNull() & (F.col("src") != F.col("user_id")))
        .select("src", F.col("user_id").alias("dst"))
        .distinct()
    )
    nodes = edges.select(F.col("src").alias("node")).unionByName(
        edges.select(F.col("dst").alias("node"))
    ).distinct()
    seeds = nodes.where(F.col("node") % BFS_SEED_MOD == 0)
    return bfs_distances(edges, seeds, max_dist=BFS_MAX_DIST).orderBy("node")


def q134_sql() -> str:
    span_us = 3600 * 1_000_000
    return f"""
    WITH RECURSIVE lagged AS (
      SELECT user_id AS dst,
             lag(user_id) OVER (PARTITION BY event_type,
                                  epoch_us(CAST(ts AS TIMESTAMP)) // {span_us}
                                ORDER BY epoch_us(CAST(ts AS TIMESTAMP)),
                                         event_id) AS src
      FROM events
    ), e AS (
      SELECT DISTINCT src, dst FROM lagged
      WHERE src IS NOT NULL AND src <> dst
    ), nodes AS (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM e UNION ALL SELECT dst FROM e
      )
    ), r(node, dist) AS (
      SELECT node, 0 FROM nodes WHERE node % {BFS_SEED_MOD} = 0
      UNION
      SELECT e.dst, r.dist + 1
      FROM r JOIN e ON e.src = r.node
      WHERE r.dist < {BFS_MAX_DIST}
    )
    SELECT node, CAST(MIN(dist) AS INT) AS dist
    FROM r GROUP BY node ORDER BY node
    """


def q135_format_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interchange-format sink/source gate: documents written to REAL
    CSV, JSON-lines and ORC files (Spark's built-in sinks, lang-
    partitioned directories), read back from disk, and manifested per
    (format, lang) — row count plus an order-insensitive md5-prefix
    checksum over doc_id AND text, so quoting/escaping damage in any
    format's writer-reader pair (commas under CSV quoting, unicode
    escapes in JSON, ORC encoding) breaks the hash. The oracle
    computes the manifest once from `documents` and replicates it per
    format: all three round trips must be lossless and AGREE. Extends
    the on-disk-gate family (q90 parquet shards, q89 tar, q114
    TFRecord, q125 WARC) to the three remaining mainstream formats."""
    import tempfile

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    outs = []
    for fmt in ("csv", "json", "orc"):
        tmp = tempfile.mkdtemp(prefix=f"sb_q135_{fmt}_")
        w = docs.write.mode("overwrite").partitionBy("lang")
        if fmt == "csv":
            # Explicit quote/escape on BOTH legs plus multiLine on the
            # read: text containing newlines or quotes must round-trip
            # losslessly, not only the single-line generated corpus.
            w.option("header", True).option("quote", '"').option(
                "escape", '"'
            ).csv(tmp)
            back = (
                spark.read.option("header", True)
                .option("multiLine", True)
                .option("quote", '"')
                .option("escape", '"')
                .schema("doc_id BIGINT, text STRING, lang STRING")
                .csv(tmp)
            )
        elif fmt == "json":
            w.json(tmp)
            back = spark.read.schema("doc_id BIGINT, text STRING, lang STRING").json(
                tmp
            )
        else:
            w.orc(tmp)
            back = spark.read.orc(tmp)
        chk = F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("text"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        outs.append(
            back.groupBy("lang")
            .agg(
                F.count("*").cast("long").alias("n_rows"),
                F.min("doc_id").alias("min_id"),
                F.max("doc_id").alias("max_id"),
                F.sum(chk).cast("long").alias("checksum"),
            )
            .withColumn("format", F.lit(fmt))
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.select("format", "lang", "n_rows", "min_id", "max_id", "checksum").orderBy(
        "format", "lang"
    )


def q135_sql() -> str:
    return """
    WITH m AS (
      SELECT lang,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             MIN(doc_id) AS min_id,
             MAX(doc_id) AS max_id,
             CAST(SUM(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text),
                                          1, 8) AS BIGINT)) AS BIGINT) AS checksum
      FROM documents GROUP BY lang
    ), fmts(format) AS (VALUES ('csv'), ('json'), ('orc'))
    SELECT format, lang, n_rows, min_id, max_id, checksum
    FROM fmts CROSS JOIN m
    ORDER BY format, lang
    """


ESD_N = 8  # exact-substring dedup window, tokens


def q136_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring REMOVAL (llm/pipeline.py::
    exact_substring_dedup — Lee et al. 2022 ExactSubstr as distributed
    n-gram anchoring): planted copies of doc<10 at +1e6, wrapped in
    unique sentinels ('zzq u<id> ' ... ' zqq e<id>'), must lose their
    entire shared interior to the canonical originals, while the
    originals keep theirs (min (doc,pos) canon). The rewrite q51 only
    measures. Oracle replays gram stats, canon election, window
    coverage and the reassembled text md5 per doc."""
    from swiftbeaver_spark.llm.pipeline import exact_substring_dedup

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200).select(
        "doc_id", "text"
    )
    planted = docs.where(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(
            F.lit("zzq u"),
            F.col("doc_id").cast("string"),
            F.lit(" "),
            F.col("text"),
            F.lit(" zqq e"),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    out = exact_substring_dedup(docs.unionByName(planted), ngram_n=ESD_N)
    return out.select(
        "doc_id",
        "n_tokens",
        "n_removed",
        F.md5("cleaned").alias("cleaned_md5"),
    ).orderBy("doc_id")


def q136_sql() -> str:
    n = ESD_N
    toks = (
        "list_filter(string_split(trim(regexp_replace(lower(text), "
        "'\\s+', ' ', 'g')), ' '), x -> x <> '')"
    )
    return f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 200
      UNION ALL
      SELECT doc_id + 1000000,
             'zzq u' || CAST(doc_id AS VARCHAR) || ' ' || text ||
             ' zqq e' || CAST(doc_id AS VARCHAR)
      FROM documents WHERE doc_id < 10
    ), t AS (
      SELECT doc_id, {toks} AS toks FROM corpus
    ), tok AS (
      SELECT doc_id, i AS pos, toks[i] AS w
      FROM t, unnest(generate_series(1, len(toks))) AS u(i)
    ), grams AS (
      SELECT doc_id, p, array_to_string(toks[p:p+{n - 1}], ' ') AS gram
      FROM t, unnest(generate_series(1, len(toks) - {n - 1})) AS g(p)
    ), st AS (
      SELECT gram, COUNT(*) OVER (PARTITION BY gram) AS cnt,
             ROW_NUMBER() OVER (PARTITION BY gram ORDER BY doc_id, p) AS rn,
             doc_id, p
      FROM grams
    ), dup AS (
      SELECT doc_id, p FROM st WHERE cnt > 1 AND rn > 1
    ), covered AS (
      SELECT DISTINCT doc_id, pos
      FROM dup, unnest(generate_series(p, p + {n - 1})) AS c(pos)
    ), kept AS (
      SELECT tok.doc_id, tok.pos, tok.w
      FROM tok LEFT JOIN covered
        ON tok.doc_id = covered.doc_id AND tok.pos = covered.pos
      WHERE covered.pos IS NULL
    ), cleaned AS (
      SELECT doc_id,
             string_agg(w, ' ' ORDER BY pos) AS cleaned,
             COUNT(*) AS n_kept
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.toks) AS BIGINT) AS n_tokens,
           CAST(len(t.toks) - COALESCE(c.n_kept, 0) AS BIGINT) AS n_removed,
           md5(COALESCE(c.cleaned, '')) AS cleaned_md5
    FROM t LEFT JOIN cleaned c ON t.doc_id = c.doc_id
    ORDER BY t.doc_id
    """


KM_K = 8
KM_ITERS = 2


def q137_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means with the TRAINING LOOP itself under the
    hash gate (llm/similarity.py::kmeans_micro): vectors in integer
    micro-units, md5-ordered deterministic seeds, two Lloyd
    iterations (exact BIGINT argmin assignment, floor-division means,
    empty cells carry forward), final assignment with exact integer
    inertia. The oracle unrolls both iterations in SQL (the q80
    pagerank convention) — so the distributed training pass, not just
    a pinned quantizer's inference, is proven equal cross-engine."""
    from swiftbeaver_spark.llm.similarity import kmeans_micro

    emb = _t(spark, sf_dir, "embeddings")
    return kmeans_micro(emb, k=KM_K, iters=KM_ITERS).orderBy("cell")


def q137_sql() -> str:
    dist = (
        "list_sum([(iv[j] - civ[j]) * (iv[j] - civ[j]) "
        "for j in generate_series(1, len(iv))])"
    )
    it = f"""
    , a{{i}} AS (
      SELECT vec_id, cidx, iv, dist FROM (
        SELECT v.vec_id, c.cidx, v.iv, {dist} AS dist,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                  ORDER BY {dist}, c.cidx) AS rn
        FROM v CROSS JOIN c{{j}} c
      ) WHERE rn = 1
    ), m{{i}} AS (
      SELECT cidx, pos,
             CAST(FLOOR(CAST(SUM(iv[pos]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS m
      FROM a{{i}}, unnest(generate_series(1, len(iv))) AS t(pos)
      GROUP BY cidx, pos
    ), n{{i}} AS (
      SELECT cidx, list(m ORDER BY pos) AS nciv FROM m{{i}} GROUP BY cidx
    ), c{{i}} AS (
      SELECT c.cidx, COALESCE(n.nciv, c.civ) AS civ
      FROM c{{j}} c LEFT JOIN n{{i}} n ON c.cidx = n.cidx
    )"""
    iters = "".join(it.format(i=i + 1, j=i) for i in range(KM_ITERS))
    return f"""
    WITH v AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(round(x * 1000000) AS BIGINT)) AS iv
      FROM embeddings
    ), c0 AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1
                  AS INT) AS cidx,
             iv AS civ
      FROM v ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {KM_K}
    ){iters}
    , fin AS (
      SELECT vec_id, cidx, dist FROM (
        SELECT v.vec_id, c.cidx, {dist} AS dist,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                  ORDER BY {dist}, c.cidx) AS rn
        FROM v CROSS JOIN c{KM_ITERS} c
      ) WHERE rn = 1
    ), summary AS (
      SELECT cidx, COUNT(*) AS n_members, SUM(dist) AS inertia
      FROM fin GROUP BY cidx
    )
    SELECT c.cidx AS cell,
           CAST(COALESCE(s.n_members, 0) AS BIGINT) AS n_members,
           CAST(COALESCE(s.inertia, 0) AS BIGINT) AS inertia,
           md5(array_to_string(list_transform(c.civ,
               x -> CAST(x AS VARCHAR)), ',')) AS centroid_md5
    FROM c{KM_ITERS} c LEFT JOIN summary s ON c.cidx = s.cidx
    ORDER BY cell
    """


KANON_K = 5


def q138_privacy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit (Sweeney 2002 / Machanavajjhala
    2007) — the privacy screen a training-data release needs beyond
    q40's PII scrubbing: treating (lang, length-bucket) as the
    quasi-identifier, report every equivalence class with its size,
    k-anonymity violation flag (size < k), and l-diversity (distinct
    `source` values — the sensitive attribute) with its own
    singleton-disclosure flag. One partial-agg shuffle on the QI key;
    the count_distinct is per-class exact."""
    docs = _t(spark, sf_dir, "documents")
    qi_bucket = (F.col("n_chars") / 50).cast("int").alias("len_bucket")
    return (
        docs.select("lang", qi_bucket, "source")
        .groupBy("lang", "len_bucket")
        .agg(
            F.count("*").cast("long").alias("class_size"),
            F.count_distinct("source").cast("long").alias("l_diversity"),
        )
        .withColumn("k_violation", F.col("class_size") < KANON_K)
        .withColumn("l_singleton", F.col("l_diversity") == 1)
        .orderBy("lang", "len_bucket")
    )


def q138_sql() -> str:
    return f"""
    SELECT lang,
           CAST(n_chars // 50 AS INT) AS len_bucket,
           CAST(COUNT(*) AS BIGINT) AS class_size,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS l_diversity,
           COUNT(*) < {KANON_K} AS k_violation,
           COUNT(DISTINCT source) = 1 AS l_singleton
    FROM documents
    GROUP BY lang, CAST(n_chars // 50 AS INT)
    ORDER BY lang, len_bucket
    """


def q139_patch_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT patch-grid features over REAL pixels (llm/multimodal.py::
    bmp_patch_means): per doc a 4x4 24-bit BMP with md5-derived
    PER-PIXEL colors is built in SQL (bottom-up row order — the q99
    trick upgraded from solid color to a gradient), the real parser
    extracts the pixel array and emits 2x2-patch integer channel
    means — the tensor a vision transformer's patch embedding
    consumes. The oracle recomputes every patch mean from the pixel
    construction closed-form, so the BMP row-order handling and the
    patch arithmetic are both gated."""
    from swiftbeaver_spark.llm.multimodal import bmp_patch_means

    hdr = _q99_bmp_hex(0, 4, 4)
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    parts = [F.lit(hdr)]
    for r in range(4):  # file rows bottom-up
        y = 3 - r
        for x in range(4):
            parts.append(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.col("doc_id").cast("string"),
                            F.lit(str(y)),
                            F.lit(str(x)),
                        )
                    ),
                    1,
                    6,
                )
            )
    media = docs.select(
        F.col("doc_id").alias("media_id"), F.unhex(F.concat(*parts)).alias("payload")
    )
    return bmp_patch_means(media, 2).orderBy("media_id", "patch_row", "patch_col")


def q139_sql() -> str:
    ch = (
        "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || "
        "CAST(2*py+dy AS VARCHAR) || ':' || CAST(2*qx+dx AS VARCHAR)), {o}, 2) "
        "AS INT)"
    )
    return f"""
    WITH p(py, qx) AS (VALUES (0, 0), (0, 1), (1, 0), (1, 1)),
    o(dy, dx) AS (VALUES (0, 0), (0, 1), (1, 0), (1, 1)),
    px AS (
      SELECT doc_id, py, qx,
             {ch.format(o=1)} AS b,
             {ch.format(o=3)} AS g,
             {ch.format(o=5)} AS r
      FROM documents CROSS JOIN p CROSS JOIN o
      WHERE doc_id < 200
    )
    SELECT doc_id AS media_id,
           py AS patch_row, qx AS patch_col,
           CAST(SUM(b) // 4 AS INT) AS mean_b,
           CAST(SUM(g) // 4 AS INT) AS mean_g,
           CAST(SUM(r) // 4 AS INT) AS mean_r,
           'ok' AS status
    FROM px GROUP BY doc_id, py, qx
    ORDER BY media_id, patch_row, patch_col
    """


def q140_stream_crawl_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING crawl ingest under the hash gate (streaming.py::
    crawl_ingest_stream): WARC archives (built by the real q125
    writer, shipped as parquet (path, content) rows consumed in
    micro-batches) are parsed by the real reader inside foreachBatch,
    content-digested, and deduplicated three ways — in-batch (min
    doc_id per digest), against the corpus digest table (docs < 100,
    the q58 incremental shape), and against prior batches via the
    reread accepted table. Stream = docs 50..199 plus same-payload
    copies of 150..159 at +1e6 placed IN THE SAME ARCHIVE as their
    originals (so dedup is batch-boundary-independent). Accepted set
    must be exactly docs 100..199, whatever the batching."""
    import tempfile

    from swiftbeaver_spark.llm.warc import warc_archives
    from swiftbeaver_spark.streaming import crawl_ingest_stream

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    payload_of = lambda txt: F.encode(
        F.concat(F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n"), txt),
        "utf-8",
    )
    seen = (
        docs.where(F.col("doc_id") < 100)
        .select(F.md5(payload_of(F.col("text"))).alias("digest"))
        .distinct()
    )
    base = docs.where((F.col("doc_id") >= 50) & (F.col("doc_id") < 200))
    copies = docs.where((F.col("doc_id") >= 150) & (F.col("doc_id") < 160)).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    stream_docs = base.unionByName(copies)
    # archive group keyed by the BASE id so a copy always shares its
    # original's archive (dedup then never depends on batch order)
    arch_key = F.when(
        F.col("doc_id") >= 1_000_000, F.col("doc_id") - 1_000_000
    ).otherwise(F.col("doc_id"))
    recs = stream_docs.select(
        F.format_string("warc-%02d.warc", (arch_key % WARC_NARCH).cast("int")).alias(
            "archive"
        ),
        F.col("doc_id").alias("order_key"),
        F.lit("response").alias("warc_type"),
        F.format_string(
            "<urn:uuid:00000000-0000-0000-0000-%012d>", F.col("doc_id")
        ).alias("record_id"),
        F.concat(F.lit("http://example.com/doc/"), F.col("doc_id").cast("string")).alias(
            "target_uri"
        ),
        payload_of(F.col("text")).alias("payload"),
    )
    archives = warc_archives(recs)
    tmp = tempfile.mkdtemp(prefix="sb_q140_")
    src, out, ckpt = f"{tmp}/src", f"{tmp}/out", f"{tmp}/ckpt"
    archives.coalesce(2).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema("path string, content binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = crawl_ingest_stream(stream, seen, out, ckpt)
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("q140 streaming crawl ingest did not finish in 300s")
    return spark.read.parquet(out).select("doc_id", "digest").orderBy("doc_id")


def q140_sql() -> str:
    return """
    SELECT doc_id,
           md5('HTTP/1.1 200 OK' || chr(13) || chr(10) ||
               'Content-Type: text/plain' || chr(13) || chr(10) ||
               chr(13) || chr(10) || text) AS digest
    FROM documents
    WHERE doc_id >= 100 AND doc_id < 200
    ORDER BY doc_id
    """


def q141_dense_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series GAP FILLING — the dense-timeline op dashboards and
    forecasting features need (TimescaleDB's time_bucket_gapfill
    shape, complementing q61's sparse rollup): every (event_type,
    hour) slot between the GLOBAL min and max hour exists in the
    output, zero-filled when no events landed there, plus a
    carry-forward flag. The hour spine is sequence()+explode of the
    global bounds CROSS JOINed with the type dim — generated, never
    scanned; the fact side remains one partial-agg shuffle.
    Integer-exact (hour indices, counts, micro-value sums)."""
    events = _t(spark, sf_dir, "events")
    hour = (
        F.expr(f"({ts_unix_micros_sql('ts')}) div {3600 * 1_000_000}L")
    ).alias("h")
    facts = events.select("event_type", hour, F.col("value")).groupBy(
        "event_type", "h"
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.round(F.col("value") * 1_000_000).cast("bigint")).alias("sum_micro"),
    )
    bounds = events.select(hour).agg(
        F.min("h").alias("lo"), F.max("h").alias("hi")
    )
    types = events.select("event_type").distinct()
    spine = types.crossJoin(F.broadcast(bounds)).select(
        "event_type", F.explode(F.sequence("lo", "hi")).alias("h")
    )
    return (
        spine.join(facts, ["event_type", "h"], "left")
        .select(
            "event_type",
            F.col("h").cast("long").alias("hour_idx"),
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
            F.coalesce(F.col("sum_micro"), F.lit(0)).cast("long").alias("sum_micro"),
            (F.col("n").isNull()).alias("gap_filled"),
        )
        .orderBy("event_type", "hour_idx")
    )


def q141_sql() -> str:
    span_us = 3600 * 1_000_000
    return f"""
    WITH e AS (
      SELECT event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) // {span_us} AS h,
             value
      FROM events
    ), facts AS (
      SELECT event_type, h,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS BIGINT) AS sum_micro
      FROM e GROUP BY event_type, h
    ), bounds AS (
      SELECT MIN(h) AS lo, MAX(h) AS hi FROM e
    ), spine AS (
      SELECT t.event_type, s.h
      FROM (SELECT DISTINCT event_type FROM e) t
      CROSS JOIN (SELECT unnest(generate_series(lo, hi)) AS h FROM bounds) s
    )
    SELECT spine.event_type,
           CAST(spine.h AS BIGINT) AS hour_idx,
           CAST(COALESCE(facts.n, 0) AS BIGINT) AS n,
           CAST(COALESCE(facts.sum_micro, 0) AS BIGINT) AS sum_micro,
           facts.n IS NULL AS gap_filled
    FROM spine LEFT JOIN facts
      ON spine.event_type = facts.event_type AND spine.h = facts.h
    ORDER BY spine.event_type, hour_idx
    """


def q142_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across file generations — the reality of any
    long-lived 100 TB table: generation v1 writes (doc_id, lang),
    generation v2 adds a `quality` column; the union is read back
    from the actual files with mergeSchema, so old files surface the
    new column as NULL. The audit aggregates per (lang, generation):
    counts, null-count of the late column, and its sum where present
    — proving v1 rows are neither dropped nor fabricated values.
    Spark-native path: parquet mergeSchema (schema-on-read), the
    mechanism Delta/Iceberg formalize."""
    import tempfile

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    tmp = tempfile.mkdtemp(prefix="sb_q142_")
    v1 = docs.where(F.col("doc_id") % 2 == 0).select(
        "doc_id", "lang", F.lit("v1").alias("gen")
    )
    v2 = docs.where(F.col("doc_id") % 2 == 1).select(
        "doc_id",
        "lang",
        F.lit("v2").alias("gen"),
        F.col("n_chars").cast("long").alias("quality"),
    )
    v1.write.mode("overwrite").parquet(f"{tmp}/gen=1")
    v2.write.mode("overwrite").parquet(f"{tmp}/gen=2")
    back = spark.read.option("mergeSchema", True).parquet(f"{tmp}/gen=1", f"{tmp}/gen=2")
    return (
        back.groupBy("lang", "gen")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.col("quality").isNull().cast("int")).cast("long").alias("n_null_quality"),
            F.coalesce(F.sum("quality"), F.lit(0)).cast("long").alias("sum_quality"),
        )
        .orderBy("lang", "gen")
    )


def q142_sql() -> str:
    return """
    WITH g AS (
      SELECT lang, 'v1' AS gen, NULL::BIGINT AS quality
      FROM documents WHERE doc_id % 2 = 0
      UNION ALL
      SELECT lang, 'v2', CAST(n_chars AS BIGINT)
      FROM documents WHERE doc_id % 2 = 1
    )
    SELECT lang, gen,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN quality IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null_quality,
           CAST(COALESCE(SUM(quality), 0) AS BIGINT) AS sum_quality
    FROM g GROUP BY lang, gen
    ORDER BY lang, gen
    """


def q143_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transaction-log TIME TRAVEL — the Delta/Iceberg snapshot
    reconstruction primitive, completing the table-format family
    (q76 MERGE, q112 CDC diff, q97 compaction, q142 schema
    evolution): a commit log of ADD/REMOVE file actions is replayed
    to the live file set AT EVERY VERSION. Log synthesized from
    documents (file i ADDed at version i%5, REMOVEd two versions
    later when i%7=0); live(V) = added<=V and not removed<=V.
    The reconstruction is one range-join-free pass: per version
    audit rows with live count, span and checksum — a pure function
    of the log, replayable anywhere."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    add_v = (F.col("doc_id") % 5).cast("int")
    rem_v = F.when(F.col("doc_id") % 7 == 0, add_v + 2).otherwise(F.lit(None))
    log = docs.select(
        F.col("doc_id").alias("file_id"),
        add_v.alias("add_version"),
        rem_v.cast("int").alias("remove_version"),
    )
    versions = spark.range(0, 7).select(F.col("id").cast("int").alias("version"))
    chk = F.conv(F.substring(F.md5(F.col("file_id").cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    live = log.crossJoin(F.broadcast(versions)).where(
        (F.col("add_version") <= F.col("version"))
        & (
            F.col("remove_version").isNull()
            | (F.col("remove_version") > F.col("version"))
        )
    )
    return (
        live.groupBy("version")
        .agg(
            F.count("*").cast("long").alias("n_live"),
            F.min("file_id").alias("min_file"),
            F.max("file_id").alias("max_file"),
            F.sum(chk).cast("long").alias("checksum"),
        )
        .orderBy("version")
    )


def q143_sql() -> str:
    return """
    WITH log AS (
      SELECT doc_id AS file_id,
             CAST(doc_id % 5 AS INT) AS add_version,
             CASE WHEN doc_id % 7 = 0 THEN CAST(doc_id % 5 + 2 AS INT) END
               AS remove_version
      FROM documents
    ), v AS (
      SELECT unnest(generate_series(0, 6)) AS version
    )
    SELECT CAST(version AS INT) AS version,
           CAST(COUNT(*) AS BIGINT) AS n_live,
           MIN(file_id) AS min_file,
           MAX(file_id) AS max_file,
           CAST(SUM(CAST('0x' || substr(md5(CAST(file_id AS VARCHAR)), 1, 8)
                         AS BIGINT)) AS BIGINT) AS checksum
    FROM log JOIN v
      ON add_version <= version
     AND (remove_version IS NULL OR remove_version > version)
    GROUP BY version
    ORDER BY version
    """


COLLOC_TOPK = 50
COLLOC_MIN_COUNT = 5


def q144_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction — corpus bigrams ranked by an
    integer-scaled PMI surrogate (Church & Hanks 1990): score =
    (c_ab * N * 1000) div (c_a * c_b), a monotone transform of
    exp(PMI) so the ranking is PMI's ranking with NO transcendentals
    (the q62 ratio-idf convention). Min-count floor kills the
    hapax-pair degeneracy; deterministic (score desc, w1, w2) total
    order; compiles to TakeOrdered — no global sort. Reuses q127's
    instance/unigram tables: one explode pass, two partial-agg
    shuffles, a broadcast-sized totals row."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.filter(
        F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "),
        lambda t: t != "",
    )
    nn = F.size(toks)
    pairs = F.zip_with(
        F.slice(toks, 1, F.greatest(nn - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(nn - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    inst = docs.select(F.explode(pairs).alias("bg")).select(
        F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2")
    )
    inst.persist()
    c2 = inst.groupBy("w1", "w2").agg(F.count("*").alias("c_ab"))
    c_left = inst.groupBy("w1").agg(F.count("*").alias("c_a"))
    c_right = inst.groupBy("w2").agg(F.count("*").alias("c_b"))
    total = inst.count()
    scored = (
        c2.where(F.col("c_ab") >= COLLOC_MIN_COUNT)
        .join(c_left, "w1")
        .join(c_right, "w2")
        .withColumn(
            "pmi_scaled",
            F.floor(
                F.col("c_ab") * F.lit(total) * F.lit(1000)
                / (F.col("c_a") * F.col("c_b"))
            ).cast("bigint"),
        )
    )
    out = (
        scored.orderBy(F.desc("pmi_scaled"), "w1", "w2")
        .limit(COLLOC_TOPK)
        .select("w1", "w2", F.col("c_ab").cast("long").alias("c_ab"), "pmi_scaled")
    )
    # Pin the top-k (tiny) result and release the corpus-sized bigram
    # cache — a bare persist here would leak for the session's life.
    # persist+count, not localCheckpoint (RDD path bypasses AQE).
    out = out.persist()
    out.count()
    inst.unpersist()
    return out


def q144_sql() -> str:
    toks = (
        "list_filter(string_split(trim(regexp_replace(lower(text), "
        "'\\s+', ' ', 'g')), ' '), x -> x <> '')"
    )
    return f"""
    WITH t AS (
      SELECT doc_id, {toks} AS toks FROM documents
    ), inst AS (
      SELECT toks[i] AS w1, toks[i+1] AS w2
      FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i)
    ), c2 AS (
      SELECT w1, w2, COUNT(*) AS c_ab FROM inst GROUP BY w1, w2
    ), ca AS (
      SELECT w1, COUNT(*) AS c_a FROM inst GROUP BY w1
    ), cb AS (
      SELECT w2, COUNT(*) AS c_b FROM inst GROUP BY w2
    ), n AS (
      SELECT COUNT(*) AS total FROM inst
    )
    SELECT w1, w2, CAST(c_ab AS BIGINT) AS c_ab,
           CAST(FLOOR(c_ab * total * 1000.0 / (c_a * c_b)) AS BIGINT)
             AS pmi_scaled
    FROM c2 JOIN ca USING (w1) JOIN cb USING (w2) CROSS JOIN n
    WHERE c_ab >= {COLLOC_MIN_COUNT}
    ORDER BY pmi_scaled DESC, w1, w2
    LIMIT {COLLOC_TOPK}
    """


KEYWORDS_PER_DOC = 3


def q145_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction — the top-k most characteristic terms
    per document (the classic doc-representation op; q62's BM25 ranks
    DOCS for a query, this ranks TERMS for a doc). Ratio-idf integer
    scoring (q62's transcendental-free convention): score =
    (tf * N_docs * 1000) div df — monotone in tf*idf, bit-exact
    anywhere. df counts DISTINCT docs per term (partial-agg shuffle);
    the per-doc rank window partitions on doc_id. Deterministic
    (score desc, term asc) tie-break."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 100).select(
        "doc_id", "text"
    )
    toks = F.filter(
        F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "),
        lambda t: t != "",
    )
    inst = docs.select("doc_id", F.explode(toks).alias("term"))
    tf = inst.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_tbl = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.count()
    scored = tf.join(df_tbl, "term").withColumn(
        "score",
        F.floor(F.col("tf") * F.lit(n_docs) * F.lit(1000) / F.col("df")).cast(
            "bigint"
        ),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= KEYWORDS_PER_DOC)
        .select("doc_id", "rank", "term", F.col("tf").cast("long").alias("tf"), "score")
        .orderBy("doc_id", "rank")
    )


def q145_sql() -> str:
    toks = (
        "list_filter(string_split(trim(regexp_replace(lower(text), "
        "'\\s+', ' ', 'g')), ' '), x -> x <> '')"
    )
    return f"""
    WITH d AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 100
    ), inst AS (
      SELECT doc_id, unnest({toks}) AS term FROM d
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM inst GROUP BY doc_id, term
    ), dfb AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), n AS (
      SELECT COUNT(*) AS n_docs FROM d
    ), scored AS (
      SELECT doc_id, term, tf,
             CAST(FLOOR(tf * n_docs * 1000.0 / df) AS BIGINT) AS score
      FROM tf JOIN dfb USING (term) CROSS JOIN n
    )
    SELECT doc_id, rank, term, CAST(tf AS BIGINT) AS tf, score FROM (
      SELECT doc_id, term, tf, score,
             CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                     ORDER BY score DESC, term) AS INT) AS rank
      FROM scored
    ) WHERE rank <= {KEYWORDS_PER_DOC}
    ORDER BY doc_id, rank
    """


BATCH_TOKEN_BUDGET = 4096


def q146_inference_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed INFERENCE batching — the serving-side packing
    problem (q38 packs training tokens contiguously; an inference
    server instead groups similar-length sequences and pads to the
    bucket): each doc's whitespace token count rounds up to a
    power-of-two bucket; a bucket's batch capacity is budget div
    bucket_len; batch_id = rank-within-bucket div capacity (md5 rank —
    deterministic, partition-independent). The audit reports per
    (bucket, batch): size, real tokens, and PADDING WASTE
    (bucket_len * n - real) — the utilization number batching exists
    to optimize. One shuffle on the bucket key; rank windows partition
    per bucket."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ntok = F.size(
        F.filter(
            F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "),
            lambda t: t != "",
        )
    )
    # next power of two >= ntok, via the BIT LENGTH of (n-1) — exact
    # integer arithmetic (float log2 of exact powers of two rounds
    # differently across engines; ceil would then be off by one)
    sized = docs.select(
        "doc_id",
        ntok.cast("int").alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("_m"),
    ).withColumn(
        "bucket",
        F.expr(
            "CAST(CASE WHEN n_tokens <= 1 THEN 1 "
            "ELSE shiftleft(1, length(bin(n_tokens - 1))) END AS INT)"
        ),
    )
    w = Window.partitionBy("bucket").orderBy("_m", "doc_id")
    cap = F.greatest(
        (F.lit(BATCH_TOKEN_BUDGET) / F.col("bucket")).cast("int"), F.lit(1)
    )
    assigned = sized.withColumn("rk", F.row_number().over(w) - 1).withColumn(
        "batch_id", (F.col("rk") / cap).cast("int")
    )
    return (
        assigned.groupBy("bucket", "batch_id")
        .agg(
            F.count("*").cast("long").alias("n_seqs"),
            F.sum("n_tokens").cast("long").alias("real_tokens"),
        )
        .withColumn(
            "padding_waste",
            (F.col("bucket").cast("long") * F.col("n_seqs") - F.col("real_tokens")).cast(
                "long"
            ),
        )
        .orderBy("bucket", "batch_id")
    )


def q146_sql() -> str:
    toks = (
        "list_filter(string_split(trim(regexp_replace(lower(text), "
        "'\\s+', ' ', 'g')), ' '), x -> x <> '')"
    )
    return f"""
    WITH sized AS (
      SELECT doc_id,
             CAST(len({toks}) AS INT) AS n_tokens,
             CAST(CASE WHEN len({toks}) <= 1 THEN 1
                       ELSE (1 << length(bin(len({toks}) - 1))) END AS INT) AS bucket,
             md5(CAST(doc_id AS VARCHAR)) AS m
      FROM documents
    ), assigned AS (
      SELECT doc_id, n_tokens, bucket,
             CAST((ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY m, doc_id) - 1)
                  // GREATEST({BATCH_TOKEN_BUDGET} // bucket, 1) AS INT) AS batch_id
      FROM sized
    )
    SELECT bucket, batch_id,
           CAST(COUNT(*) AS BIGINT) AS n_seqs,
           CAST(SUM(n_tokens) AS BIGINT) AS real_tokens,
           CAST(bucket * COUNT(*) - SUM(n_tokens) AS BIGINT) AS padding_waste
    FROM assigned GROUP BY bucket, batch_id
    ORDER BY bucket, batch_id
    """


def q147_persisted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector index PERSISTENCE: q88's IVF-PQ index written to disk as
    a cell-PARTITIONED parquet table (the production layout — a probe
    of nprobe cells touches only those cells' files; with dynamic
    partition pruning the unprobed partitions are never read), read
    back from the files, and queried. Results must hash-match q88's
    oracle exactly — the on-disk round trip of (vec_id, cell, pq_code)
    including the partition-column type round trip is what's gated;
    build-once query-many is the whole point of an index."""
    import tempfile

    from swiftbeaver_spark.llm.similarity import ivfpq_encode, ivfpq_topk

    cents = _ivfpq_cents()
    books = _pq_books()
    emb = _t(spark, sf_dir, "embeddings")
    codes = ivfpq_encode(emb, cents, books, round_dp=6)
    tmp = tempfile.mkdtemp(prefix="sb_q147_")
    codes.select("vec_id", "cell", "pq_code").write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(tmp)
    back = spark.read.parquet(tmp).select(
        "vec_id", F.col("cell").cast("int").alias("cell"), "pq_code"
    )
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = ivfpq_topk(
        back, queries, cents, books,
        k=IVFPQ_TOPK, nprobe=IVFPQ_NPROBE, round_scores=6,
    )
    return out.select(
        "query_id",
        "vec_id",
        F.format_string("%.6f", F.col("adc_dist")).alias("adc_dist"),
        "rank",
    ).orderBy("query_id", "rank")


def q148_watermark_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WATERMARK LATE-DATA SEMANTICS under the hash gate — the one
    Structured Streaming behavior q47/q52 never exercised (their
    single batch starts at watermark -inf, so nothing is ever late).
    Files with EXPLICIT ascending mtimes (os.utime — no sleeps)
    consumed oldest-first one per trigger (maxFilesPerTrigger=1):
    batch 1 = even-event_id rows, batch 2 = a filler row at
    max(even ts) (measured here: the input-side late filter uses the
    watermark from TWO batches back, so the even-batch watermark is
    active only from batch 3 on), batch 3 = odd rows — those whose 1h
    window closed below max(even ts) - 1 min MUST be dropped — batch 4
    = the far-future sentinel closing every window. The oracle replays
    the drop rule closed-form: an odd row survives iff its window end
    > max(even ts) - 60s. Counts per (window, type) therefore differ
    from the naive GROUP BY by exactly the late rows."""
    import os
    import shutil
    import tempfile

    events = _t(spark, sf_dir, "events").select("event_id", "event_type", "ts")
    tmp = tempfile.mkdtemp(prefix="sb_q148_")
    src, out, ckpt = f"{tmp}/src", f"{tmp}/out", f"{tmp}/ckpt"
    os.makedirs(src)

    def write_one(df, name, mtime):
        d = f"{tmp}/_{name}"
        df.coalesce(1).write.mode("overwrite").parquet(d)
        part = next(f for f in os.listdir(d) if f.endswith(".parquet"))
        dst = f"{src}/{name}.parquet"
        shutil.copyfile(f"{d}/{part}", dst)
        os.utime(dst, (mtime, mtime))

    even = events.where(F.col("event_id") % 2 == 0).select("event_type", "ts")
    odd = events.where(F.col("event_id") % 2 == 1).select("event_type", "ts")
    filler = even.agg(
        F.lit("__filler__").alias("event_type"), F.max("ts").alias("ts")
    )
    sentinel = events.agg(
        F.lit("__sentinel__").alias("event_type"),
        (F.max("ts") + F.expr("INTERVAL 100 DAYS")).alias("ts"),
    )
    t0 = 1_600_000_000
    write_one(even, "b1", t0)
    write_one(filler, "b2", t0 + 1000)
    write_one(odd, "b3", t0 + 2000)
    write_one(sentinel, "b4", t0 + 3000)
    stream = (
        spark.readStream.schema("event_type string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = (
        stream.withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
    )
    q = (
        agg.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("q148 watermark stream did not finish in 300s")
    return (
        spark.read.parquet(out)
        .where(~F.col("event_type").isin("__sentinel__", "__filler__"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            F.col("n_events").cast("long").alias("n_events"),
        )
        .orderBy("win_start", "event_type")
    )


def q148_sql() -> str:
    # watermark after batch 1 = max(even ts) - 60s; an odd row is kept
    # iff its window END (hour start + 1h) is above that watermark
    return """
    WITH wm AS (
      SELECT MAX(ts) - INTERVAL 60 SECOND AS w
      FROM events WHERE event_id % 2 = 0
    ), kept AS (
      SELECT event_type, ts FROM events WHERE event_id % 2 = 0
      UNION ALL
      SELECT event_type, ts FROM events, wm
      WHERE event_id % 2 = 1
        AND date_trunc('hour', ts) + INTERVAL 1 HOUR > wm.w
    )
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM kept
    GROUP BY date_trunc('hour', ts), event_type
    ORDER BY win_start, event_type
    """


def q149_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM LEFT OUTER interval join under the hash gate —
    q53's inner join completed with the outer semantics only a
    streaming engine makes interesting: a purchase with NO view in
    its 4-hour lookback emits (purchase, NULL) only after the
    watermark proves no matching view can still arrive. Far-future
    sentinel rows on BOTH streams advance the global watermark so
    every real purchase's window provably closes (the sentinels'
    own windows never close, so they self-exclude from the append
    output). The oracle is a plain LEFT JOIN with the identical
    interval predicate: streaming-with-watermarks and batch must
    agree row-for-row, nulls included."""
    import tempfile

    events = _t(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="sb_q149_")
    psrc, vsrc, out, ckpt = f"{tmp}/p", f"{tmp}/v", f"{tmp}/out", f"{tmp}/ckpt"
    far = F.expr("INTERVAL 100 DAYS")
    p = events.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_event"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    p_sent = events.agg(
        F.lit(-1).cast("long").alias("p_event"),
        F.lit(-1).cast("long").alias("p_user"),
        (F.max("ts") + far).alias("p_ts"),
    )
    v = events.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("v_event"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    )
    v_sent = events.agg(
        F.lit(-2).cast("long").alias("v_event"),
        F.lit(-2).cast("long").alias("v_user"),
        (F.max("ts") + far).alias("v_ts"),
    )
    p.unionByName(p_sent).write.mode("overwrite").parquet(psrc)
    v.unionByName(v_sent).write.mode("overwrite").parquet(vsrc)
    purchases = (
        spark.readStream.schema("p_event long, p_user long, p_ts timestamp")
        .parquet(psrc)
        .withWatermark("p_ts", "1 minute")
    )
    views = (
        spark.readStream.schema("v_event long, v_user long, v_ts timestamp")
        .parquet(vsrc)
        .withWatermark("v_ts", f"{STREAM_JOIN_HOURS + 1} hours")
    )
    joined = purchases.join(
        views,
        F.expr(
            f"""p_user = v_user AND
                v_ts BETWEEN p_ts - INTERVAL {STREAM_JOIN_HOURS} HOURS
                         AND p_ts"""
        ),
        "leftOuter",
    )
    q = (
        joined.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("q149 stream outer join did not finish in 300s")
    res = spark.read.parquet(out).where(F.col("p_event") >= 0)
    return res.select(
        "p_event",
        "p_user",
        F.col("v_event").cast("long").alias("v_event"),
        F.when(
            F.col("v_ts").isNotNull(),
            F.expr("CAST(unix_micros(p_ts) - unix_micros(v_ts) AS BIGINT)"),
        ).alias("lag_us"),
    ).orderBy("p_event", "v_event")


def q149_sql() -> str:
    return f"""
    SELECT p.event_id AS p_event,
           p.user_id AS p_user,
           v.event_id AS v_event,
           CASE WHEN v.event_id IS NOT NULL THEN
             epoch_us(CAST(p.ts AS TIMESTAMP))
               - epoch_us(CAST(v.ts AS TIMESTAMP)) END AS lag_us
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id
     AND CAST(v.ts AS TIMESTAMP)
         BETWEEN CAST(p.ts AS TIMESTAMP) - INTERVAL {STREAM_JOIN_HOURS} HOUR
             AND CAST(p.ts AS TIMESTAMP)
    ORDER BY p_event, v_event
    """


def q150_feature_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store MATERIALIZATION: every per-document curation
    signal the pipeline consumes — char/token/distinct-token/punct
    counts, per-language marker votes, detected language, content
    digest, pinned winnowing fingerprint — computed in ONE projection
    over ONE scan (the pattern that replaces N single-signal passes
    with one at 100 TB). All integer/string outputs; the oracle
    recomputes each signal from the same token list.

    The projection is the catalog's densest per-row compute (one md5
    per character position via fingerprint_pinned), so the range
    exchange for the final doc_id order sits BELOW it (_presort):
    compute runs once at full parallelism instead of twice on the
    scan's 1-2 splits — 31.5 s -> ~1.2 s at sf0.1 (r14)."""
    from swiftbeaver_spark.llm.text import detect_language, fingerprint_pinned, tokens

    docs = _presort(
        _t(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    c = F.col("text")
    toks = tokens(c)
    dtoks = F.array_distinct(toks)
    en = F.array(*[F.lit(w) for w in LANGS["en"]])
    return docs.select(
        "doc_id",
        F.length(c).cast("int").alias("n_chars"),
        F.size(toks).cast("int").alias("n_tokens"),
        F.size(dtoks).cast("int").alias("n_distinct"),
        F.size(F.regexp_extract_all(c, F.lit(r"[^\w\s]"), F.lit(0)))
        .cast("int")
        .alias("n_punct"),
        F.size(F.array_intersect(dtoks, en)).cast("int").alias("en_votes"),
        detect_language(c).alias("lang_detected"),
        F.md5(c).alias("digest"),
        fingerprint_pinned(c).alias("fingerprint"),
    ).sortWithinPartitions("doc_id")


def q150_sql() -> str:
    score_cols = ", ".join(
        f"CAST(len(list_intersect(dtoks, [{', '.join(repr(w) for w in words)}])) AS INT)"
        f" AS score_{lang}"
        for lang, words in LANGS.items()
    )
    first = " ".join(f"WHEN score_{lang} = m THEN '{lang}'" for lang in LANGS)
    fp = (
        "md5(array_to_string(list_slice(list_sort("
        "list_transform(list_distinct(list_transform("
        "generate_series(1, greatest(length(norm) - 15, 1)), "
        "i -> substr(norm, i, 16))), s -> md5(s))), 1, 8), ','))"
    )
    return f"""
    WITH base AS (
      SELECT doc_id, text,
             list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '')
               AS toks,
             list_distinct(list_filter(string_split_regex(lower(text), '\\s+'),
                                       t -> t != '')) AS dtoks,
             trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
      FROM documents
    ), scored AS (
      SELECT doc_id, text, toks, dtoks, norm, {score_cols}
      FROM base
    )
    SELECT doc_id,
           CAST(length(text) AS INT) AS n_chars,
           CAST(len(toks) AS INT) AS n_tokens,
           CAST(len(dtoks) AS INT) AS n_distinct,
           CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS INT) AS n_punct,
           score_en AS en_votes,
           CASE WHEN m = 0 THEN 'und' {first} ELSE 'und' END AS lang_detected,
           md5(text) AS digest,
           {fp} AS fingerprint
    FROM (
      SELECT *, greatest(score_en, score_de, score_es, score_fr) AS m
      FROM scored
    )
    ORDER BY doc_id
    """


SEMDECON_TAU = 0.95


def q151_semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC benchmark decontamination — the embedding-space analog
    of q42/q117's n-gram overlap (the leakage n-grams can't see:
    paraphrased eval items): drop a training vector when its rounded
    cosine to ANY benchmark vector reaches tau. Bench = vec_id < 20
    (broadcast — eval sets are small by nature, so the scan is
    map-only over the corpus at any scale); planted 2x-scaled bench
    copies at +1e6 have cosine exactly 1.0 and MUST drop. Output is
    the per-vector audit (kept/dropped + max bench cosine), so every
    decision is hash-gated."""
    emb = _t(spark, sf_dir, "embeddings")
    bench = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("b_id"),
        F.col("embedding").cast("array<double>").alias("b_vec"),
    )
    planted = emb.where(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x * F.lit(2.0)).alias("embedding"),
    )
    train = (
        emb.where(F.col("vec_id") >= 20)
        .select("vec_id", "embedding")
        .unionByName(planted)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("vec"))
    )
    from swiftbeaver_spark.llm.similarity import cosine_similarity

    cos = F.round(cosine_similarity(F.col("vec"), F.col("b_vec")), 6)
    scored = (
        train.crossJoin(F.broadcast(bench))
        .select("vec_id", cos.alias("cos"))
        .groupBy("vec_id")
        .agg(F.max("cos").alias("max_bench_cos"))
    )
    return scored.select(
        "vec_id",
        F.format_string("%.6f", F.col("max_bench_cos")).alias("max_bench_cos"),
        (F.col("max_bench_cos") >= SEMDECON_TAU).alias("dropped"),
    ).orderBy("vec_id")


def q151_sql() -> str:
    return f"""
    WITH bench AS (
      SELECT vec_id AS b_id, CAST(embedding AS DOUBLE[]) AS bv
      FROM embeddings WHERE vec_id < 20
    ), train AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id >= 20
      UNION ALL
      SELECT vec_id + 1000000,
             list_transform(CAST(embedding AS DOUBLE[]), x -> x * 2.0)
      FROM embeddings WHERE vec_id < 10
    ), scored AS (
      SELECT t.vec_id,
             MAX(ROUND(list_dot_product(t.v, b.bv) /
                       (sqrt(list_dot_product(t.v, t.v)) *
                        sqrt(list_dot_product(b.bv, b.bv))), 6)) AS mc
      FROM train t CROSS JOIN bench b
      GROUP BY t.vec_id
    )
    SELECT vec_id, printf('%.6f', mc) AS max_bench_cos,
           mc >= {SEMDECON_TAU} AS dropped
    FROM scored ORDER BY vec_id
    """


def q152_cluster_best_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster representative by QUALITY — production near-dup dedup
    keeps the BEST member of each duplicate cluster, not the smallest
    id (q36's canonical-min policy): over the same synthesized pair
    graph, elect per connected component the member with max n_chars
    (doc_id tiebreak). The oracle recomputes components with a
    recursive CTE and replays the argmax election — so both the
    iterative min-label fixpoint AND the quality policy are gated.
    One extra component-key window over q36's cost."""
    from swiftbeaver_spark.llm.cluster import connected_components

    docs = _t(spark, sf_dir, "documents")
    comps = connected_components(_q36_edges_spark(docs))
    quality = docs.select("doc_id", F.col("n_chars").cast("int").alias("quality"))
    joined = comps.join(quality, "doc_id")
    w = Window.partitionBy("component").orderBy(F.desc("quality"), "doc_id")
    return (
        joined.withColumn("rk", F.row_number().over(w))
        .select(
            "doc_id",
            "component",
            "quality",
            (F.col("rk") == 1).alias("kept_best"),
        )
        .orderBy("doc_id")
    )


def q152_sql() -> str:
    # q36's recursive component ground truth + per-component argmax
    return """
    WITH RECURSIVE e0 AS (
      SELECT doc_id AS a, doc_id + 1 AS b FROM documents WHERE doc_id < 60 AND doc_id % 5 <> 4
      UNION ALL
      SELECT doc_id, doc_id + 2 FROM documents WHERE doc_id < 60 AND doc_id % 10 = 0
      UNION ALL
      SELECT doc_id + 4, doc_id FROM documents WHERE doc_id < 60 AND doc_id % 20 = 0
    ), edges AS (
      SELECT a, b FROM e0 UNION SELECT b, a FROM e0
    ), nodes AS (
      SELECT DISTINCT a AS n FROM edges
    ), r(n, c) AS (
      SELECT n, n FROM nodes
      UNION
      SELECT e.a, r.c FROM r JOIN edges e ON e.b = r.n WHERE r.c < e.a
    ), comp AS (
      SELECT n AS doc_id, MIN(c) AS component FROM r GROUP BY n
    ), q AS (
      SELECT comp.doc_id, comp.component, CAST(d.n_chars AS INT) AS quality
      FROM comp JOIN documents d ON comp.doc_id = d.doc_id
    )
    SELECT doc_id, component, quality,
           ROW_NUMBER() OVER (PARTITION BY component
                              ORDER BY quality DESC, doc_id) = 1 AS kept_best
    FROM q
    ORDER BY doc_id
    """


def _q153_png_constants() -> tuple[str, str]:
    """(signature+IHDR hex, IEND hex) for a 4x2 8-bit RGB PNG — fixed
    chunks with real CRCs, computed once driver-side."""
    import struct as _s
    import zlib as _z

    def chunk(t: bytes, b: bytes) -> bytes:
        return _s.pack(">I", len(b)) + t + b + _s.pack(">I", _z.crc32(t + b))

    ihdr = chunk(b"IHDR", _s.pack(">IIBBBBB", 4, 2, 8, 2, 0, 0, 0))
    iend = chunk(b"IEND", b"")
    return (b"\x89PNG\r\n\x1a\x0a" + ihdr).hex(), iend.hex()


def q153_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode under the oracle (llm/multimodal.py::
    png_pixels — stdlib zlib inflate + scanline unfilter, no imaging
    library): per doc a COMPLETE valid 4x2 RGB PNG is built in SQL —
    stored-mode deflate blocks make the IDAT constructible byte-wise,
    the adler32 is closed-form integer arithmetic over the md5-derived
    pixel bytes, and the chunk CRC computed with the built-in crc32 —
    then the real decoder + resampler emit a 2x1 24-bit BMP whose
    every byte the oracle predicts (nearest-neighbor picks pixels
    (0,0) and (0,2); RGB->BGR reorder included). PNG thereby leaves
    the codec stub the way BMP did in q99."""
    from swiftbeaver_spark.llm.multimodal import resize_images

    head_hex, iend_hex = _q153_png_constants()
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)

    def px_hex(y: int, x: int) -> Column:
        return F.substring(
            F.md5(
                F.concat_ws(
                    ":", F.col("doc_id").cast("string"), F.lit(str(y)), F.lit(str(x))
                )
            ),
            1,
            6,
        )

    # raw scanlines (top-down): filter byte 00 + 4 RGB pixels per row
    raw_parts = []
    byte_exprs = []  # (expr for byte value as int) in stream order
    for y in range(2):
        raw_parts.append(F.lit("00"))
        byte_exprs.append(F.lit(0))
        for x in range(4):
            h = px_hex(y, x)
            raw_parts.append(h)
            for ch in range(3):
                byte_exprs.append(
                    F.conv(F.substring(h, 1 + 2 * ch, 2), 16, 10).cast("long")
                )
    raw_hex = F.concat(*raw_parts)
    L = len(byte_exprs)  # 26
    s1 = F.lit(1)
    s2 = F.lit(L)
    for i, b in enumerate(byte_exprs, start=1):
        s1 = s1 + b
        s2 = s2 + F.lit(L - i + 1) * b
    adler_hex = F.format_string("%04x%04x", (s2 % 65521).cast("int"), (s1 % 65521).cast("int"))
    # zlib stream: header 7801, stored-final block (01), LEN/NLEN LE
    zstream_hex = F.concat(
        F.lit("7801" + "01" + "1a00" + "e5ff"), raw_hex, adler_hex
    )
    idat_len = 2 + 5 + L + 4  # header + stored hdr + raw + adler
    crc = F.crc32(F.unhex(F.concat(F.lit("49444154"), zstream_hex)))
    idat_hex = F.concat(
        F.lit(f"{idat_len:08x}" + "49444154"),
        zstream_hex,
        F.format_string("%08x", crc),  # crc32 yields a non-negative BIGINT
    )
    payload = F.unhex(
        F.concat(F.lit(head_hex), idat_hex, F.lit(iend_hex))
    )
    media = docs.select(F.col("doc_id").alias("media_id"), payload.alias("payload"))
    out = resize_images(media, 2, 1)
    return out.select(
        "media_id",
        "width",
        "height",
        F.lower(F.hex("payload")).alias("payload_hex"),
        "status",
    ).orderBy("media_id")


def q153_sql() -> str:
    out_hdr = _q99_bmp_hex(0, 2, 1)
    bgr = (
        "substr(md5(CAST(doc_id AS VARCHAR) || ':0:{x}'), 5, 2) || "
        "substr(md5(CAST(doc_id AS VARCHAR) || ':0:{x}'), 3, 2) || "
        "substr(md5(CAST(doc_id AS VARCHAR) || ':0:{x}'), 1, 2)"
    )
    return f"""
    SELECT doc_id AS media_id, 2 AS width, 1 AS height,
           '{out_hdr}' || {bgr.format(x=0)} || {bgr.format(x=2)} || '0000'
             AS payload_hex,
           'resized' AS status
    FROM documents WHERE doc_id < 200
    ORDER BY media_id
    """


def q154_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-window PCM energy features (llm/multimodal.py::
    audio_window_energy) — the voice-activity / silence-trim signal
    an audio curation pipeline filters on, ALL-INTEGER (sum of squared
    amplitudes + peak): the q101 WAVs are 16-BIT mono (block_align 2),
    so each 1 s window's 8 md5-derived bytes decode as four signed
    little-endian samples; the real fmt/data walk and window math run,
    and the oracle recomputes every window's energy and peak from the
    same hex bytes closed-form (lo + 256*hi, two's complement)."""
    from swiftbeaver_spark.llm.multimodal import audio_window_energy

    hdr = _q101_wav_header_hex()
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    pcm_hex = F.substring(
        F.concat(
            F.md5(F.format_string("a:%d", F.col("doc_id"))),
            F.md5(F.format_string("b:%d", F.col("doc_id"))),
        ),
        1,
        2 * _Q101_PCM_BYTES,
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.unhex(F.concat(F.lit(hdr), pcm_hex)).alias("payload"),
    )
    return audio_window_energy(media, window_ms=1000).orderBy(
        "media_id", "window_idx"
    )


def q154_sql() -> str:
    rows = []
    hx = "md5(printf('a:%d', doc_id)) || md5(printf('b:%d', doc_id))"
    for i in range(3):
        # window i = bytes 8i..8i+7 -> 4 signed 16-bit LE samples
        raw = (
            f"[CAST('0x' || substr({hx}, {16 * i} + 4*j - 3, 2) AS BIGINT)"
            f" + 256 * CAST('0x' || substr({hx}, {16 * i} + 4*j - 1, 2) AS BIGINT)"
            f" for j in generate_series(1, 4)]"
        )
        b = f"list_transform({raw}, v -> CASE WHEN v >= 32768 THEN v - 65536 ELSE v END)"
        rows.append(
            f"SELECT doc_id AS media_id, {i} AS window_idx,"
            f" CAST({i * 1000} AS BIGINT) AS t_ms,"
            f" 4 AS n_samples,"
            f" CAST(list_sum(list_transform({b}, x -> x * x)) AS BIGINT) AS energy,"
            f" CAST(list_max(list_transform({b}, x -> abs(x))) AS INT) AS peak,"
            f" 'ok' AS status"
            f" FROM documents WHERE doc_id < 100"
        )

    return " UNION ALL ".join(rows) + " ORDER BY media_id, window_idx"


def q155_cdc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking + chunk-level storage dedup
    (llm/pipeline.py::cdc_chunks — the LBFS/restic primitive):
    boundaries fall where the 8-gram md5 starts with hex '0', so a
    planted copy with an INSERTED PREFIX (' inserted prefix ' + text
    at +1e6) resynchronizes after one or two chunks and shares almost
    everything downstream — the property fixed-size chunking (q01,
    q105) structurally lacks, and the reason dedup storage uses CDC.
    Output per doc: chunk count/bytes plus how many of its chunks are
    SHARED with another doc (the storage-dedup win, visibly high for
    the planted pairs). Oracle replays boundaries, spans, hashes and
    the sharing join."""
    from swiftbeaver_spark.llm.pipeline import cdc_chunks

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 150).select(
        "doc_id", "text"
    )
    planted = docs.where(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.lit(" inserted prefix "), F.col("text")).alias("text"),
    )
    chunks = cdc_chunks(docs.unionByName(planted), k=8)
    chunks.persist()
    sharing = chunks.groupBy("chunk_md5").agg(
        F.count_distinct("doc_id").alias("n_docs")
    )
    per_doc = (
        chunks.join(sharing, "chunk_md5")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.sum("length").cast("long").alias("total_len"),
            F.sum((F.col("n_docs") > 1).cast("int")).cast("long").alias("n_shared"),
        )
    )
    # Pin the per-doc audit (one row per doc) and release the chunk
    # cache, which sharing + per_doc referenced twice. persist+count,
    # not localCheckpoint (RDD path bypasses AQE).
    out = per_doc.orderBy("doc_id").persist()
    out.count()
    chunks.unpersist()
    return out


def q155_sql() -> str:
    norm = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    return f"""
    WITH corpus AS (
      SELECT doc_id, {norm} AS norm FROM documents WHERE doc_id < 150
      UNION ALL
      SELECT doc_id + 1000000,
             {norm.replace("text", "' inserted prefix ' || text")}
      FROM documents WHERE doc_id < 25
    ), b AS (
      SELECT doc_id, norm,
             [i for i in generate_series(8, greatest(length(norm), 8))
              if i <= length(norm)
              and substr(md5(substr(norm, i - 7, 8)), 1, 1) = '0'] AS bounds
      FROM corpus
    ), spans AS (
      SELECT doc_id, norm,
             [0] || bounds AS starts,
             bounds || [length(norm)] AS ends
      FROM b
    ), ch AS (
      SELECT doc_id,
             ends[j] - starts[j] AS length,
             md5(substr(norm, starts[j] + 1, ends[j] - starts[j])) AS chunk_md5
      FROM spans, unnest(generate_series(1, len(starts))) AS u(j)
      WHERE ends[j] - starts[j] > 0
    ), sharing AS (
      SELECT chunk_md5, COUNT(DISTINCT doc_id) AS n_docs FROM ch GROUP BY chunk_md5
    )
    SELECT ch.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(ch.length) AS BIGINT) AS total_len,
           CAST(SUM(CASE WHEN s.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
    FROM ch JOIN sharing s ON ch.chunk_md5 = s.chunk_md5
    GROUP BY ch.doc_id
    ORDER BY ch.doc_id
    """


_Q156_PALETTE = ["1e2430", "66ccff", "ff8800", "112233"]


def _q156_gif_head_hex() -> str:
    """GIF89a header for a 4x2 frame with the fixed 4-color global
    palette, through the image descriptor + min-code-size + sub-block
    length byte; the per-doc LZW bytes follow."""
    pal = "".join(_Q156_PALETTE)
    return (
        "474946383961"  # GIF89a
        + "04000200"    # 4 x 2
        + "81"          # GCT present, size bits 1 -> 4 entries
        + "0000"        # bg, aspect
        + pal
        + "2c" + "00000000" + "0400" + "0200" + "00"  # image descriptor
        + "02"          # LZW min code size
        + "05"          # one 5-byte data sub-block
    )


def q156_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF decode under the oracle (llm/multimodal.py::
    gif_pixels — full LZW with variable code widths over the
    sub-block stream; the decoder is independently validated against
    the canonical public 1x1 GIF in pytest): per doc a COMPLETE valid
    4x2 GIF is built in SQL — with literal-only LZW coding the
    dictionary growth (and therefore every code's bit width:
    3,3,3,3 then 4x6) is data-independent, so the 36-bit packed
    stream is one closed-form integer of the 8 md5-derived palette
    indices, emitted as 5 bytes. The real decoder + resampler emit a
    2x1 BMP the oracle predicts byte-for-byte (palette lookup + RGB
    -> BGR). BMP (q99), PNG (q153), GIF: the lossless trio decodes
    for real."""
    from swiftbeaver_spark.llm.multimodal import resize_images

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)

    def idx(y: int, x: int) -> Column:
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.col("doc_id").cast("string"),
                            F.lit(str(y)),
                            F.lit(str(x)),
                        )
                    ),
                    1,
                    1,
                ),
                16,
                10,
            ).cast("long")
            % 4
        )
    # literal-only LZW: value = clear | p0<<3 | p1<<6 | p2<<9 | p3<<12
    #   | p4<<16 | p5<<20 | p6<<24 | p7<<28 | eoi<<32
    shifts = [3, 6, 9, 12, 16, 20, 24, 28]
    value = F.lit(4).cast("long") + F.lit(5).cast("long") * F.lit(1 << 32)
    pix = [idx(y, x) for y in range(2) for x in range(4)]
    for p, sh in zip(pix, shifts):
        value = value + p * F.lit(1 << sh)
    lzw_hex = F.concat(
        *[
            F.format_string("%02x", (F.floor(value / F.lit(256**k)) % 256).cast("int"))
            for k in range(5)
        ]
    )
    payload = F.unhex(
        F.concat(F.lit(_q156_gif_head_hex()), lzw_hex, F.lit("003b"))
    )
    media = docs.select(F.col("doc_id").alias("media_id"), payload.alias("payload"))
    out = resize_images(media, 2, 1)
    return out.select(
        "media_id",
        "width",
        "height",
        F.lower(F.hex("payload")).alias("payload_hex"),
        "status",
    ).orderBy("media_id")


def q156_sql() -> str:
    out_hdr = _q99_bmp_hex(0, 2, 1)
    pal_rows = ", ".join(f"({i}, '{c}')" for i, c in enumerate(_Q156_PALETTE))
    bgr = (
        "substr(p{x}.c, 5, 2) || substr(p{x}.c, 3, 2) || substr(p{x}.c, 1, 2)"
    )
    return f"""
    WITH pal(i, c) AS (VALUES {pal_rows}),
    d AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':0:0'), 1, 1)
                  AS BIGINT) % 4 AS i0,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':0:2'), 1, 1)
                  AS BIGINT) % 4 AS i2
      FROM documents WHERE doc_id < 200
    )
    SELECT doc_id AS media_id, 2 AS width, 1 AS height,
           '{out_hdr}' || {bgr.format(x=0)} || {bgr.format(x=2)} || '0000'
             AS payload_hex,
           'resized' AS status
    FROM d JOIN pal p0 ON d.i0 = p0.i JOIN pal p2 ON d.i2 = p2.i
    ORDER BY media_id
    """


BITEXT_K = 4
BITEXT_MARGIN_MILLI = 1050


def q157_bitext_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BITEXT MINING with margin scoring (Artetxe & Schwenk 2019 — the
    parallel-corpus mining step that feeds MT training), composed with
    the gated IVF coarse index (similarity.py::bitext_mine_ivf):
    label 0 embeddings are the source language, label 1 (plus planted
    1.5x-scaled clones of the first five sources at +1e6) the target.
    Candidate pairs come from an EQUI-JOIN on the pinned Voronoi cell
    (each target assigned to its nearest md5 centroid, each source
    probing its IVFPQ_NPROBE nearest) — no cartesian anywhere, the
    plan that survives two corpus-sided inputs at 100 TB. Each
    source's best retrieved target is scored by the RATIO margin —
    its cosine over the mean of both sides' retrieved-k-NN cosines —
    which suppresses hubness that raw cosine thresholds can't.
    ALL-INTEGER: cosines in micro-units, margins in milli (floor of
    an integer ratio), so every mined decision hash-gates; the oracle
    replays the index (assignment, probes, candidates) AND the margin
    math. Planted clones share their source's direction, hence its
    cell — guaranteed candidates with cosine exactly 1.0."""
    from swiftbeaver_spark.llm.similarity import bitext_mine_ivf

    emb = _t(spark, sf_dir, "embeddings")
    src = emb.where(F.col("label") == 0).select(
        F.col("vec_id").alias("x_id"),
        F.col("embedding").cast("array<double>").alias("xv"),
    )
    tgt_real = emb.where(F.col("label") == 1).select(
        F.col("vec_id").alias("y_id"),
        F.col("embedding").cast("array<double>").alias("yv"),
    )
    planted = (
        src.orderBy("x_id")
        .limit(5)
        .select(
            (F.col("x_id") + 1_000_000).alias("y_id"),
            F.transform(F.col("xv"), lambda v: v * F.lit(1.5)).alias("yv"),
        )
    )
    tgt = tgt_real.unionByName(planted)
    out = bitext_mine_ivf(
        src,
        tgt,
        _ivfpq_cents(),
        k=BITEXT_K,
        nprobe=IVFPQ_NPROBE,
        margin_milli=BITEXT_MARGIN_MILLI,
    )
    return out.orderBy("x_id")


def q157_sql() -> str:
    cents = _ivfpq_cents()
    crows = ",\n        ".join(
        f"({p}, [{', '.join(str(x) for x in c)}]::DOUBLE[])"
        for p, c in enumerate(cents)
    )
    return f"""
    WITH cents(p, c) AS (
      VALUES {crows}
    ), src AS (
      SELECT vec_id AS x_id, CAST(embedding AS DOUBLE[]) AS xv
      FROM embeddings WHERE label = 0
    ), tgt AS (
      SELECT vec_id AS y_id, CAST(embedding AS DOUBLE[]) AS yv
      FROM embeddings WHERE label = 1
      UNION ALL
      SELECT x_id + 1000000, list_transform(xv, v -> v * 1.5)
      FROM (SELECT x_id, xv FROM src ORDER BY x_id LIMIT 5)
    ), asg AS (
      SELECT y_id, yv, cell FROM (
        SELECT t.y_id, t.yv, cents.p AS cell,
               ROW_NUMBER() OVER (
                 PARTITION BY t.y_id
                 ORDER BY ROUND(list_dot_product(t.yv, cents.c), 6) DESC,
                          cents.p) AS rn
        FROM tgt t CROSS JOIN cents
      ) WHERE rn = 1
    ), probe AS (
      SELECT x_id, xv, cell FROM (
        SELECT s.x_id, s.xv, cents.p AS cell,
               ROW_NUMBER() OVER (
                 PARTITION BY s.x_id
                 ORDER BY ROUND(list_dot_product(s.xv, cents.c), 6) DESC,
                          cents.p) AS rn
        FROM src s CROSS JOIN cents
      ) WHERE rn <= {IVFPQ_NPROBE}
    ), cand AS (
      SELECT pr.x_id, a.y_id,
             CAST(ROUND(1000000 * list_dot_product(pr.xv, a.yv) /
                        (sqrt(list_dot_product(pr.xv, pr.xv)) *
                         sqrt(list_dot_product(a.yv, a.yv)))) AS BIGINT) AS cm
      FROM probe pr JOIN asg a ON pr.cell = a.cell
    ), ranked AS (
      SELECT x_id, y_id, cm,
             ROW_NUMBER() OVER (PARTITION BY x_id ORDER BY cm DESC, y_id) AS rx,
             ROW_NUMBER() OVER (PARTITION BY y_id ORDER BY cm DESC, x_id) AS ry
      FROM cand
    ), sx AS (
      SELECT x_id, SUM(cm) AS sx, COUNT(*) AS nx
      FROM ranked WHERE rx <= {BITEXT_K} GROUP BY x_id
    ), sy AS (
      SELECT y_id, SUM(cm) AS sy, COUNT(*) AS ny
      FROM ranked WHERE ry <= {BITEXT_K} GROUP BY y_id
    ), best AS (
      SELECT x_id, y_id, cm FROM ranked WHERE rx = 1
    )
    SELECT b.x_id, b.y_id AS best_y, b.cm AS cos_micro,
           CASE WHEN sx.sx + sy.sy > 0
                THEN CAST(FLOOR(1000 * (sx.nx + sy.ny) * b.cm
                                / (sx.sx + sy.sy)) AS BIGINT)
           END AS margin_milli,
           COALESCE(CASE WHEN sx.sx + sy.sy > 0
                         THEN FLOOR(1000 * (sx.nx + sy.ny) * b.cm
                                    / (sx.sx + sy.sy))
                                >= {BITEXT_MARGIN_MILLI}
                    END, FALSE) AS mined
    FROM best b JOIN sx ON b.x_id = sx.x_id JOIN sy ON b.y_id = sy.y_id
    ORDER BY b.x_id
    """


def _q158_tiff_parts() -> tuple[str, str]:
    """(pre-data hex, IFD hex) for a 4x2 uncompressed RGB
    little-endian TIFF with pixel data at offset 8 and the IFD after
    it — every tag value inline."""
    import struct as _s

    def tag(t: int, typ: int, cnt: int, val: int) -> bytes:
        return _s.pack("<HHI", t, typ, cnt) + _s.pack("<I", val)

    data_off, data_len = 8, 24
    ifd_off = data_off + data_len
    tags = [
        tag(256, 3, 1, 4),        # ImageWidth
        tag(257, 3, 1, 2),        # ImageLength
        tag(259, 3, 1, 1),        # Compression = none
        tag(262, 3, 1, 2),        # Photometric = RGB
        tag(273, 4, 1, data_off), # StripOffsets
        tag(277, 3, 1, 3),        # SamplesPerPixel
        tag(278, 3, 1, 2),        # RowsPerStrip
        tag(279, 4, 1, data_len), # StripByteCounts
    ]
    ifd = _s.pack("<H", len(tags)) + b"".join(tags) + _s.pack("<I", 0)
    pre = b"II*\x00" + _s.pack("<I", ifd_off)
    return pre.hex(), ifd.hex()


def q158_tiff_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL TIFF decode under the oracle (llm/multimodal.py::
    tiff_pixels — IFD walk, uncompressed strip concatenation): the
    fourth raster format built in SQL and decoded for real (BMP raw
    rows q99, PNG DEFLATE q153, GIF LZW q156, TIFF strips here).
    Per doc a complete little-endian TIFF carries the q153 md5 pixel
    gradient as its strip data; decode + resample emit a 2x1 BMP the
    oracle predicts byte-for-byte."""
    from swiftbeaver_spark.llm.multimodal import resize_images

    pre_hex, ifd_hex = _q158_tiff_parts()
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    parts = [F.lit(pre_hex)]
    for y in range(2):  # TIFF strips are top-down
        for x in range(4):
            parts.append(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.col("doc_id").cast("string"),
                            F.lit(str(y)),
                            F.lit(str(x)),
                        )
                    ),
                    1,
                    6,
                )
            )
    parts.append(F.lit(ifd_hex))
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.unhex(F.concat(*parts)).alias("payload"),
    )
    out = resize_images(media, 2, 1)
    return out.select(
        "media_id",
        "width",
        "height",
        F.lower(F.hex("payload")).alias("payload_hex"),
        "status",
    ).orderBy("media_id")


DATACARD_BUDGET_TOKENS = 1_000_000


def q159_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA CARD generation — the per-source composition table every
    dataset release publishes (Gebru et al. datasheets; the mixtures
    table in LLM model cards): per (source, lang): docs, whitespace
    tokens, corpus share in basis points, and EFFECTIVE EPOCHS in
    milli at a fixed training token budget with uniform mixing
    (budget * share / tokens = budget / total — made per-row explicit
    so repetition risk per slice is visible). All-integer; one
    partial-agg pass plus a broadcast totals row."""
    docs = _t(spark, sf_dir, "documents")
    ntok = F.size(
        F.filter(
            F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "),
            lambda t: t != "",
        )
    )
    per = docs.select("source", "lang", ntok.alias("n")).groupBy(
        "source", "lang"
    ).agg(F.count("*").alias("n_docs"), F.sum("n").alias("n_tokens"))
    tot = per.agg(F.sum("n_tokens").alias("_tot"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "lang",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.floor(F.lit(10000) * F.col("n_tokens") / F.col("_tot"))
            .cast("bigint")
            .alias("share_bp"),
            F.floor(F.lit(1000) * F.lit(DATACARD_BUDGET_TOKENS) / F.col("_tot"))
            .cast("bigint")
            .alias("effective_epochs_milli"),
        )
        .orderBy("source", "lang")
    )


def q159_sql() -> str:
    toks = (
        "len(list_filter(string_split(trim(regexp_replace(lower(text), "
        "'\\s+', ' ', 'g')), ' '), x -> x <> ''))"
    )
    return f"""
    WITH per AS (
      SELECT source, lang, COUNT(*) AS n_docs, SUM({toks}) AS n_tokens
      FROM documents GROUP BY source, lang
    ), tot AS (
      SELECT SUM(n_tokens) AS t FROM per
    )
    SELECT source, lang,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(FLOOR(10000 * n_tokens / t) AS BIGINT) AS share_bp,
           CAST(FLOOR(1000 * {DATACARD_BUDGET_TOKENS} / t) AS BIGINT)
             AS effective_epochs_milli
    FROM per CROSS JOIN tot
    ORDER BY source, lang
    """


MMR_CANDIDATES = 10
MMR_SELECT = 5
MMR_LAMBDA_MILLI = 700  # relevance weight in milli (0.7)


def q160_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversified reranking (Carbonell & Goldstein 1998 — the
    retrieval-result diversification every RAG pipeline bolts onto
    raw top-k): from each query's brute-force top-10 candidates,
    greedily select 5 maximizing
      lambda*rel(q,d) - (1-lambda)*max_sim(d, already-selected),
    with ALL similarity in integer micro-units and the greedy argmax
    tie-broken by vec_id — the selection loop runs DRIVER-SIDE over
    the collected integer candidate/sim tables (bounded: <= k and
    <= k(k-1) rows per query, corpus-independent; round 8 — the prior
    five unrolled dataframe steps built a ~7k-node plan costing ~5 s
    of pure driver wall at every scale), while the oracle unrolls the
    identical five steps in SQL. The top-10
    shortlist comes from the gated IVF index (similarity.py::
    ivf_candidates — cell assignment map-only, candidates via a
    BroadcastHashJoin on the probed cell, ~|corpus|*nprobe/nlist
    scored per query instead of the corpus), so the corpus stage is
    index-pruned, not a per-query linear scan. Scale: the candidate
    set per query is k rows (broadcast-sized); the unrolled loop
    joins candidate×selected per step — k*step work per query,
    independent of corpus size."""
    from swiftbeaver_spark.llm.similarity import cosine_similarity, ivf_candidates

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("query_vec")
    )
    cand_raw = ivf_candidates(
        emb,
        queries,
        _ivfpq_cents(),
        nprobe=IVFPQ_NPROBE,
        broadcast_queries=True,
    )
    # candidate ranking on MICRO-rounded relevance (desc, vec_id) so
    # the k-cut itself is engine-pinned (unrounded ties could differ)
    rel = F.round(
        cosine_similarity(F.col("vec"), F.col("query_vec")) * 1_000_000
    ).cast("bigint")
    wk = Window.partitionBy("query_id").orderBy(F.desc("rel_micro"), "vec_id")
    cand = (
        cand_raw.select("query_id", "vec_id", rel.alias("rel_micro"), "vec")
        .withColumn("rn", F.row_number().over(wk))
        .where(F.col("rn") <= MMR_CANDIDATES)
        .drop("rn")
    )
    cand.persist()
    # pairwise candidate-candidate sims per query (k x k, broadcast-scale)
    l, r = cand.alias("l"), cand.alias("r")
    sim = (
        l.join(
            r,
            (F.col("l.query_id") == F.col("r.query_id"))
            & (F.col("l.vec_id") != F.col("r.vec_id")),
        )
        .select(
            F.col("l.query_id").alias("query_id"),
            F.col("l.vec_id").alias("a"),
            F.col("r.vec_id").alias("b"),
            F.round(
                cosine_similarity(F.col("l.vec"), F.col("r.vec")) * 1_000_000
            ).cast("bigint").alias("sim_micro"),
        )
    )
    cached = [cand]
    lam, inv = MMR_LAMBDA_MILLI, 1000 - MMR_LAMBDA_MILLI
    # The greedy loop runs DRIVER-SIDE over the collected integer
    # tables (round-8 rework). All distributed work — IVF candidate
    # pruning, cosine scoring, the k x k pairwise sims — already
    # happened above, and rel_micro/sim_micro are exact bigints, so the
    # selection is pure integer arithmetic: collecting the <= k and
    # <= k(k-1) rows per query is a BOUNDED sync point (independent of
    # corpus size), replacing MMR_SELECT unrolled join/window steps
    # whose plan grew to ~7k operator nodes — ~5 s of per-invocation
    # driver wall at EVERY scale (the measured sf0.1->sf1 ratio was
    # 1.02: pure plan cost, not data). Same argmax, same (score desc,
    # vec_id asc) tie-break, same max-over-selected coalesce-to-0.
    # NULL micro scores cannot happen for rows that survived the rank
    # window (rel_micro NULL would sort last and a NULL embedding can't
    # produce a cosine), but a silent None here would crash the greedy
    # with a bare TypeError (lam * None) far from the cause — fail
    # loudly with the offending ids instead.
    rel_by_q: dict = {}
    for r in cand.select("query_id", "vec_id", "rel_micro").collect():
        if r.rel_micro is None:
            raise ValueError(
                f"q160: NULL rel_micro for query_id={r.query_id} "
                f"vec_id={r.vec_id} — a null/zero embedding survived "
                "into the MMR candidate set"
            )
        rel_by_q.setdefault(r.query_id, {})[r.vec_id] = r.rel_micro
    sim_by_q: dict = {}
    for r in sim.collect():
        if r.sim_micro is None:
            raise ValueError(
                f"q160: NULL sim_micro for query_id={r.query_id} "
                f"pair=({r.a}, {r.b}) — a null/zero embedding survived "
                "into the MMR candidate set"
            )
        sim_by_q.setdefault(r.query_id, {})[(r.a, r.b)] = r.sim_micro
    out_rows = []
    for q in sorted(rel_by_q):
        rel_q, sim_q = rel_by_q[q], sim_by_q.get(q, {})
        sel: list = []
        for step in range(1, MMR_SELECT + 1):
            best = None
            for v in rel_q:
                if v in sel:
                    continue
                ms = max((sim_q[(v, s)] for s in sel if (v, s) in sim_q), default=0)
                score = lam * rel_q[v] if not sel else lam * rel_q[v] - inv * ms
                key = (-score, v)
                if best is None or key < best[0]:
                    best = (key, v)
            if best is None:
                break
            out_rows.append((q, step, best[1], rel_q[best[1]]))
            sel.append(best[1])
    # Output id/score types INHERIT from the candidate frame's schema
    # (not hard-coded bigint) so a source-type change can't silently
    # drift the result schema away from the oracle's.
    ctypes = {f.name: f.dataType.simpleString() for f in cand.schema.fields}
    out = (
        spark.createDataFrame(
            out_rows,
            f"query_id {ctypes['query_id']}, pick_order int, "
            f"vec_id {ctypes['vec_id']}, rel_micro {ctypes['rel_micro']}",
        )
        .orderBy("query_id", "pick_order")
    )
    # Pin the tiny (queries x MMR_SELECT rows) result and release every
    # loop-step cache — bare persists here would leak for the session.
    # persist+count, not localCheckpoint (RDD path bypasses AQE).
    out = out.persist()
    out.count()
    for c in cached:
        c.unpersist()
    return out


def q160_sql() -> str:
    lam, inv = MMR_LAMBDA_MILLI, 1000 - MMR_LAMBDA_MILLI
    k, s = MMR_CANDIDATES, MMR_SELECT
    cosm = (
        "CAST(ROUND(1000000 * list_dot_product({a}, {b}) / "
        "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))) "
        "AS BIGINT)"
    )
    steps = []
    for step in range(2, s + 1):
        j = step - 1
        steps.append(f"""
    , ms{step} AS (
      SELECT p.query_id, p.vec_id,
             MAX(sim.sim_micro) AS ms
      FROM pool p
      JOIN sel{j} se ON p.query_id = se.query_id
      JOIN sim ON sim.query_id = p.query_id AND sim.a = p.vec_id
              AND sim.b = se.vec_id
      GROUP BY p.query_id, p.vec_id
    ), sc{step} AS (
      SELECT p.query_id, p.vec_id,
             {lam} * p.rel_micro - {inv} * COALESCE(ms{step}.ms, 0) AS score
      FROM pool p
      LEFT JOIN ms{step} ON p.query_id = ms{step}.query_id
                        AND p.vec_id = ms{step}.vec_id
      WHERE NOT EXISTS (SELECT 1 FROM sel{j} x
                        WHERE x.query_id = p.query_id
                          AND x.vec_id = p.vec_id)
    ), pick{step} AS (
      SELECT query_id, vec_id, {step} AS pick_order FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, vec_id) AS rn
        FROM sc{step}
      ) WHERE rn = 1
    ), sel{step} AS (
      SELECT * FROM sel{j} UNION ALL SELECT * FROM pick{step}
    )""")
    cents = _ivfpq_cents()
    crows = ",\n        ".join(
        f"({p}, [{', '.join(str(x) for x in c)}]::DOUBLE[])"
        for p, c in enumerate(cents)
    )
    return f"""
    WITH cents(p, c) AS (
      VALUES {crows}
    ), e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3
    ), asg AS (
      SELECT vec_id, v, cell FROM (
        SELECT e.vec_id, e.v, cents.p AS cell,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY ROUND(list_dot_product(e.v, cents.c), 6) DESC,
                          cents.p) AS rn
        FROM e CROSS JOIN cents
      ) WHERE rn = 1
    ), probe AS (
      SELECT query_id, qv, cell FROM (
        SELECT q.query_id, q.qv, cents.p AS cell,
               ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY ROUND(list_dot_product(q.qv, cents.c), 6) DESC,
                          cents.p) AS rn
        FROM q CROSS JOIN cents
      ) WHERE rn <= {IVFPQ_NPROBE}
    ), top AS (
      SELECT query_id, vec_id, rel_micro FROM (
        SELECT pr.query_id, a.vec_id,
               {cosm.format(a="a.v", b="pr.qv")} AS rel_micro,
               ROW_NUMBER() OVER (PARTITION BY pr.query_id
                                  ORDER BY {cosm.format(a="a.v", b="pr.qv")} DESC,
                                           a.vec_id) AS rn
        FROM probe pr JOIN asg a ON pr.cell = a.cell
      ) WHERE rn <= {k}
    ), pool AS (
      SELECT * FROM top
    ), sim AS (
      SELECT l.query_id, l.vec_id AS a, r.vec_id AS b,
             {cosm.format(a="le.v", b="re.v")} AS sim_micro
      FROM pool l JOIN pool r
        ON l.query_id = r.query_id AND l.vec_id <> r.vec_id
      JOIN e le ON le.vec_id = l.vec_id
      JOIN e re ON re.vec_id = r.vec_id
    ), sel1 AS (
      SELECT query_id, vec_id, 1 AS pick_order FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY {lam} * rel_micro DESC, vec_id) AS rn
        FROM pool
      ) WHERE rn = 1
    ){''.join(steps)}
    SELECT s.query_id, CAST(s.pick_order AS INT) AS pick_order,
           s.vec_id, p.rel_micro
    FROM sel{s} s JOIN pool p
      ON s.query_id = p.query_id AND s.vec_id = p.vec_id
    ORDER BY s.query_id, s.pick_order
    """


def q161_raster_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-format decoder CONSISTENCY: the SAME 4x2 image (pixels =
    the q156 md5-derived palette indices) is serialized into all four
    real containers — BMP (raw bottom-up BGR rows), PNG (stored
    deflate, top-down RGB + filter bytes), GIF (LZW indices), TIFF
    (top-down RGB strips) — and every payload decodes through
    image_pixels to a row-major BGR grid. All four rows per doc must
    carry the IDENTICAL grid hex, and the oracle predicts it
    closed-form from the palette: four independent decode paths
    cross-validate each other AND the prediction."""
    from swiftbeaver_spark.llm.multimodal import decode_grid_hex

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 100)

    def idx(y: int, x: int) -> Column:
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.col("doc_id").cast("string"),
                            F.lit(str(y)),
                            F.lit(str(x)),
                        )
                    ),
                    1,
                    1,
                ),
                16,
                10,
            ).cast("long")
            % 4
        )

    def pal_hex(i: Column) -> Column:  # RGB hex of palette entry
        return F.element_at(F.array(*[F.lit(c) for c in _Q156_PALETTE]), (i + 1).cast("int"))

    def pal_bgr_hex(i: Column) -> Column:
        c = pal_hex(i)
        return F.concat(
            F.substring(c, 5, 2), F.substring(c, 3, 2), F.substring(c, 1, 2)
        )

    def pal_ch(i: Column, ch: int) -> Column:  # channel int (0=r,1=g,2=b)
        vals = [int(c[2 * ch : 2 * ch + 2], 16) for c in _Q156_PALETTE]
        return F.element_at(F.array(*[F.lit(v) for v in vals]), (i + 1).cast("int"))

    ids = {(y, x): idx(y, x) for y in range(2) for x in range(4)}
    # --- BMP: header + bottom-up BGR rows (stride 12, no padding)
    bmp_parts = [F.lit(_q99_bmp_hex(0, 4, 2))]
    for r in range(2):
        y = 1 - r
        for x in range(4):
            bmp_parts.append(pal_bgr_hex(ids[(y, x)]))
    bmp = F.unhex(F.concat(*bmp_parts))
    # --- PNG: stored-deflate rows (top-down RGB + filter byte)
    head_hex, iend_hex = _q153_png_constants()
    raw_parts, byte_exprs = [], []
    for y in range(2):
        raw_parts.append(F.lit("00"))
        byte_exprs.append(F.lit(0))
        for x in range(4):
            raw_parts.append(pal_hex(ids[(y, x)]))
            for ch in range(3):
                byte_exprs.append(pal_ch(ids[(y, x)], ch))
    L = len(byte_exprs)
    s1, s2 = F.lit(1), F.lit(L)
    for i, b in enumerate(byte_exprs, start=1):
        s1 = s1 + b
        s2 = s2 + F.lit(L - i + 1) * b
    adler_hex = F.format_string(
        "%04x%04x", (s2 % 65521).cast("int"), (s1 % 65521).cast("int")
    )
    zstream = F.concat(F.lit("7801011a00e5ff"), F.concat(*raw_parts), adler_hex)
    idat_len = 2 + 5 + L + 4
    crc = F.crc32(F.unhex(F.concat(F.lit("49444154"), zstream)))
    png = F.unhex(
        F.concat(
            F.lit(head_hex),
            F.lit(f"{idat_len:08x}" + "49444154"),
            zstream,
            F.format_string("%08x", crc),
            F.lit(iend_hex),
        )
    )
    # --- GIF: q156 literal-only LZW of the same indices
    shifts = [3, 6, 9, 12, 16, 20, 24, 28]
    value = F.lit(4).cast("long") + F.lit(5).cast("long") * F.lit(1 << 32)
    for (y, x), sh in zip([(y, x) for y in range(2) for x in range(4)], shifts):
        value = value + ids[(y, x)] * F.lit(1 << sh)
    lzw_hex = F.concat(
        *[
            F.format_string("%02x", (F.floor(value / F.lit(256**k)) % 256).cast("int"))
            for k in range(5)
        ]
    )
    gif = F.unhex(F.concat(F.lit(_q156_gif_head_hex()), lzw_hex, F.lit("003b")))
    # --- TIFF: top-down RGB strips
    pre_hex, ifd_hex = _q158_tiff_parts()
    tiff_parts = [F.lit(pre_hex)]
    for y in range(2):
        for x in range(4):
            tiff_parts.append(pal_hex(ids[(y, x)]))
    tiff_parts.append(F.lit(ifd_hex))
    tiff = F.unhex(F.concat(*tiff_parts))

    # decode each format's stream separately so the format label stays
    # attached to its rows
    outs = []
    for fmt, payload in (("bmp", bmp), ("png", png), ("gif", gif), ("tiff", tiff)):
        part = docs.select(F.col("doc_id").alias("media_id"), payload.alias("payload"))
        outs.append(
            decode_grid_hex(part).withColumn("format", F.lit(fmt))
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.select(
        "media_id", "format", "width", "height", "grid_hex", "status"
    ).orderBy("media_id", "format")


def q161_sql() -> str:
    pal_rows = ", ".join(f"({i}, '{c}')" for i, c in enumerate(_Q156_PALETTE))
    cell = (
        "(SELECT substr(p.c, 5, 2) || substr(p.c, 3, 2) || substr(p.c, 1, 2) "
        "FROM pal p WHERE p.i = CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) "
        "|| ':{y}:{x}'), 1, 1) AS BIGINT) % 4)"
    )
    grid = " || ".join(cell.format(y=y, x=x) for y in range(2) for x in range(4))
    return f"""
    WITH pal(i, c) AS (VALUES {pal_rows}),
    g AS (
      SELECT d.doc_id, {grid} AS grid_hex
      FROM documents d WHERE d.doc_id < 100
    ), fmts(format) AS (VALUES ('bmp'), ('gif'), ('png'), ('tiff'))
    SELECT doc_id AS media_id, format, 4 AS width, 2 AS height,
           grid_hex, 'ok' AS status
    FROM g CROSS JOIN fmts
    ORDER BY media_id, format
    """


SFT_SYS_TOKENS = 3  # "You are helpful."


def q162_sft_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT LOSS-MASK span preparation — the chat-template step between
    curation and training: each doc renders as a four-segment
    conversation (system | user = first half of the words | assistant
    = second half | end marker), and the output is the per-segment
    TOKEN SPAN table with its trainable flag (loss masked on
    system/user, unmasked on assistant/end) — exactly the mask tensor
    an SFT dataloader builds. Marker tokens count 1 each; spans are
    closed-form integer arithmetic over the doc's whitespace token
    count, so every offset is engine-exact. One projection + explode,
    no shuffle."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    n = F.size(
        F.filter(
            F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "),
            lambda t: t != "",
        )
    )
    n_user = F.ceil(n / 2).cast("long")
    n_asst = (n - n_user).cast("long")
    sys_len = F.lit(1 + SFT_SYS_TOKENS).cast("long")      # <|system|> + prompt
    user_len = (F.lit(1) + n_user).cast("long")           # <|user|> + words
    asst_len = (F.lit(1) + n_asst).cast("long")           # <|assistant|> + words
    end_len = F.lit(1).cast("long")                       # <|end|>
    seg = F.array(
        F.struct(F.lit("system").alias("segment"), F.lit(0).cast("long").alias("start_tok"), sys_len.alias("n_tok"), F.lit(False).alias("trainable")),
        F.struct(F.lit("user").alias("segment"), sys_len.alias("start_tok"), user_len.alias("n_tok"), F.lit(False).alias("trainable")),
        F.struct(F.lit("assistant").alias("segment"), (sys_len + user_len).alias("start_tok"), asst_len.alias("n_tok"), F.lit(True).alias("trainable")),
        F.struct(F.lit("end").alias("segment"), (sys_len + user_len + asst_len).alias("start_tok"), end_len.alias("n_tok"), F.lit(True).alias("trainable")),
    )
    return (
        # range exchange below the explode (_presort): the final
        # (doc_id, start_tok) order needs no second execution of the
        # segment build for orderBy's boundary sampling, and the
        # explode runs at full width
        _presort(docs, "doc_id")
        .select("doc_id", F.explode(seg).alias("s"))
        .select(
            "doc_id",
            F.col("s.segment").alias("segment"),
            F.col("s.start_tok").alias("start_tok"),
            F.col("s.n_tok").alias("n_tok"),
            F.col("s.trainable").alias("trainable"),
        )
        .sortWithinPartitions("doc_id", "start_tok")
    )


def q162_sql() -> str:
    toks = (
        "len(list_filter(string_split(trim(regexp_replace(lower(text), "
        "'\\s+', ' ', 'g')), ' '), x -> x <> ''))"
    )
    s = 1 + SFT_SYS_TOKENS
    return f"""
    WITH d AS (
      SELECT doc_id, {toks} AS n,
             CAST(CEIL({toks} / 2.0) AS BIGINT) AS nu
      FROM documents
    ), seg AS (
      SELECT doc_id, 'system' AS segment, CAST(0 AS BIGINT) AS start_tok,
             CAST({s} AS BIGINT) AS n_tok, FALSE AS trainable FROM d
      UNION ALL
      SELECT doc_id, 'user', {s}, 1 + nu, FALSE FROM d
      UNION ALL
      SELECT doc_id, 'assistant', {s} + 1 + nu, 1 + (n - nu), TRUE FROM d
      UNION ALL
      SELECT doc_id, 'end', {s} + 2 + n, 1, TRUE FROM d
    )
    SELECT doc_id, segment, CAST(start_tok AS BIGINT) AS start_tok,
           CAST(n_tok AS BIGINT) AS n_tok, trainable
    FROM seg ORDER BY doc_id, start_tok
    """


PREFIX_CACHE_K = 8


def q163_prefix_cache_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-cache planning — the vLLM/SGLang radix-cache accounting
    over a prompt corpus: prompts sharing their first k tokens reuse
    one KV-cache entry, so the savings of a shared-prefix group of n
    prompts is (n-1)*k cached tokens. Prompts are synthesized with
    template skew (doc_id%7 selects one of 7 instruction prefixes
    prepended to the text), the realistic shape where a few templates
    dominate. Output per shared-prefix group (n >= 2): group size,
    tokens saved, and the md5 prefix key. One partial-agg shuffle on
    the 16-byte prefix hash — never the prompt text."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    template = F.element_at(
        F.array(
            *[
                F.lit(t)
                for t in (
                    "summarize the following document carefully and briefly",
                    "translate this text into formal english right now",
                    "answer the question using only the context below",
                    "extract every named entity from the passage given",
                    "classify the sentiment of this review as stars",
                    "rewrite the paragraph to be simpler and shorter",
                    "list the key facts contained in this article",
                )
            ]
        ),
        (F.col("doc_id") % 7 + 1).cast("int"),
    )
    prompt = F.concat(template, F.lit(" "), F.col("text"))
    toks = F.filter(
        F.split(F.trim(F.regexp_replace(F.lower(prompt), r"\s+", " ")), " "),
        lambda t: t != "",
    )
    prefix_key = F.md5(
        F.array_join(F.slice(toks, 1, PREFIX_CACHE_K), " ")
    )
    keyed = docs.select("doc_id", prefix_key.alias("prefix_key")).where(
        F.size(toks) >= PREFIX_CACHE_K
    )
    return (
        keyed.groupBy("prefix_key")
        .agg(F.count("*").alias("n_prompts"), F.min("doc_id").alias("min_doc"))
        .where(F.col("n_prompts") >= 2)
        .select(
            "prefix_key",
            F.col("n_prompts").cast("long").alias("n_prompts"),
            ((F.col("n_prompts") - 1) * PREFIX_CACHE_K)
            .cast("long")
            .alias("tokens_saved"),
            F.col("min_doc").alias("min_doc"),
        )
        .orderBy("prefix_key")
    )


def q163_sql() -> str:
    templates = (
        "summarize the following document carefully and briefly",
        "translate this text into formal english right now",
        "answer the question using only the context below",
        "extract every named entity from the passage given",
        "classify the sentiment of this review as stars",
        "rewrite the paragraph to be simpler and shorter",
        "list the key facts contained in this article",
    )
    tl = ", ".join(f"'{t}'" for t in templates)
    k = PREFIX_CACHE_K
    return f"""
    WITH p AS (
      SELECT doc_id,
             list_filter(string_split(trim(regexp_replace(lower(
               ([{tl}])[CAST(doc_id % 7 + 1 AS INT)] || ' ' || text
             ), '\\s+', ' ', 'g')), ' '), x -> x <> '') AS toks
      FROM documents
    ), keyed AS (
      SELECT doc_id, md5(array_to_string(toks[1:{k}], ' ')) AS prefix_key
      FROM p WHERE len(toks) >= {k}
    )
    SELECT prefix_key,
           CAST(COUNT(*) AS BIGINT) AS n_prompts,
           CAST((COUNT(*) - 1) * {k} AS BIGINT) AS tokens_saved,
           MIN(doc_id) AS min_doc
    FROM keyed GROUP BY prefix_key
    HAVING COUNT(*) >= 2
    ORDER BY prefix_key
    """


def q164_nested_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape — the NESTED semi-join chain (suppliers having
    a part whose stock exceeds half of one year's shipped quantity):
    an EXISTS inside an EXISTS, decorrelated into two leftsemi joins
    with the inner aggregate pushed into a per-(part, supplier)
    grouped table and the threshold as an integer cross-mult
    (2 * availqty > sum_shipped, synthesizing availqty as a
    deterministic function of the keys — the part table carries no
    stock column). Completes the join-shape inventory: inner/left/
    anti (q42/q113), star (q96), scalar-agg decorrelation (q126),
    nested SEMI here. Both semi joins keep the probe side unexpanded
    — no fan-out, the plan every EXISTS chain should compile to."""
    li = _t(spark, sf_dir, "lineitem")
    supplier = _t(spark, sf_dir, "supplier")
    part = _t(spark, sf_dir, "part")
    year = F.year(F.col("l_shipdate")) == 1995
    shipped = (
        li.where(year)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("sum_shipped"))
    )
    # deterministic synthetic stock: availqty = (partkey*31 + suppkey*17) % 8
    # (range chosen so only a minority of grouped rows clear the bar --
    # a threshold that filters, not a tautology)
    avail = (F.col("l_partkey") * 31 + F.col("l_suppkey") * 17) % 8
    qualifying = shipped.where(F.lit(2) * avail > F.col("sum_shipped")).select(
        "l_partkey", "l_suppkey"
    )
    # inner EXISTS: the part must be a 'forest'-ish subset (p_size < 20)
    qual_parts = qualifying.join(
        part.where(F.col("p_size") < 20).select("p_partkey"),
        F.col("l_partkey") == F.col("p_partkey"),
        "leftsemi",
    )
    # outer EXISTS: suppliers with at least one qualifying part
    out = supplier.join(
        qual_parts,
        F.col("s_suppkey") == F.col("l_suppkey"),
        "leftsemi",
    )
    return out.select("s_suppkey", "s_name").orderBy("s_suppkey")


def q164_sql() -> str:
    return """
    SELECT s_suppkey, s_name
    FROM supplier s
    WHERE EXISTS (
      SELECT 1 FROM (
        SELECT l_partkey, l_suppkey,
               SUM(CAST(l_quantity AS BIGINT)) AS sum_shipped
        FROM lineitem
        WHERE year(CAST(l_shipdate AS TIMESTAMP)) = 1995
        GROUP BY l_partkey, l_suppkey
      ) q
      WHERE q.l_suppkey = s.s_suppkey
        AND 2 * ((q.l_partkey * 31 + q.l_suppkey * 17) % 8) > q.sum_shipped
        AND EXISTS (
          SELECT 1 FROM part p
          WHERE p.p_partkey = q.l_partkey AND p.p_size < 20
        )
    )
    ORDER BY s_suppkey
    """


EQD_BUCKETS = 8
EQD_BLOCK_WIDTH = 100_000  # 1000.00-wide price blocks, in cents


def q165_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EQUI-DEPTH histogram (sketch.py::equidepth_histogram) over
    lineitem extended-price cents: 8 buckets cut at equal ROW-count
    boundaries — the optimizer-statistics shape q54's equi-WIDTH bins
    can't give on skewed columns. The construction never sorts the row
    set: one distinct-value partial-agg shuffle, then a two-level
    distributed prefix sum (per-1000.00-block window + broadcast block
    offsets — the q38 idiom, the only global window runs over the tiny
    block summary), bucket = (rows_before * 8) div n in exact integer
    math. Prices enter as ROUND(p*100) cents so the doubles-to-integer
    step is pinned on both engines."""
    from swiftbeaver_spark.sketch import equidepth_histogram

    # NOT widened (r14 A/B): the per-row work here is one round+cast,
    # so spreading the single-split scan costs a 600k-row shuffle for
    # nothing — interleaved minima 1.85 s natural vs 2.39 s widened.
    # spread pays only for compute-dense rows (md5/n-gram class).
    li = _t(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents")
    )
    return equidepth_histogram(
        li, "cents", nbuckets=EQD_BUCKETS, block_width=EQD_BLOCK_WIDTH
    )


def q165_sql() -> str:
    return f"""
    WITH dv AS (
      SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v,
             COUNT(*) AS cnt
      FROM lineitem GROUP BY 1
    ), b AS (
      SELECT v, cnt, CAST(FLOOR(v / {EQD_BLOCK_WIDTH}.0) AS BIGINT) AS blk
      FROM dv
    ), w AS (
      SELECT v, cnt, blk,
             SUM(cnt) OVER (PARTITION BY blk ORDER BY v
                            ROWS UNBOUNDED PRECEDING) AS cum_in
      FROM b
    ), bo AS (
      SELECT blk,
             COALESCE(SUM(blk_tot) OVER (
               ORDER BY blk
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS blk_off
      FROM (SELECT blk, SUM(cnt) AS blk_tot FROM b GROUP BY blk)
    ), n AS (
      SELECT SUM(cnt) AS n FROM dv
    )
    SELECT CAST((bo.blk_off + w.cum_in - w.cnt) * {EQD_BUCKETS} // n.n AS INT)
             AS bucket_id,
           MIN(v) AS lo, MAX(v) AS hi,
           CAST(SUM(cnt) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_distinct
    FROM w JOIN bo USING (blk) CROSS JOIN n
    GROUP BY 1 ORDER BY 1
    """


DOMAIN_CAP = 15


def q166_domain_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain crawl caps (llm/pipeline.py::domain_cap): keep at
    most 15 documents per source domain, longest-first with doc_id as
    the total-order tie-break — the curation step that stops
    mega-domains from dominating a training mix. Spark runs the
    SKEW-SAFE two-stage rank (salted (domain, md5-salt) windows, then
    a final top-cap over <= cap*16 survivors per domain); the oracle
    replays the provably-equivalent single-window form. Audit output
    per domain (q119 convention): doc counts, kept count, and an
    order-insensitive md5-prefix checksum over kept ids, so every
    individual keep decision is hash-gated."""
    from swiftbeaver_spark.llm.pipeline import domain_cap

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    kept = domain_cap(
        docs, domain_col="source", id_col="doc_id",
        order_col="n_chars", cap=DOMAIN_CAP,
    )
    chk = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    totals = docs.groupBy("source").agg(F.count("*").cast("long").alias("n_docs"))
    audit = kept.groupBy("source").agg(
        F.count("*").cast("long").alias("n_kept"),
        F.sum(chk).cast("long").alias("kept_checksum"),
        F.min("doc_id").alias("min_kept_id"),
        F.max("doc_id").alias("max_kept_id"),
    )
    return (
        totals.join(audit, "source")
        .select(
            "source", "n_docs", "n_kept", "kept_checksum",
            "min_kept_id", "max_kept_id",
        )
        .orderBy("source")
    )


def q166_sql() -> str:
    return f"""
    WITH ranked AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents
    ), kept AS (
      SELECT doc_id, source FROM ranked WHERE rn <= {DOMAIN_CAP}
    ), totals AS (
      SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
    )
    SELECT t.source,
           CAST(t.n_docs AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(CAST('0x' || substr(md5(CAST(k.doc_id AS VARCHAR)), 1, 8)
                         AS BIGINT)) AS BIGINT) AS kept_checksum,
           MIN(k.doc_id) AS min_kept_id,
           MAX(k.doc_id) AS max_kept_id
    FROM kept k JOIN totals t ON k.source = t.source
    GROUP BY t.source, t.n_docs
    ORDER BY t.source
    """


def _q167_grays() -> list[int]:
    """4 md5-pinned gray levels (the q156 palette convention)."""
    import hashlib

    return [
        int(hashlib.md5(f"jpegpal:{i}".encode()).hexdigest()[:2], 16)
        for i in range(4)
    ]


def _q167_payload_hexes() -> list[str]:
    """All 16 two-block (16x8) flat-gray JPEGs, indexed i0*4+i1 —
    REAL baseline JPEG bytes from the in-repo encoder (flat blocks ->
    DC-only streams -> exact decode)."""
    import numpy as np

    from swiftbeaver_spark.llm.multimodal import encode_jpeg_gray

    grays = _q167_grays()
    out = []
    for i0 in range(4):
        for i1 in range(4):
            img = np.zeros((8, 16), dtype=np.uint8)
            img[:, :8] = grays[i0]
            img[:, 8:] = grays[i1]
            out.append(encode_jpeg_gray(img).hex())
    return out


def q167_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline JPEG decode under the oracle (llm/multimodal.py::
    jpeg_pixels — T.81 marker walk, canonical Huffman entropy decode
    with byte-unstuffing, dequantize/dezigzag, float IDCT; encoder
    encode_jpeg_gray builds the payloads): per doc a COMPLETE valid
    16x8 grayscale JPEG of two flat 8x8 blocks (gray levels = two
    md5-selected entries of a 4-value pinned palette). Flat blocks
    make the entropy stream DC-only and the IDCT output EXACT, so the
    oracle predicts every decoded byte closed-form from the palette —
    JPEG's entropy-coded path thereby leaves the codec stub the way
    PNG's DEFLATE did in q153 (the fifth real raster decoder:
    BMP/PNG/GIF/TIFF/JPEG). The 16 possible payloads enter the plan
    as literals; decode runs the full real parser per row."""
    from swiftbeaver_spark.llm.multimodal import decode_grid_hex

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)

    def idx(tag: str) -> Column:
        return F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f":jq:{tag}"))),
                1,
                1,
            ),
            16,
            10,
        ).cast("int") % 4

    sel = (idx("0") * 4 + idx("1") + 1).cast("int")
    payload = F.unhex(
        F.element_at(F.array(*[F.lit(h) for h in _q167_payload_hexes()]), sel)
    )
    media = docs.select(F.col("doc_id").alias("media_id"), payload.alias("payload"))
    out = decode_grid_hex(media)
    return out.select("media_id", "width", "height", "grid_hex", "status").orderBy(
        "media_id"
    )


def q167_sql() -> str:
    pal_rows = ", ".join(f"({i}, '{g:02x}')" for i, g in enumerate(_q167_grays()))
    return f"""
    WITH pal(i, g) AS (VALUES {pal_rows}),
    d AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':jq:0'), 1, 1)
                  AS BIGINT) % 4 AS i0,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':jq:1'), 1, 1)
                  AS BIGINT) % 4 AS i1
      FROM documents WHERE doc_id < 200
    )
    SELECT doc_id AS media_id, 16 AS width, 8 AS height,
           repeat(repeat(p0.g, 24) || repeat(p1.g, 24), 8) AS grid_hex,
           'ok' AS status
    FROM d JOIN pal p0 ON d.i0 = p0.i JOIN pal p1 ON d.i1 = p1.i
    ORDER BY media_id
    """


_Q168_F_EVEN = "fffb9000"  # MPEG1 L3 128 kbps 44100 Hz, no padding -> 417 B
_Q168_F_ODD = "fffba000"  # MPEG1 L3 160 kbps 44100 Hz, no padding -> 522 B
_Q168_ID3_HDR = "494433" + "0300" + "00" + "00000008" + "00" * 8  # ID3v2, 8 B body


def q168_mp3_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MP3 frame walk under the oracle (llm/multimodal.py::
    mp3_frame_spans — ID3v2 skip + ISO 11172-3 Layer III header walk
    with the sample-accurate cumulative timeline): per doc an MP3
    stream is BUILT IN SQL — optional ID3v2 tag (even doc_ids),
    2 + doc_id%3 frames alternating 128 kbps (417 B) and 160 kbps
    (522 B) headers with md5-derived filler, then deliberate trailing
    garbage the walk must stop at. Every (frame_idx, byte_off,
    byte_size, bitrate, t_ms) row is predicted closed-form (frame
    sizes are header arithmetic; t_ms = 1152*i*1000//44100) — parser
    vs prediction, the q101 convention. doc_id%7==3 rows carry a
    non-MP3 payload and must emit the single 'unsupported' row."""
    from swiftbeaver_spark.llm.multimodal import mp3_frame_spans

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 150)

    def filler(tag: str, hexlen: int) -> Column:
        reps = hexlen // 32 + 1
        return F.substring(
            F.repeat(F.md5(F.format_string(f"{tag}:%d", F.col("doc_id"))), reps),
            1,
            hexlen,
        )

    nf = (F.lit(2) + F.col("doc_id") % 3).cast("int")
    f_even = [F.concat(F.lit(_Q168_F_EVEN), filler(f"f{i}", 826)) for i in (0, 2)]
    f_odd = [F.concat(F.lit(_Q168_F_ODD), filler(f"f{i}", 1036)) for i in (1, 3)]
    mp3_hex = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit(_Q168_ID3_HDR)).otherwise(F.lit("")),
        f_even[0],
        f_odd[0],
        F.when(nf >= 3, f_even[1]).otherwise(F.lit("")),
        F.when(nf >= 4, f_odd[1]).otherwise(F.lit("")),
        F.lit("001122"),  # broken sync: the walk must stop here
    )
    payload_hex = F.when(F.col("doc_id") % 7 == 3, F.lit("52494646")).otherwise(mp3_hex)
    media = docs.select(
        F.col("doc_id").alias("media_id"), F.unhex(payload_hex).alias("payload")
    )
    out = mp3_frame_spans(media)
    return out.select(
        "media_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.coalesce(F.col("byte_off"), F.lit(-1)).cast("long").alias("byte_off"),
        F.coalesce(F.col("byte_size"), F.lit(-1)).cast("long").alias("byte_size"),
        F.coalesce(F.col("bitrate_kbps"), F.lit(-1)).cast("long").alias("bitrate_kbps"),
        F.coalesce(F.col("sample_rate"), F.lit(-1)).cast("long").alias("sample_rate"),
        F.coalesce(F.col("t_ms"), F.lit(-1)).cast("long").alias("t_ms"),
        "status",
    ).orderBy("media_id", "frame_idx")


def q168_sql() -> str:
    # frame i: even -> 417 B @128 kbps, odd -> 522 B @160 kbps;
    # byte_off(i) = id3 + 417*ceil(i/2) + 522*floor(i/2);
    # t_ms(i) = 1152*i*1000 // 44100 (MPEG1 L3, constant 44100 Hz)
    return """
    WITH d AS (
      SELECT doc_id, CAST(2 + doc_id % 3 AS BIGINT) AS nf,
             CASE WHEN doc_id % 2 = 0 THEN 18 ELSE 0 END AS id3
      FROM documents WHERE doc_id < 150 AND doc_id % 7 <> 3
    ), f AS (
      SELECT d.doc_id, u.i AS frame_idx, d.id3, d.nf
      FROM d, LATERAL unnest(generate_series(0, CAST(d.nf - 1 AS BIGINT))) AS u(i)
    )
    SELECT doc_id AS media_id, CAST(frame_idx AS BIGINT) AS frame_idx,
           CAST(id3 + 417 * ((frame_idx + 1) // 2) + 522 * (frame_idx // 2)
                AS BIGINT) AS byte_off,
           CAST(CASE WHEN frame_idx % 2 = 0 THEN 417 ELSE 522 END AS BIGINT)
             AS byte_size,
           CAST(CASE WHEN frame_idx % 2 = 0 THEN 128 ELSE 160 END AS BIGINT)
             AS bitrate_kbps,
           CAST(44100 AS BIGINT) AS sample_rate,
           CAST(1152 * frame_idx * 1000 // 44100 AS BIGINT) AS t_ms,
           'ok' AS status
    FROM f
    UNION ALL
    SELECT doc_id AS media_id, CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
           CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
           CAST(-1 AS BIGINT), 'unsupported'
    FROM documents WHERE doc_id < 150 AND doc_id % 7 = 3
    ORDER BY media_id, frame_idx
    """


def _q169_variants() -> list[tuple[int, int, int, int, str]]:
    """12 pinned Ogg-Vorbis streams (channels, sample_rate, dur_ms,
    n_pages, payload_hex), indexed channels_i*6 + rate_i*3 + (secs-1):
    a BOS page with a real Vorbis identification header + `secs` audio
    pages (EOS on the last, granule = sample_rate*page_no)."""
    import struct as _s

    out = []
    for ch in (1, 2):
        for sr in (44100, 48000):
            for secs in (1, 2, 3):
                idpkt = (
                    b"\x01vorbis"
                    + _s.pack("<I", 0)
                    + _s.pack("<B", ch)
                    + _s.pack("<I", sr)
                    + _s.pack("<i", 0)
                    + _s.pack("<i", 128000)
                    + _s.pack("<i", 0)
                    + bytes([0xB8, 0x01])
                )
                pages = [
                    b"OggS"
                    + bytes([0, 0x02])
                    + _s.pack("<q", 0)
                    + _s.pack("<I", 1)
                    + _s.pack("<I", 0)
                    + b"\x00" * 4
                    + bytes([1, len(idpkt)])
                    + idpkt
                ]
                for k in range(1, secs + 1):
                    flags = 0x04 if k == secs else 0x00
                    body = hashlib.md5(f"oggbody:{ch}:{sr}:{k}".encode()).digest()
                    pages.append(
                        b"OggS"
                        + bytes([0, flags])
                        + _s.pack("<q", sr * k)
                        + _s.pack("<I", 1)
                        + _s.pack("<I", k)
                        + b"\x00" * 4
                        + bytes([1, len(body)])
                        + body
                    )
                out.append((ch, sr, secs * 1000, 1 + secs, b"".join(pages).hex()))
    return out


def q169_vorbis_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Ogg-Vorbis metadata under the oracle (llm/multimodal.py::
    vorbis_stream_meta — BOS-page identification-header parse + page
    walk to the EOS granule position, the codec-free duration the Ogg
    spec defines): 12 pinned valid streams (2 channel counts x 2
    sample rates x 3 durations, q167's literal-palette convention)
    selected per doc by md5 index; the oracle replays the palette as
    a VALUES table. doc_id%5==4 rows carry a WAV payload and must
    emit 'unsupported'."""
    from swiftbeaver_spark.llm.multimodal import vorbis_meta

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 150)
    sel = (
        F.conv(
            F.substring(F.md5(F.format_string("ogg:%d", F.col("doc_id"))), 1, 2), 16, 10
        ).cast("int")
        % 12
        + 1
    ).cast("int")
    hexes = [v[4] for v in _q169_variants()]
    payload = F.when(
        F.col("doc_id") % 5 == 4, F.unhex(F.lit("52494646aabbccdd57415645"))
    ).otherwise(F.unhex(F.element_at(F.array(*[F.lit(h) for h in hexes]), sel)))
    media = docs.select(F.col("doc_id").alias("media_id"), payload.alias("payload"))
    out = vorbis_meta(media)
    return out.select(
        "media_id",
        F.coalesce(F.col("channels"), F.lit(-1)).cast("long").alias("channels"),
        F.coalesce(F.col("sample_rate"), F.lit(-1)).cast("long").alias("sample_rate"),
        F.coalesce(F.col("bitrate_nominal"), F.lit(-1)).cast("long").alias("bitrate_nominal"),
        F.coalesce(F.col("duration_ms"), F.lit(-1)).cast("long").alias("duration_ms"),
        F.coalesce(F.col("n_pages"), F.lit(-1)).cast("long").alias("n_pages"),
        "status",
    ).orderBy("media_id")


def q169_sql() -> str:
    pal_rows = ", ".join(
        f"({i + 1}, {ch}, {sr}, {dur}, {np})"
        for i, (ch, sr, dur, np, _) in enumerate(_q169_variants())
    )
    return f"""
    WITH pal(i, channels, sample_rate, dur_ms, n_pages) AS (VALUES {pal_rows}),
    d AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(printf('ogg:%d', doc_id)), 1, 2) AS BIGINT)
               % 12 + 1 AS sel
      FROM documents WHERE doc_id < 150
    )
    SELECT doc_id AS media_id,
           CAST(CASE WHEN doc_id % 5 = 4 THEN -1 ELSE p.channels END AS BIGINT)
             AS channels,
           CAST(CASE WHEN doc_id % 5 = 4 THEN -1 ELSE p.sample_rate END AS BIGINT)
             AS sample_rate,
           CAST(CASE WHEN doc_id % 5 = 4 THEN -1 ELSE 128000 END AS BIGINT)
             AS bitrate_nominal,
           CAST(CASE WHEN doc_id % 5 = 4 THEN -1 ELSE p.dur_ms END AS BIGINT)
             AS duration_ms,
           CAST(CASE WHEN doc_id % 5 = 4 THEN -1 ELSE p.n_pages END AS BIGINT)
             AS n_pages,
           CASE WHEN doc_id % 5 = 4 THEN 'unsupported' ELSE 'ok' END AS status
    FROM d JOIN pal p ON d.sel = p.i
    ORDER BY media_id
    """


_Q170_CACHE: list[tuple[int, int, int, int, str, str]] | None = None


def _q170_variants() -> list[tuple[int, int, int, int, str, str]]:
    """(sample_rate, channels, bits, n_samples, pcm_hex, payload_hex)
    for 12 pinned FLAC streams spanning the codec surface: constant /
    fixed-predictor / forced-LPC / verbatim-noise subframes, all four
    stereo assignments, wasted bits, the Rice raw-escape path, Rice
    partitions, and 8/16/24-bit depths. Deterministic (seeded rng),
    encoded once per process by the repo's own encoder; the decoder
    under test reconstructs the PCM exactly (lossless)."""
    global _Q170_CACHE
    if _Q170_CACHE is not None:
        return _Q170_CACHE
    import numpy as np

    from swiftbeaver_spark.llm.flac import _pcm_le_bytes, encode_flac

    rng = np.random.default_rng(170)
    t24 = np.arange(24)
    noise24 = rng.integers(-32768, 32768, size=24)
    left = rng.integers(-3000, 3000, size=24)
    right = left + rng.integers(-40, 40, size=24)
    stereo = np.stack([left, right], axis=1)
    esc = np.zeros(32, dtype=np.int64)
    esc[16:] = rng.integers(-(2**20), 2**20, size=16)
    sine = (8000 * np.sin(np.arange(32) / 3.0)).astype(np.int64)
    specs = [
        (np.full(24, 1234), 16000, 16, dict(block_size=16)),
        (t24 * 100 - 1000, 16000, 16, dict(block_size=16)),
        (sine, 22050, 16, dict(block_size=32, force_subframe="lpc")),
        (noise24, 16000, 16, dict(block_size=16)),
        (stereo, 8000, 16, dict(block_size=16, stereo_mode="mid_side")),
        (stereo, 8000, 16, dict(block_size=16, stereo_mode="left_side")),
        (stereo, 8000, 16, dict(block_size=16, stereo_mode="right_side")),
        (stereo, 8000, 16, dict(block_size=16, stereo_mode="independent")),
        (rng.integers(-500, 500, size=24) << 5, 16000, 16, dict(block_size=16)),
        (esc, 48000, 24, dict(block_size=32, partition_order=1)),
        (rng.integers(-128, 128, size=40), 8000, 8, dict(block_size=20)),
        (rng.integers(-5000, 5000, size=64), 44100, 16,
         dict(block_size=64, partition_order=2)),
    ]
    out = []
    for pcm, sr, bits, kw in specs:
        pcm = np.asarray(pcm, dtype=np.int64)
        payload = encode_flac(pcm, sample_rate=sr, bits_per_sample=bits, **kw)
        shaped = pcm[:, None] if pcm.ndim == 1 else pcm
        out.append(
            (
                sr,
                shaped.shape[1],
                bits,
                shaped.shape[0],
                _pcm_le_bytes(shaped, (bits + 7) // 8).hex(),  # ceil(bps/8), the codec convention
                payload.hex(),
            )
        )
    _Q170_CACHE = out
    return out


def q170_flac_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL FLAC entropy decode under the oracle (llm/flac.py::
    flac_decode_pcm — metadata walk, frame-header CRC-8, Rice/Golomb
    residual decode incl. partitions and the raw-escape form, fixed +
    LPC predictors, wasted bits, all four stereo assignments, frame
    CRC-16 and the STREAMINFO PCM MD5): 12 pinned streams (q167's
    literal-palette convention) selected per doc by md5 index; decode
    is lossless, so the oracle predicts every reconstructed PCM byte
    as a palette literal. doc_id%7==3 rows carry a non-FLAC payload
    and must emit 'unsupported'. Rice coding is the one audio entropy
    layer fully derivable from its public spec with no external data
    tables — this closes the audio leg of the codec stub the way
    q167's Huffman/IDCT closed JPEG's."""
    from swiftbeaver_spark.llm.flac import flac_decode_pcm

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 150)
    sel = (
        F.conv(
            F.substring(F.md5(F.format_string("fq:%d", F.col("doc_id"))), 1, 2), 16, 10
        ).cast("int")
        % 12
        + 1
    ).cast("int")
    hexes = [v[5] for v in _q170_variants()]
    payload = F.when(
        F.col("doc_id") % 7 == 3, F.unhex(F.lit("52494646aabbccdd57415645"))
    ).otherwise(F.unhex(F.element_at(F.array(*[F.lit(h) for h in hexes]), sel)))
    media = docs.select(F.col("doc_id").alias("media_id"), payload.alias("payload"))
    out = flac_decode_pcm(media)
    return out.select(
        "media_id",
        F.coalesce(F.col("sample_rate"), F.lit(-1)).cast("long").alias("sample_rate"),
        F.coalesce(F.col("channels"), F.lit(-1)).cast("long").alias("channels"),
        F.coalesce(F.col("bits_per_sample"), F.lit(-1)).cast("long").alias("bits_per_sample"),
        F.coalesce(F.col("n_samples"), F.lit(-1)).cast("long").alias("n_samples"),
        F.coalesce(F.col("pcm_hex"), F.lit("")).alias("pcm_hex"),
        "status",
    ).orderBy("media_id")


def q170_sql() -> str:
    pal_rows = ", ".join(
        f"({i + 1}, {sr}, {ch}, {bits}, {n}, '{pcm}')"
        for i, (sr, ch, bits, n, pcm, _) in enumerate(_q170_variants())
    )
    return f"""
    WITH pal(i, sample_rate, channels, bits, n_samples, pcm_hex) AS
      (VALUES {pal_rows}),
    d AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(printf('fq:%d', doc_id)), 1, 2) AS BIGINT)
               % 12 + 1 AS sel
      FROM documents WHERE doc_id < 150
    )
    SELECT doc_id AS media_id,
           CAST(CASE WHEN doc_id % 7 = 3 THEN -1 ELSE p.sample_rate END AS BIGINT)
             AS sample_rate,
           CAST(CASE WHEN doc_id % 7 = 3 THEN -1 ELSE p.channels END AS BIGINT)
             AS channels,
           CAST(CASE WHEN doc_id % 7 = 3 THEN -1 ELSE p.bits END AS BIGINT)
             AS bits_per_sample,
           CAST(CASE WHEN doc_id % 7 = 3 THEN -1 ELSE p.n_samples END AS BIGINT)
             AS n_samples,
           CASE WHEN doc_id % 7 = 3 THEN '' ELSE p.pcm_hex END AS pcm_hex,
           CASE WHEN doc_id % 7 = 3 THEN 'unsupported' ELSE 'ok' END AS status
    FROM d JOIN pal p ON d.sel = p.i
    ORDER BY media_id
    """


FASTTEXT_LABELS = ["__label__en", "__label__de", "__label__es", "__label__fr"]


def _fasttext_vocab(docs: DataFrame, exclude_prefixes: tuple) -> DataFrame:
    """Distinct corpus words for the q171/q172 weight builds — via
    groupBy + max-ALIAS, not distinct(): the downstream .vec parse
    filter is a deterministic function of the group KEY, so against a
    plain distinct Catalyst pushes it below the aggregate (and through
    any repartition) onto every token OCCURRENCE on the 1-split scan
    (271k rows, one task — measured 12 s of q172's 13 s at sf0.1).
    Aliasing the word through an aggregate expression makes the filter
    reference a non-grouping output, which cannot be pushed below; it
    then evaluates once per distinct word. Output identical to
    distinct() (max of a group's key is the key)."""
    from swiftbeaver_spark.llm.dedup import normalized_text

    toks = docs.select(
        F.explode(
            F.filter(F.split(normalized_text(F.col("text")), " "), lambda t: t != "")
        ).alias("word")
    )
    for p in exclude_prefixes:
        toks = toks.where(~F.col("word").startswith(p))
    return (
        toks.groupBy("word")
        .agg(F.max("word").alias("w2"))
        .select(F.col("w2").alias("word"))
    )


def _fasttext_vec_lines(words: DataFrame, dim: int = 4) -> DataFrame:
    """Deterministic .vec body for the q171/q172 gates: per word, `dim`
    md5-derived thousandths in [-1000, 1000] printed as exact decimal
    TEXT built from integer parts (not printf), so no locale/rounding
    library can drift either side of the oracle replay."""

    def comp_int(d: int):  # md5-derived thousandths in [-1000, 1000]
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("v:"), F.col("word"), F.lit(f":{d}"))), 1, 8
                ),
                16,
                10,
            ).cast("long")
            % 2001
            - 1000
        )

    def dec3(x):  # integer thousandths -> exact decimal text, |x| <= 1000
        return F.concat(
            F.when(x < 0, F.lit("-")).otherwise(F.lit("")),
            F.when(F.abs(x) >= 1000, F.lit("1")).otherwise(F.lit("0")),
            F.lit("."),
            F.lpad((F.abs(x) % 1000).cast("string"), 3, "0"),
        )

    return words.select(
        F.concat_ws(
            " ", F.col("word"), *[dec3(comp_int(d)) for d in range(dim)]
        ).alias("value")
    )


def _fasttext_comps_sql(dim: int = 4) -> str:
    """The SQL replay of _fasttext_vec_lines' component text."""
    comp = (
        "(CAST('0x' || substr(md5('v:' || word || ':' || {d}), 1, 8) AS BIGINT)"
        " % 2001 - 1000)"
    )
    dec = (
        "CASE WHEN {x} < 0 THEN '-' ELSE '' END ||"
        " CASE WHEN abs({x}) >= 1000 THEN '1' ELSE '0' END || '.' ||"
        " lpad(CAST(abs({x}) % 1000 AS VARCHAR), 3, '0')"
    )
    return " || ' ' || ".join(dec.format(x=comp.format(d=d)) for d in range(dim))


def q171_fasttext_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText text-format (.vec) weight loading + weighted linear
    classification under the hash gate (llm/weights.py — VERDICT r6
    item 3's production path for the model-shaped operators; reference
    fastText's public supervised scoring: mean token vector . label
    embedding == linear model over token-level weights).

    The round-trip is REAL: a deterministic .vec corpus (4-dim vectors
    for every corpus token + four __label__* rows, components
    md5-derived thousandths printed as decimal TEXT) is parsed back by
    parse_fasttext_vec_lines (split + try_cast — the exact loader
    path), token x label weights come from the pinned left-fold dot
    (micro-quantized: integers from there on), and classify_documents
    scores via explode -> broadcast join -> integer sums -> min_by
    argmax. The oracle rebuilds the same lines, reparses them in SQL,
    and replays the fold term-by-term — parser, dot, and argmax all
    inside the gate. Decimal strings are built from integer parts (not
    printf) so no locale/rounding library can drift either side."""
    from swiftbeaver_spark.llm.weights import (
        classify_documents,
        parse_fasttext_vec_lines,
        token_label_weights,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    vocab = _fasttext_vocab(docs, ("__label__",))
    labels = docs.sparkSession.createDataFrame(
        [(w,) for w in FASTTEXT_LABELS], "word string"
    )
    # label vectors passed SEPARATELY: token_label_weights collects the
    # label side at build time, and the label .vec lines are derivable
    # from the 4 static label words alone — collecting them out of the
    # combined frame would execute the whole corpus-vocab subtree in an
    # untimed extra job (round-7 review finding)
    weights = token_label_weights(
        parse_fasttext_vec_lines(_fasttext_vec_lines(vocab.unionAll(labels)), 4),
        labels=parse_fasttext_vec_lines(_fasttext_vec_lines(labels), 4),
    )
    return classify_documents(docs, weights).orderBy("doc_id")


def q171_sql() -> str:
    comps = _fasttext_comps_sql(4)
    norm = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    return f"""
    WITH dt AS (
      SELECT doc_id, {norm} AS norm FROM documents
    ), toks AS (
      SELECT doc_id, unnest(string_split(norm, ' ')) AS token
      FROM dt WHERE norm <> ''
    ), vocab AS (
      SELECT DISTINCT token AS word FROM toks
      WHERE NOT starts_with(token, '__label__')
      UNION ALL
      SELECT * FROM (VALUES ('__label__en'), ('__label__de'),
                            ('__label__es'), ('__label__fr')) v(word)
    ), lines AS (
      SELECT word || ' ' || {comps} AS line FROM vocab
    ), parsed AS (
      SELECT string_split(line, ' ')[1] AS word,
             CAST(string_split(line, ' ')[2] AS DOUBLE) AS v1,
             CAST(string_split(line, ' ')[3] AS DOUBLE) AS v2,
             CAST(string_split(line, ' ')[4] AS DOUBLE) AS v3,
             CAST(string_split(line, ' ')[5] AS DOUBLE) AS v4
      FROM lines
    ), wts AS (
      -- the engine's pinned left-fold dot ((((0+p1)+p2)+p3)+p4),
      -- micro-quantized to exact int64 before any aggregation
      SELECT t.word AS token, substr(l.word, 10) AS label,
             CAST(round(((((0 + t.v1*l.v1) + t.v2*l.v2) + t.v3*l.v3)
                         + t.v4*l.v4) * 1000000.0) AS BIGINT) AS weight_micro
      FROM parsed t, parsed l
      WHERE NOT starts_with(t.word, '__label__')
        AND starts_with(l.word, '__label__')
    ), scored AS (
      SELECT doc_id, label, CAST(SUM(weight_micro) AS BIGINT) AS score_micro
      FROM toks JOIN wts USING (token)
      GROUP BY doc_id, label
    ), best AS (
      SELECT doc_id, label, score_micro,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score_micro DESC, label) AS rn
      FROM scored
    ), counts AS (
      SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id
    )
    SELECT d.doc_id,
           CASE WHEN b.score_micro > 0 THEN b.label ELSE 'und' END AS label,
           CAST(CASE WHEN b.score_micro > 0 THEN b.score_micro ELSE 0 END
                AS BIGINT) AS score_micro,
           CAST(COALESCE(c.n, 0) AS BIGINT) AS n_tokens
    FROM dt d
    LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)
    LEFT JOIN counts c USING (doc_id)
    ORDER BY doc_id
    """


Q172_BUCKETS = 256
Q172_MINN, Q172_MAXN = 3, 4


def q172_fasttext_subword(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText SUBWORD classification under the hash gate
    (llm/weights.py classify_documents_subword): every token
    contributes its word vector plus its character-n-gram FNV-bucket
    vectors — fastText's actual model architecture (Bojanowski et al.
    2017; subword hashing caps the table at n_buckets regardless of
    n-gram diversity), and the property that makes it score
    out-of-vocabulary words instead of dropping them.

    Everything is replayed in the oracle: the .vec-line build + reparse
    for word, label AND bucket vectors (the q171 machinery, extended
    with 256 '__bucket__<i>' rows), the n-gram expansion ('<word>'
    wrapping, n in [3, 4], duplicates kept — the compiled sb_subword
    kernel), the FNV-1a-over-codepoints fold (== DuckDB's list_reduce
    of ord()s — sb_subword is pinned vs an independent Python reference
    in tests/test_weights.py), the
    per-(doc, label) integer micro sums,
    the matched-unit mean (truncating div, both engines), and the
    min_by argmax with the 'und' fallback.

    Plan shape: the corpus-side unit stream meets ONE broadcast
    unit-keyed weight table; the vocabulary x labels cross inside the
    weight build has NO join operator at all — token_label_weights
    driver-collects the (tiny, separately-derivable) label frame and
    explodes it as per-token literals, keeping the zero-nested-loop
    plan invariant — and the vocab dedup uses the max-alias barrier
    (_fasttext_vocab) so the parse filter evaluates per distinct word,
    not per token occurrence."""
    from swiftbeaver_spark.llm.weights import (
        classify_documents_subword,
        parse_fasttext_vec_lines,
        token_label_weights,
    )

    # the corpus-side subword expansion (per-token char n-grams + FNV
    # folds) is compute-dense; widen the scan feeding both the vocab
    # dedup and the classify stream (integer micro-unit sums only)
    docs = spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    vocab = _fasttext_vocab(docs, ("__label__", "__bucket__"))
    labels = spark.createDataFrame([(w,) for w in FASTTEXT_LABELS], "word string")
    buckets = spark.range(Q172_BUCKETS).select(
        F.concat(F.lit("__bucket__"), F.col("id").cast("string")).alias("word")
    )
    lines = _fasttext_vec_lines(vocab.unionAll(labels).unionAll(buckets))
    # separable label frame for the build-time collect (see q171)
    weights = token_label_weights(
        parse_fasttext_vec_lines(lines, 4),
        labels=parse_fasttext_vec_lines(_fasttext_vec_lines(labels), 4),
    )
    word_weights = weights.where(~F.col("token").startswith("__bucket__"))
    bucket_weights = weights.where(F.col("token").startswith("__bucket__")).select(
        F.expr("substring(token, 11)").cast("long").alias("bucket"),
        "label",
        "weight_micro",
    )
    # word and bucket tables are two filters of ONE weights frame: hand
    # classify the single-pass unit merge so the broadcast build
    # evaluates the weight subtree once, not once per branch (r14 —
    # same unit keys the word/bucket union would produce)
    is_bucket = F.col("token").startswith("__bucket__")
    unit_weights = weights.select(
        F.when(
            is_bucket,
            F.concat(
                F.lit("b:"),
                F.expr("substring(token, 11)").cast("long").cast("string"),
            ),
        )
        .otherwise(F.concat(F.lit("w:"), F.col("token")))
        .alias("unit"),
        "label",
        "weight_micro",
    )
    return classify_documents_subword(
        docs,
        word_weights,
        bucket_weights,
        n_buckets=Q172_BUCKETS,
        minn=Q172_MINN,
        maxn=Q172_MAXN,
        unit_weights=unit_weights,
    ).orderBy("doc_id")


def q172_sql() -> str:
    comps = _fasttext_comps_sql(4)
    norm = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    # n-gram sizes interpolated from the SAME constants the engine path
    # uses, so editing Q172_MINN/MAXN can never desync the two sides
    ngram_ns = ", ".join(f"({n})" for n in range(Q172_MINN, Q172_MAXN + 1))
    fnv = (
        "list_reduce(list_prepend(2166136261::BIGINT,"
        " list_transform(range(1, length(ngram) + 1),"
        " j -> ord(substr(ngram, j, 1))::BIGINT)),"
        " (h, b) -> (xor(h, b) * 16777619) % 4294967296)"
    )
    return f"""
    WITH dt AS (
      SELECT doc_id, {norm} AS norm FROM documents
    ), toks AS (
      SELECT doc_id, unnest(string_split(norm, ' ')) AS token
      FROM dt WHERE norm <> ''
    ), vocab AS (
      SELECT DISTINCT token AS word FROM toks
      WHERE NOT starts_with(token, '__label__')
        AND NOT starts_with(token, '__bucket__')
      UNION ALL
      SELECT * FROM (VALUES ('__label__en'), ('__label__de'),
                            ('__label__es'), ('__label__fr')) v(word)
      UNION ALL
      SELECT '__bucket__' || CAST(i AS VARCHAR) FROM range(0, {Q172_BUCKETS}) t(i)
    ), lines AS (
      SELECT word || ' ' || {comps} AS line FROM vocab
    ), parsed AS (
      SELECT string_split(line, ' ')[1] AS word,
             CAST(string_split(line, ' ')[2] AS DOUBLE) AS v1,
             CAST(string_split(line, ' ')[3] AS DOUBLE) AS v2,
             CAST(string_split(line, ' ')[4] AS DOUBLE) AS v3,
             CAST(string_split(line, ' ')[5] AS DOUBLE) AS v4
      FROM lines
    ), wts AS (
      -- the engine's pinned left-fold dot ((((0+p1)+p2)+p3)+p4),
      -- micro-quantized to exact int64 before any aggregation
      SELECT t.word AS token, substr(l.word, 10) AS label,
             CAST(round(((((0 + t.v1*l.v1) + t.v2*l.v2) + t.v3*l.v3)
                         + t.v4*l.v4) * 1000000.0) AS BIGINT) AS weight_micro
      FROM parsed t, parsed l
      WHERE NOT starts_with(t.word, '__label__')
        AND starts_with(l.word, '__label__')
    ), word_wts AS (
      SELECT * FROM wts WHERE NOT starts_with(token, '__bucket__')
    ), bucket_wts AS (
      SELECT CAST(substr(token, 11) AS BIGINT) AS bucket, label, weight_micro
      FROM wts WHERE starts_with(token, '__bucket__')
    ), grams AS (
      -- subword n-grams: all n-grams of '<token>' for n in
      -- [Q172_MINN, Q172_MAXN], duplicates kept (one row per occurrence)
      SELECT doc_id, substr(w, i, n) AS ngram
      FROM (SELECT doc_id, '<' || token || '>' AS w FROM toks),
           (VALUES {ngram_ns}) ln(n),
           LATERAL unnest(range(1, length(w) - n + 2)) AS u(i)
      WHERE length(w) >= n
    ), gbuckets AS (
      -- FNV-1a-32 over codepoints (sb_subword folds codepoints too), mod n_buckets
      SELECT doc_id, {fnv} % {Q172_BUCKETS} AS bucket FROM grams
    ), hits AS (
      SELECT doc_id, label, weight_micro FROM toks JOIN word_wts USING (token)
      UNION ALL
      SELECT doc_id, label, weight_micro FROM gbuckets JOIN bucket_wts USING (bucket)
    ), scored AS (
      SELECT doc_id, label, CAST(SUM(weight_micro) AS BIGINT) AS s
      FROM hits GROUP BY doc_id, label
    ), nunits AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_units FROM (
        SELECT doc_id FROM toks
        WHERE token IN (SELECT token FROM word_wts)
        UNION ALL
        SELECT doc_id FROM gbuckets
        WHERE bucket IN (SELECT bucket FROM bucket_wts)
      ) GROUP BY doc_id
    ), best AS (
      -- truncating integer mean (DuckDB // == Spark div toward zero)
      SELECT doc_id, label, s // n_units AS score_micro,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY s // n_units DESC, label) AS rn
      FROM scored JOIN nunits USING (doc_id)
    )
    SELECT d.doc_id,
           CASE WHEN b.score_micro > 0 THEN b.label ELSE 'und' END AS label,
           CAST(CASE WHEN b.score_micro > 0 THEN b.score_micro ELSE 0 END
                AS BIGINT) AS score_micro,
           CAST(COALESCE(u.n_units, 0) AS BIGINT) AS n_units
    FROM dt d
    LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)
    LEFT JOIN nunits u USING (doc_id)
    ORDER BY doc_id
    """


def q173_entropy_kernel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL windowed-entropy scanner under the SQL oracle
    (the entropy leg of fused_scan.scan_all_from_chunks ->
    entropy.merge_regions; reference src/entropy.rs:19-91) — the end-to-end driver gate for
    the round-11 JVM kernel (java/src/sbspark/Ent.java), exactly as
    q35 gates the JVM span kernel (pytest pins it bit-identical to the
    numpy oracle in tests/oracles/entropy.py).

    Per doc a 4096-byte block at doc_id*4096, four 1024-byte quarters
    whose 256-byte windows hold 2^k equi-frequent symbols — every
    window's Shannon entropy is EXACTLY k bits (dyadic: exact in
    float64 for numpy, the JVM kernel, and DuckDB alike, so the hash
    compare is rounding-free):
      Q0: constant 0x00            -> 0.0 (below threshold)
      Q1: 2 symbols alternating    -> 1.0 (below threshold)
      Q2: 16 symbols cycling       -> 4.0 (qualifies)
      Q3: even docs 256 distinct   -> 8.0; odd docs 16 symbols -> 4.0
    threshold 3.0 keeps Q2+Q3: ONE merged region per doc spanning
    [2048, 4095] with max entropy 8.0 (even) / 4.0 (odd) — replicated
    arithmetically in SQL."""
    import dataclasses

    from swiftbeaver_spark.config import DEFAULT_CONFIG
    from swiftbeaver_spark.fused_scan import scan_all_from_chunks

    q0 = "00" * 1024
    q1 = "6162" * 512  # 'ab' alternating: 2 symbols per window
    q2 = bytes(range(0x30, 0x40)).hex() * 64  # 16 symbols cycling
    q3_even = bytes(range(256)).hex() * 4  # 256 distinct per window
    q3_odd = bytes(range(0x40, 0x50)).hex() * 64
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    chunks = docs.select(
        F.col("doc_id").alias("chunk_id"),
        (F.col("doc_id") * 4096).alias("start"),
        F.lit(4096).cast("long").alias("valid_length"),
        F.unhex(
            F.concat(
                F.lit(q0),
                F.lit(q1),
                F.lit(q2),
                F.when(F.col("doc_id") % 2 == 0, F.lit(q3_even)).otherwise(
                    F.lit(q3_odd)
                ),
            )
        ).alias("data"),
    )
    cfg = dataclasses.replace(
        DEFAULT_CONFIG,
        enable_entropy_detection=True,
        entropy_window_size=256,
        entropy_threshold=3.0,
    )
    regions = scan_all_from_chunks(chunks, cfg)["entropy_regions"]
    return regions.orderBy("global_start")


def q173_sql() -> str:
    return """
    SELECT doc_id * 4096 + 2048 AS global_start,
           doc_id * 4096 + 4095 AS global_end,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 8.0 ELSE 4.0 END AS DOUBLE) AS entropy,
           CAST(256 AS BIGINT) AS window_size
    FROM documents
    ORDER BY global_start
    """


# --- driver contract ---------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the chunked signature scan with overlap dedup — the
    engine's core operator — on sf0.001."""
    return q02_chunked_scan(spark, SF_DEFAULT)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDER MATTERS: the external driver checks only the FIRST 50 entries
    # (confirmed in rounds 4 and 5 — each CORRECTNESS file holds exactly
    # the first 50 keys). The window comment below documents each
    # round's cut; the standing policy (VERDICT r8/r9 task "rotation"):
    # every query whose code a round touches re-gates THAT round, and
    # no green driver row may age past ~3 rounds (the due-date cohort
    # fills the remaining slots oldest-first).
    return {
        # --- driver window (first 50) -----------------------------------
        # Round-15 cut, per the standing rotation policy (VERDICT
        # r8-r14): (a) the ENTIRE 40-query r11-vintage cohort (the
        # q01-q52 band + q122/q157/q160) — the due-date set owed by
        # VERDICT r14 task 3; after this round no green driver row is
        # older than round 12. Three of them are ALSO r15 touches: the
        # re-landed q42/q44/q51 compute-density widens (reverted in r14
        # only for the 50-slot cap, measured wins recorded in
        # OPTIMIZATION_r14.md).
        # (b) the 7 out-of-cohort r15 touches: q93/q94 (re-landed
        # widens, r12 vintage), q115 (two-level block-prefix median —
        # the VERDICT r14 top_next item), q117 + q118 (single-exchange
        # contamination_scores: the two-pass branch is retired, q117
        # was its last caller; q118 consumes the same changed callee
        # and drops its (doc, gram) dedup exchange), q80 + q134
        # (pagerank round / BFS level collapsed to one exchange in
        # relational.py — both consume the changed loop bodies).
        # Exhaustive touch audit vs the r14 verdict tree (1fd3867):
        # changed query functions = q115, q118, q42, q44, q51, q93,
        # q94; changed shared callees reach q117 (contamination_scores
        # — plan changes, windowed), q80 (pagerank), q134
        # (bfs_distances); grouped_weighted_median is UNCHANGED (q132
        # merely gains a second caller); no kernel/jar/scanner change
        # this round, so the q02/q30-q33/q35/q173 kernel gates stay on
        # their r14 rows. Every touched query is in this window —
        # zero touched-not-windowed.
        # (c) the 3 remaining slots pre-refresh the oldest r12-cohort
        # rows (q53/q54/q55), due r16 with the rest of their cohort.
        "q01_chunk_plan": q01_chunk_plan,
        "q03_scan_counts": q03_scan_counts,
        "q04_entropy": q04_entropy,
        "q05_sessionize": q05_sessionize,
        "q06_join_history": q06_join_history,
        "q07_left_join_coalesce": q07_left_join_coalesce,
        "q08_group_dedup": q08_group_dedup,
        "q10_case_mapping": q10_case_mapping,
        "q11_time_conversions": q11_time_conversions,
        "q12_url_parse": q12_url_parse,
        "q13_email_split": q13_email_split,
        "q18_exact_dedup": q18_exact_dedup,
        "q20_token_stats": q20_token_stats,
        "q21_quality": q21_quality,
        "q22_langid": q22_langid,
        "q23_cosine_topk": q23_cosine_topk,
        "q25_top_orders": q25_top_orders,
        "q27_simhash_neardup": q27_simhash_neardup,
        "q28_lsh_topk": q28_lsh_topk,
        "q29_media_meta": q29_media_meta,
        "q36_dedup_clusters": q36_dedup_clusters,
        "q37_stream_sessionize": q37_stream_sessionize,
        "q38_pack_sequences": q38_pack_sequences,
        "q39_hash_sample": q39_hash_sample,
        "q40_pii_scrub": q40_pii_scrub,
        "q41_vocab_topk": q41_vocab_topk,
        "q42_decontaminate": q42_decontaminate,
        "q43_line_dedup": q43_line_dedup,
        "q44_repetition_metrics": q44_repetition_metrics,
        "q45_session_window": q45_session_window,
        "q46_kmv_sketch": q46_kmv_sketch,
        "q47_stream_window_agg": q47_stream_window_agg,
        "q48_asof_join": q48_asof_join,
        "q49_countmin": q49_countmin,
        "q50_weighted_sample": q50_weighted_sample,
        "q51_crossdoc_dup": q51_crossdoc_dup,
        "q52_stream_dedup": q52_stream_dedup,
        "q122_semantic_dedup": q122_semantic_dedup,
        "q157_bitext_mining": q157_bitext_mining,
        "q160_mmr_rerank": q160_mmr_rerank,
        # r15 out-of-cohort touches (window slots, see comment):
        "q80_pagerank": q80_pagerank,
        "q93_embedding_neardup": q93_embedding_neardup,
        "q94_doc_fingerprint": q94_doc_fingerprint,
        "q115_grouped_median": q115_grouped_median,
        "q117_contamination_scores": q117_contamination_scores,
        "q118_curation_v2": q118_curation_v2,
        "q134_bfs_distances": q134_bfs_distances,
        # oldest r12-cohort spares (pre-refresh, due r16):
        "q53_stream_interval_join": q53_stream_interval_join,
        "q54_histogram_quantiles": q54_histogram_quantiles,
        "q55_linear_quality": q55_linear_quality,
        # --- past the driver window (rotation pool) ---------------------
        # ordered oldest-vintage-first for the next recuts:
        # r12 cohort remainder (37, due r16):
        "q56_interval_join_batch": q56_interval_join_batch,
        "q57_salted_join": q57_salted_join,
        "q58_incremental_dedup": q58_incremental_dedup,
        "q60_curation_pipeline": q60_curation_pipeline,
        "q61_time_rollup": q61_time_rollup,
        "q62_bm25": q62_bm25,
        "q63_bloom_membership": q63_bloom_membership,
        "q64_funnel": q64_funnel,
        "q65_scd2": q65_scd2,
        "q66_zorder": q66_zorder,
        "q67_token_rarity": q67_token_rarity,
        "q68_stratified_fixed_k": q68_stratified_fixed_k,
        "q69_skew_profile": q69_skew_profile,
        "q70_sketch_outliers": q70_sketch_outliers,
        "q72_inverted_index": q72_inverted_index,
        "q73_pivot_matrix": q73_pivot_matrix,
        "q74_rollup_revenue": q74_rollup_revenue,
        "q75_stream_countmin": q75_stream_countmin,
        "q76_merge_upsert": q76_merge_upsert,
        "q77_label_centroids": q77_label_centroids,
        "q78_stream_static_join": q78_stream_static_join,
        "q79_grouped_topn": q79_grouped_topn,
        "q81_profile": q81_profile,
        "q82_quality_deciles": q82_quality_deciles,
        "q83_multiset_ops": q83_multiset_ops,
        "q84_corpus_mixture": q84_corpus_mixture,
        "q85_pq_topk": q85_pq_topk,
        "q86_sq8_quantize": q86_sq8_quantize,
        "q87_binary_hamming_topk": q87_binary_hamming_topk,
        "q89_webdataset": q89_webdataset,
        "q90_shard_manifest": q90_shard_manifest,
        "q100_frame_sample": q100_frame_sample,
        "q101_audio_windows": q101_audio_windows,
        "q104_stream_neardup": q104_stream_neardup,
        "q105_chunk_documents": q105_chunk_documents,
        "q106_gopher_flags": q106_gopher_flags,
        "q107_c4_clean": q107_c4_clean,
        # r13 cohort remainder (37, gated green r13):
        "q26_minhash_neardup": q26_minhash_neardup,
        "q34_ivf_topk": q34_ivf_topk,
        "q88_ivfpq_topk": q88_ivfpq_topk,
        "q91_coarse_refine_topk": q91_coarse_refine_topk,
        "q95_incremental_minhash": q95_incremental_minhash,
        "q96_star_join": q96_star_join,
        "q98_cube_summary": q98_cube_summary,
        "q99_resize_images": q99_resize_images,
        "q108_hll_distinct": q108_hll_distinct,
        "q110_grouping_sets": q110_grouping_sets,
        "q111_moving_window": q111_moving_window,
        "q114_tfrecord_roundtrip": q114_tfrecord_roundtrip,
        "q116_grouped_mode": q116_grouped_mode,
        "q123_prefix_filter_join": q123_prefix_filter_join,
        "q124_html_extract": q124_html_extract,
        "q125_warc_roundtrip": q125_warc_roundtrip,
        "q126_small_qty_revenue": q126_small_qty_revenue,
        "q139_patch_means": q139_patch_means,
        "q140_stream_crawl_ingest": q140_stream_crawl_ingest,
        "q147_persisted_index": q147_persisted_index,
        "q148_watermark_late_drop": q148_watermark_late_drop,
        "q149_stream_outer_join": q149_stream_outer_join,
        "q153_png_decode": q153_png_decode,
        "q154_audio_energy": q154_audio_energy,
        "q155_cdc_dedup": q155_cdc_dedup,
        "q156_gif_decode": q156_gif_decode,
        "q158_tiff_decode": q158_tiff_decode,
        "q161_raster_consistency": q161_raster_consistency,
        "q164_nested_semijoin": q164_nested_semijoin,
        "q171_fasttext_classify": q171_fasttext_classify,
        "q14_phone_plausible": q14_phone_plausible,
        "q15_normalize_url": q15_normalize_url,
        "q16_string_flags": q16_string_flags,
        "q17_extract_urls": q17_extract_urls,
        "q59_bpe_learn": q59_bpe_learn,
        "q92_bpe_tokenize": q92_bpe_tokenize,
        "q97_compaction_plan": q97_compaction_plan,
        # r14 window (49, gated green r14):
        "q173_entropy_kernel": q173_entropy_kernel,
        "q02_chunked_scan": q02_chunked_scan,
        "q35_string_spans": q35_string_spans,
        "q30_carve_roundtrip": q30_carve_roundtrip,
        "q31_carve_declared": q31_carve_declared,
        "q32_carve_structured": q32_carve_structured,
        "q33_carve_remaining": q33_carve_remaining,
        "q102_retention_cohorts": q102_retention_cohorts,
        "q103_event_transitions": q103_event_transitions,
        "q109_boilerplate_removal": q109_boilerplate_removal,
        "q112_snapshot_diff": q112_snapshot_diff,
        "q113_fk_orphans": q113_fk_orphans,
        "q119_split_assignment": q119_split_assignment,
        "q120_ivfpq_residual": q120_ivfpq_residual,
        "q121_filtered_ann": q121_filtered_ann,
        "q128_hilbert": q128_hilbert,
        "q129_kmv_set_ops": q129_kmv_set_ops,
        "q130_temperature_sample": q130_temperature_sample,
        "q132_weighted_median": q132_weighted_median,
        "q133_json_extract": q133_json_extract,
        "q135_format_roundtrip": q135_format_roundtrip,
        "q136_substring_dedup": q136_substring_dedup,
        "q137_kmeans": q137_kmeans,
        "q138_privacy_audit": q138_privacy_audit,
        "q141_dense_timeline": q141_dense_timeline,
        "q142_schema_evolution": q142_schema_evolution,
        "q143_time_travel": q143_time_travel,
        "q144_collocations": q144_collocations,
        "q145_tfidf_keywords": q145_tfidf_keywords,
        "q146_inference_batching": q146_inference_batching,
        "q150_feature_store": q150_feature_store,
        "q151_semantic_decontamination": q151_semantic_decontamination,
        "q152_cluster_best_keep": q152_cluster_best_keep,
        "q159_data_card": q159_data_card,
        "q162_sft_spans": q162_sft_spans,
        "q163_prefix_cache_plan": q163_prefix_cache_plan,
        "q165_equidepth_histogram": q165_equidepth_histogram,
        "q166_domain_caps": q166_domain_caps,
        "q167_jpeg_decode": q167_jpeg_decode,
        "q168_mp3_frames": q168_mp3_frames,
        "q169_vorbis_meta": q169_vorbis_meta,
        "q170_flac_decode": q170_flac_decode,
        "q172_fasttext_subword": q172_fasttext_subword,
        "q09_run_summary": q09_run_summary,
        "q24_pricing_summary": q24_pricing_summary,
        "q127_bigram_lm": q127_bigram_lm,
        "q131_crawl_pipeline": q131_crawl_pipeline,
        "q19_ngram_jaccard": q19_ngram_jaccard,
        "q71_edit_distance_neardup": q71_edit_distance_neardup,
    }


def oracle_sql() -> dict[str, str]:
    # Same window-first ordering as queries() — see the comment there.
    return {
        # --- driver window (first 50) -----------------------------------
        # Round-7 cut, per VERDICT r6 item 7: with the backlog at zero,
        # the window holds (a) the irreplaceable composites — q02 scan
        # kernel and q30-q33, whose carve engine was re-batched this
        # round (collect_list window reassembly + Arrow-batch carve);
        # (b) the queries round 7 touched: q171 (NEW — fastText .vec
        # weight loading, entering the contract with a window seat, the
        # standing rule) and q35 (UTF-16 regex scanner + scan spread);
        # and (c) the staleness cohort — ALL 42 r3-vintage rows (the
        # oldest green checks on record: q01-q57 families) plus the two
        # oldest r4 rows (q43, q51), so after this round no green row
        # is older than round 4 and staleness stays under ~3 rounds.
        # q26/q27 (auto-layout change, pair outputs proven identical)
        # and the RocksDB-re-verified streaming family were re-gated by
        # tools/drive_contract.py this round and rotate to the tail.
        "q02_chunked_scan": q02_sql(),
        "q30_carve_roundtrip": q30_sql(),
        "q31_carve_declared": q31_sql(),
        "q32_carve_structured": q32_sql(),
        "q33_carve_remaining": q33_sql(),
        "q171_fasttext_classify": q171_sql(),
        "q172_fasttext_subword": q172_sql(),
        "q173_entropy_kernel": q173_sql(),
        "q35_string_spans": q35_sql(),
        "q01_chunk_plan": q01_sql(),
        "q03_scan_counts": q03_sql(),
        "q04_entropy": q04_sql(),
        "q05_sessionize": q05_sql(),
        "q06_join_history": q06_sql(),
        "q07_left_join_coalesce": q07_sql(),
        "q08_group_dedup": q08_sql(),
        "q09_run_summary": q09_sql(),
        "q10_case_mapping": q10_sql(),
        "q11_time_conversions": q11_sql(),
        "q12_url_parse": q12_sql(),
        "q13_email_split": q13_sql(),
        "q14_phone_plausible": q14_sql(),
        "q15_normalize_url": q15_sql(),
        "q16_string_flags": q16_sql(),
        "q17_extract_urls": q17_sql(),
        "q18_exact_dedup": q18_sql(),
        "q19_ngram_jaccard": q19_sql(),
        "q20_token_stats": q20_sql(),
        "q21_quality": q21_sql(),
        "q22_langid": q22_sql(),
        "q23_cosine_topk": q23_sql(),
        "q24_pricing_summary": q24_sql(),
        "q25_top_orders": q25_sql(),
        "q28_lsh_topk": q28_sql(),
        "q29_media_meta": q29_sql(),
        "q34_ivf_topk": q34_sql(),
        "q36_dedup_clusters": q36_sql(),
        "q37_stream_sessionize": q37_sql(),
        "q38_pack_sequences": q38_sql(),
        "q39_hash_sample": q39_sql(),
        "q40_pii_scrub": q40_sql(),
        "q41_vocab_topk": q41_sql(),
        "q42_decontaminate": q42_sql(),
        "q44_repetition_metrics": q44_sql(),
        "q45_session_window": q45_sql(),
        "q46_kmv_sketch": q46_sql(),
        "q47_stream_window_agg": q47_sql(),
        "q48_asof_join": q48_sql(),
        "q49_countmin": q49_sql(),
        "q50_weighted_sample": q50_sql(),
        "q43_line_dedup": q43_sql(),
        # --- tail (driver-proven in r4-r6; all still swept tri-SF by
        #     tools/drive_contract.py before every commit) --------------
        "q51_crossdoc_dup": q51_sql(),
        "q167_jpeg_decode": q167_sql(),
        "q97_compaction_plan": q97_sql(),
        "q102_retention_cohorts": q102_sql(),
        "q103_event_transitions": q103_sql(),
        "q109_boilerplate_removal": q109_sql(),
        "q112_snapshot_diff": q112_sql(),
        "q113_fk_orphans": q113_sql(),
        "q118_curation_v2": q118_sql(),
        "q119_split_assignment": q119_sql(),
        "q128_hilbert": q128_sql(),
        "q129_kmv_set_ops": q129_sql(),
        "q130_temperature_sample": q130_sql(),
        "q132_weighted_median": q132_sql(),
        "q133_json_extract": q133_sql(),
        "q134_bfs_distances": q134_sql(),
        "q135_format_roundtrip": q135_sql(),
        "q137_kmeans": q137_sql(),
        "q138_privacy_audit": q138_sql(),
        "q141_dense_timeline": q141_sql(),
        "q142_schema_evolution": q142_sql(),
        "q143_time_travel": q143_sql(),
        "q144_collocations": q144_sql(),
        "q145_tfidf_keywords": q145_sql(),
        "q146_inference_batching": q146_sql(),
        "q150_feature_store": q150_sql(),
        "q151_semantic_decontamination": q151_sql(),
        "q152_cluster_best_keep": q152_sql(),
        "q159_data_card": q159_sql(),
        "q162_sft_spans": q162_sql(),
        "q163_prefix_cache_plan": q163_sql(),
        "q59_bpe_learn": q59_sql(),
        "q92_bpe_tokenize": q92_sql(),
        "q157_bitext_mining": q157_sql(),
        "q160_mmr_rerank": q160_sql(),
        "q165_equidepth_histogram": q165_sql(),
        "q166_domain_caps": q166_sql(),
        "q26_minhash_neardup": q26_sql(),
        "q27_simhash_neardup": q27_sql(),
        "q168_mp3_frames": q168_sql(),
        "q169_vorbis_meta": q169_sql(),
        "q121_filtered_ann": q121_sql(),
        "q122_semantic_dedup": q122_sql(),
        "q136_substring_dedup": q136_sql(),
        "q170_flac_decode": q170_sql(),
        "q120_ivfpq_residual": q120_sql(),
        "q88_ivfpq_topk": q88_sql(),
        "q52_stream_dedup": q52_sql(),
        "q53_stream_interval_join": q53_sql(),
        "q54_histogram_quantiles": q54_sql(),
        "q55_linear_quality": q55_sql(),
        "q56_interval_join_batch": q56_sql(),
        "q57_salted_join": q57_sql(),
        "q58_incremental_dedup": q58_sql(),
        "q60_curation_pipeline": q60_sql(),
        "q61_time_rollup": q61_sql(),
        "q62_bm25": q62_sql(),
        "q63_bloom_membership": q63_sql(),
        "q64_funnel": q64_sql(),
        "q65_scd2": q65_sql(),
        "q66_zorder": q66_sql(),
        "q67_token_rarity": q67_sql(),
        "q68_stratified_fixed_k": q68_sql(),
        "q69_skew_profile": q69_sql(),
        "q70_sketch_outliers": q70_sql(),
        "q71_edit_distance_neardup": q71_sql(),
        "q72_inverted_index": q72_sql(),
        "q73_pivot_matrix": q73_sql(),
        "q74_rollup_revenue": q74_sql(),
        "q75_stream_countmin": q49_sql(),  # streaming maintenance of the SAME sketch: q49's batch oracle
        "q76_merge_upsert": q76_sql(),
        "q77_label_centroids": q77_sql(),
        "q78_stream_static_join": q78_sql(),
        "q79_grouped_topn": q79_sql(),
        "q80_pagerank": q80_sql(),
        "q81_profile": q81_sql(),
        "q82_quality_deciles": q82_sql(),
        "q83_multiset_ops": q83_sql(),
        "q84_corpus_mixture": q84_sql(),
        "q85_pq_topk": q85_sql(),
        "q86_sq8_quantize": q86_sql(),
        "q87_binary_hamming_topk": q87_sql(),
        "q89_webdataset": q89_sql(),
        "q90_shard_manifest": q90_sql(),
        "q91_coarse_refine_topk": q91_sql(),
        "q93_embedding_neardup": q93_sql(),
        "q94_doc_fingerprint": q94_sql(),
        "q95_incremental_minhash": q95_sql(),
        "q98_cube_summary": q98_sql(),
        "q99_resize_images": q99_sql(),
        "q100_frame_sample": q100_sql(),
        "q101_audio_windows": q101_sql(),
        "q104_stream_neardup": q104_sql(),
        "q105_chunk_documents": q105_sql(),
        "q106_gopher_flags": q106_sql(),
        "q107_c4_clean": q107_sql(),
        "q108_hll_distinct": q108_sql(),
        "q110_grouping_sets": q110_sql(),
        "q111_moving_window": q111_sql(),
        "q114_tfrecord_roundtrip": q114_sql(),
        "q115_grouped_median": q115_sql(),
        "q116_grouped_mode": q116_sql(),
        "q117_contamination_scores": q117_sql(),
        "q123_prefix_filter_join": q123_sql(),
        "q124_html_extract": q124_sql(),
        "q125_warc_roundtrip": q125_sql(),
        "q126_small_qty_revenue": q126_sql(),
        "q127_bigram_lm": q127_sql(),
        "q131_crawl_pipeline": q131_sql(),
        "q139_patch_means": q139_sql(),
        "q140_stream_crawl_ingest": q140_sql(),
        "q147_persisted_index": q88_sql(),  # persisted index must answer like q88
        "q148_watermark_late_drop": q148_sql(),
        "q149_stream_outer_join": q149_sql(),
        "q153_png_decode": q153_sql(),
        "q154_audio_energy": q154_sql(),
        "q155_cdc_dedup": q155_sql(),
        "q156_gif_decode": q156_sql(),
        "q158_tiff_decode": q153_sql(),  # same pixel gradient + output shape as PNG
        "q161_raster_consistency": q161_sql(),
        "q164_nested_semijoin": q164_sql(),
        "q96_star_join": q96_sql(),
    }
