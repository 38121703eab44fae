"""Training-data pipeline operators: packing, sampling, scrubbing,
vocabulary, decontamination.

The ops a 100 TB pretraining corpus actually goes through after dedup
(llm/dedup.py) and quality scoring (llm/text.py):

- pack_sequences:  GPT-style concat-and-chunk packing of the token
  stream into fixed-length training sequences, with a TWO-LEVEL
  distributed prefix sum (no global window over documents).
- hash_sample:     deterministic stratified sampling — md5-hash gate
  per row, per-stratum rates; reproducible across runs/executors, no
  RNG state shipped.
- pii_scrub:       regex redaction (emails, phones) with per-type
  counts; pure Catalyst regexp_replace/regexp_extract_all.
- vocab_topk:      corpus token vocabulary with frequencies, top-k by
  (freq desc, token asc); partial aggregation then a single narrow
  shuffle, TakeOrdered for the cut.
- decontaminate:   benchmark-overlap check — flags training docs
  sharing any word n-gram with an eval set; the eval-set n-gram table
  broadcasts (eval sets are small by nature).
- line_dedup:      C4-style cross-document line dedup — first
  occurrence wins, docs reassemble from surviving lines.
- repetition_metrics: Gopher repetition signals (dup-bigram fraction,
  top-token share) via (doc, key) partial counts.

All seven are pure DataFrame ops (no Python in the hot path). Shuffle
keys are narrow (token, n-gram, block id) except line_dedup, which by
its published definition must shuffle on the LINE VALUE — bounded by
line length, and the one place a boilerplate-heavy corpus needs
upstream trivial-line filtering or salting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from swiftbeaver_spark.llm.dedup import normalized_text, word_ngrams


def token_count(col) -> "F.Column":
    """Whitespace token count of the normalized text (0 for empty/null
    — matches `CASE WHEN n='' THEN 0 ELSE length diff + 1 END`)."""
    n = normalized_text(F.coalesce(col, F.lit("")))
    return F.when(F.length(n) == 0, F.lit(0)).otherwise(
        F.length(n) - F.length(F.replace(n, F.lit(" "), F.lit(""))) + 1
    ).cast("long")


def pack_sequences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seq_len: int = 512,
    block: int = 4096,
) -> DataFrame:
    """Concat-and-chunk sequence packing: lay every document's tokens
    end-to-end in id order, slice the stream into fixed seq_len
    sequences, and emit one row per (doc, sequence) piece.

    The global token offset is a DISTRIBUTED prefix sum: per-block
    cumulative sums (window partitioned by block = id div `block`) plus
    a block-offset table that is rows/block long and broadcast back.
    No global single-partition window touches the document set — the
    only global window runs over the tiny block summary. At 10^9 docs
    and block=4096 the summary is ~250k rows; one task handles it.

    Output: (doc_id, seq_id, piece_tokens) — piece_tokens of doc
    doc_id land in training sequence seq_id. Docs with 0 tokens emit
    nothing.
    """
    toks = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        token_count(F.col(text_col)).alias("n_tok"),
    ).withColumn("blk", (F.col("doc_id") / block).cast("long"))
    w_in = (
        Window.partitionBy("blk")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    within = toks.withColumn("cum_in", F.sum("n_tok").over(w_in))
    w_blk = Window.orderBy("blk").rowsBetween(
        Window.unboundedPreceding, -1
    )
    blk_off = (
        toks.groupBy("blk")
        .agg(F.sum("n_tok").alias("blk_tot"))
        .withColumn("blk_off", F.coalesce(F.sum("blk_tot").over(w_blk), F.lit(0)))
        .select("blk", "blk_off")
    )
    off = (
        within.join(F.broadcast(blk_off), "blk")
        .withColumn("tok_start", F.col("blk_off") + F.col("cum_in") - F.col("n_tok"))
        .where(F.col("n_tok") > 0)
    )
    first_seq = F.floor(F.col("tok_start") / seq_len).cast("long")
    last_seq = F.floor((F.col("tok_start") + F.col("n_tok") - 1) / seq_len).cast("long")
    pieces = off.select(
        "doc_id",
        "tok_start",
        "n_tok",
        F.explode(F.sequence(first_seq, last_seq)).alias("seq_id"),
    )
    piece = F.least(
        (F.col("seq_id") + 1) * seq_len, F.col("tok_start") + F.col("n_tok")
    ) - F.greatest(F.col("seq_id") * seq_len, F.col("tok_start"))
    return pieces.select(
        "doc_id", "seq_id", piece.cast("long").alias("piece_tokens")
    )


def _rate_threshold(rate: int) -> str:
    """Threshold string for a 0-256 byte rate. The gate compares the
    first TWO hex chars of md5 lexicographically, so rate=256 must map
    to a string above every hex pair ('g' > 'ff') and rate<=0 to one
    at/below '00' — f'{256:02x}' would be the 3-char '100', which
    sorts below '17' of the 256 prefixes and silently kept ~7%."""
    if rate <= 0:
        return "00"
    if rate >= 256:
        return "g"
    return f"{rate:02x}"


def hash_sample(
    df: DataFrame,
    id_col: str = "doc_id",
    strata_col: str = "lang",
    rates: dict[str, int] | None = None,
    default_rate: int = 64,
) -> DataFrame:
    """Deterministic stratified sampling: keep a row iff the first hex
    byte of md5(id) is below its stratum's threshold (rate/256 of the
    keyspace). Reproducible on any cluster — no RNG, no seed shipping,
    membership is a pure function of the id. Rates are per-stratum
    byte thresholds (0 = drop all ... 256 = keep all)."""
    rates = rates or {}
    gate = F.substring(
        F.md5(F.encode(F.col(id_col).cast("string"), "UTF-8")), 1, 2
    )
    thr = None
    for stratum, rate in sorted(rates.items()):
        hexthr = F.lit(_rate_threshold(rate))
        cond = F.col(strata_col) == stratum
        thr = F.when(cond, hexthr) if thr is None else thr.when(cond, hexthr)
    default_thr = F.lit(_rate_threshold(default_rate))
    thr = thr.otherwise(default_thr) if thr is not None else default_thr
    return df.where(gate < thr)


EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"


def pii_scrub(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Redact emails then phones from `text_col`, appending
    (scrubbed, n_emails, n_phones). Counts come from
    regexp_extract_all BEFORE replacement; both regexes are RE2-safe
    (no backrefs/lookaround) so Spark's Java regex and external SQL
    engines agree on every match."""
    c = F.col(text_col)
    n_emails = F.size(F.regexp_extract_all(c, F.lit(EMAIL_RE), F.lit(0)))
    scrub1 = F.regexp_replace(c, EMAIL_RE, "<EMAIL>")
    n_phones = F.size(F.regexp_extract_all(scrub1, F.lit(PHONE_RE), F.lit(0)))
    scrubbed = F.regexp_replace(scrub1, PHONE_RE, "<PHONE>")
    return df.withColumns(
        {
            "scrubbed": scrubbed,
            "n_emails": n_emails.cast("int"),
            "n_phones": n_phones.cast("int"),
        }
    )


def vocab_topk(
    df: DataFrame, text_col: str = "text", k: int = 200
) -> DataFrame:
    """Corpus vocabulary: token -> frequency, top-k by (freq desc,
    token asc). explode keeps the shuffle narrow (token, partial
    count); orderBy+limit compiles to TakeOrdered — no global sort
    materializes."""
    toks = df.select(
        F.explode(
            F.filter(F.split(normalized_text(F.col(text_col)), " "), lambda t: t != "")
        ).alias("token")
    )
    return (
        toks.groupBy("token")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(k)
    )


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
) -> DataFrame:
    """C4-style cross-document line deduplication: a line that occurs
    in several documents survives only at its FIRST occurrence (lowest
    (doc_id, position)); every doc reassembles from its surviving
    lines in original order. Docs whose every line is claimed
    elsewhere drop out entirely.

    Scale shape: ONE shuffle on the line value (the same shuffle the
    published C4 pipeline pays), then a per-doc aggregation for
    reassembly. The first-occurrence pick is MIN(struct(doc_id, pos))
    per line — a partial aggregate, not a window: map tasks combine
    locally, so a boilerplate line occurring in 10^8 documents ships
    ONE row per map partition through the shuffle instead of funneling
    10^8 rows into one window partition (the hot-key skew the window
    formulation had). The min struct carries (doc_id, pos) with it, so
    no join back to the exploded lines is needed either — the line
    value itself never traverses the shuffle more than once per
    (line, map task). Nothing is driver-side; reassembly uses
    collect_list + array_sort inside the aggregate, bounded by
    document size."""
    lines = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "line"),
    )
    kept = lines.groupBy("line").agg(
        F.min(F.struct("doc_id", "pos")).alias("_sb_first")
    ).select(
        F.col("_sb_first.doc_id").alias("doc_id"),
        F.col("_sb_first.pos").alias("pos"),
        "line",
    )
    return (
        kept.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
                sep,
            ).alias("deduped_text"),
            F.count("*").cast("long").alias("n_kept_lines"),
        )
    )


def repetition_metrics(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition signals per document: the fraction of
    token bigrams that are repeats of an earlier bigram, and the share
    of the document taken by its single most frequent token. Both are
    explode -> per-(doc, key) partial count -> per-doc aggregate: the
    shuffle keys are (doc_id, token) / (doc_id, bigram) — narrow, well
    spread, and map-side combined."""
    toks = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.explode(
            F.filter(F.split(normalized_text(F.col(text_col)), " "), lambda t: t != "")
        ).alias("token"),
    )
    tok_stats = (
        toks.groupBy("doc_id", "token")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            (F.max("c") / F.sum("c")).alias("top_token_frac"),
            F.sum("c").cast("long").alias("n_tokens"),
        )
    )
    # word_ngrams is distinct per doc; the raw bigram count needs no
    # extra corpus scan — normalized tokens are never empty, so
    # n_bigrams = n_tokens - 1 straight off tok_stats
    bigrams = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.explode(word_ngrams(F.col(text_col), 2)).alias("bg"),
    )
    distinct_bg = bigrams.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_distinct_bigrams")
    )
    return (
        tok_stats.join(distinct_bg, "doc_id", "left")
        .withColumn("n_bigrams", F.greatest(F.col("n_tokens") - 1, F.lit(0)))
        .select(
            "doc_id",
            "n_tokens",
            F.round("top_token_frac", 6).alias("top_token_frac"),
            F.round(
                F.when(
                    F.col("n_bigrams") > 0,
                    (
                        F.col("n_bigrams")
                        - F.coalesce(F.col("n_distinct_bigrams"), F.lit(0))
                    )
                    / F.col("n_bigrams"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("dup_bigram_frac"),
        )
    )


def decontaminate(
    train: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram_n: int = 8,
) -> DataFrame:
    """Benchmark decontamination: for each training doc, count the
    distinct word n-grams it shares with ANY benchmark doc and how
    many benchmark docs it collides with. The benchmark n-gram table
    broadcasts (eval sets are ~10^3-10^5 docs); training-side grams
    stream through a map-side hash join — no shuffle of the corpus."""
    bgrams = bench.select(
        F.col(id_col).alias("bench_id"),
        F.explode(word_ngrams(F.col(text_col), ngram_n)).alias("ng"),
    )
    tgrams = train.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_ngrams(F.col(text_col), ngram_n)).alias("ng"),
    )
    return (
        tgrams.join(F.broadcast(bgrams), "ng")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("ng").alias("n_shared_ngrams"),
            F.countDistinct("bench_id").alias("n_bench_docs"),
        )
    )


def weighted_sample(
    df: DataFrame,
    k: int,
    id_col: str = "doc_id",
    weight_col: str = "n_chars",
) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis-Spirakis A-ES): each row gets a reproducible uniform
    u in (0, 1] derived from md5(id), a key ln(u)/w, and the k
    largest keys win. Heavier rows draw keys closer to 0, so
    inclusion probability is proportional to weight — the standard
    temperature/size-weighted corpus-mixing primitive.

    Scale: membership is a pure function of (id, weight), so the
    sample reproduces on any cluster and any partitioning with no RNG
    state to ship, and the top-k is a TakeOrdered (per-partition
    heaps, no global sort). Caveat: the key needs ln(); two engines'
    libm may differ in the last ulp, which could flip a selection
    only if two keys collide to ~1e-16 relative — vanishing for real
    corpora.
    """
    # u = (first 8 md5 hex chars as int + 1) / 2^32, in (0, 1]
    u = (
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
        ).cast("double")
        + 1.0
    ) / F.lit(float(1 << 32))
    key = F.log(u) / F.col(weight_col).cast("double")
    ranked = df.withColumn("_es_key", key).orderBy(
        F.col("_es_key").desc(), F.col(id_col)
    )
    return ranked.limit(k).drop("_es_key")


def crossdoc_dup_ngrams(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram_n: int = 8,
) -> DataFrame:
    """Cross-document duplicated-n-gram fraction (the corpus-level
    repetition diagnostic behind substring-dedup decisions, Lee et
    al. 2022): for each doc, the fraction of its n-gram INSTANCES
    that are not the gram's first occurrence in (doc_id, position)
    corpus order. Per gram exactly one instance is "first"; every
    other instance — later docs AND later repeats inside the first
    doc — counts as duplicated.

    Scale: no per-gram window (a hot boilerplate gram would funnel
    its every instance through one sort partition). Instead:
    (doc, gram) partial counts with min position, an argmin per gram
    over those DISTINCT (doc, gram) rows, and a doc-level rollup —
    all map-side-combinable aggregates on narrow keys, so a gram
    occurring 10^9 times contributes one row per containing doc to
    the gram-level shuffle, not 10^9."""
    toks = F.split(normalized_text(F.col(text_col)), " ")
    n_grams_expr = F.greatest(F.size(toks) - F.lit(ngram_n - 1), F.lit(0))
    grams = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            F.transform(
                # sequence(1, 0) would yield [1, 0] (default step -1):
                # docs shorter than the gram width must produce NO grams
                F.when(
                    n_grams_expr >= 1, F.sequence(F.lit(1), n_grams_expr)
                ).otherwise(F.expr("array()").cast("array<int>")),
                lambda i: F.array_join(F.slice(toks, i, ngram_n), " "),
            )
        ).alias("pos", "ng"),
    )
    per_dg = grams.groupBy("doc_id", "ng").agg(
        F.count("*").cast("long").alias("c"), F.min("pos").alias("mp")
    )
    firsts = per_dg.groupBy("ng").agg(
        F.min(F.struct("doc_id", "mp")).alias("f")
    )
    owned = firsts.groupBy(F.col("f.doc_id").alias("doc_id")).agg(
        F.count("*").cast("long").alias("n_first")
    )
    return (
        per_dg.groupBy("doc_id")
        .agg(F.sum("c").cast("long").alias("n_ngrams"))
        .join(owned, "doc_id", "left")
        .select(
            "doc_id",
            "n_ngrams",
            (F.col("n_ngrams") - F.coalesce(F.col("n_first"), F.lit(0)))
            .cast("long")
            .alias("n_dup"),
            F.round(
                (F.col("n_ngrams") - F.coalesce(F.col("n_first"), F.lit(0)))
                / F.col("n_ngrams"),
                6,
            ).alias("dup_frac"),
        )
    )


def stratified_fixed_k(
    df: DataFrame,
    k: int,
    id_col: str = "doc_id",
    strata_col: str = "lang",
) -> DataFrame:
    """Deterministic EXACTLY-k-per-stratum sample: rank rows inside
    each stratum by md5(id) and keep rank <= k (all rows when a
    stratum holds fewer). Complements `hash_sample` (rate-based) and
    `weighted_sample` (global A-ES): membership is a pure function of
    the id set — no RNG, reproducible on any cluster or engine.

    Scale: one shuffle on the stratum key; the rank window sorts one
    stratum per partition. Strata are the unit of skew here (a 10^9-row
    stratum sorts in one partition) — for pathological strata sizes,
    pre-filter with `hash_sample` at a rate that overshoots k, then
    apply this exact cut; the md5 gate composes (both are prefix cuts
    of the same hash order).
    """
    from pyspark.sql import Window as W

    rank_key = F.md5(F.encode(F.col(id_col).cast("string"), "UTF-8"))
    w = W.partitionBy(strata_col).orderBy(rank_key, F.col(id_col))
    return (
        df.withColumn("_sb_rank", F.row_number().over(w))
        .where(F.col("_sb_rank") <= k)
        .drop("_sb_rank")
    )


def shard_assign(
    df: DataFrame,
    num_shards: int,
    order_col: str = "seq_id",
    out_col: str = "shard_id",
) -> DataFrame:
    """Deterministic equal-WIDTH shard assignment over the order key:
    shard_id = ((o - min) * num_shards) div (max - min + 1), with
    min/max from one tiny broadcast aggregate. Unlike
    repartitionByRange's SAMPLED boundaries this is a pure integer
    function of (min, max, o) — identical across engines, runs, and
    partitionings, so the resulting layout is oracle-checkable. For the
    packing pipeline's dense 0..N-1 seq ids (pack_sequences), equal
    width IS equal count; for sparse keys it is equal key-range (the
    curriculum-read-friendly layout), not equal rows."""
    mm = df.agg(
        F.min(order_col).cast("long").alias("_sb_mn"),
        F.max(order_col).cast("long").alias("_sb_mx"),
    )
    sid = F.expr(
        f"(({order_col} - _sb_mn) * {int(num_shards)}) div (_sb_mx - _sb_mn + 1)"
    )
    return (
        df.crossJoin(F.broadcast(mm))
        .withColumn(out_col, sid.cast("int"))
        .drop("_sb_mn", "_sb_mx")
    )


def write_assigned_shards(
    df: DataFrame,
    out_dir: str,
    num_shards: int,
    order_col: str = "seq_id",
    fmt: str = "parquet",
) -> None:
    """Training-shard writer over the EXPLICIT shard_assign layout:
    one `shard_id=N/` directory per shard, rows sorted by `order_col`
    within each. One shuffle, and the file->content mapping is a
    deterministic function of the data, so
    a manifest read back from the actual files is comparable against
    an independent recomputation (the q90 gate)."""
    assigned = shard_assign(df, num_shards, order_col)
    (
        assigned.repartition(num_shards, "shard_id")
        .sortWithinPartitions("shard_id", order_col)
        .write.mode("overwrite")
        .partitionBy("shard_id")
        .format(fmt)
        .save(out_dir)
    )


def corpus_mixture(
    df: DataFrame,
    weights: dict[str, float],
    k: int,
    corpus_col: str = "source",
    id_col: str = "doc_id",
    default_weight: float = 1.0,
) -> DataFrame:
    """Deterministic weighted corpus mixture — the data-mixing step
    before training: every row draws a md5-uniform u in [0,1) from its
    id and takes mix position u * n_corpus / weight; any prefix of the
    position order then holds each corpus in proportion to its WEIGHT,
    independent of corpus size (the n_corpus factor cancels size).
    `k` selects the mixture prefix.

    Scale: corpus sizes are a tiny broadcast aggregate; everything
    else is a map-side expression and the prefix is TakeOrdered — no
    window, no global sort, no per-corpus rank. Membership and order
    are pure functions of the id set: reproducible across engines,
    partitionings, and runs.
    """
    wt = None
    for corpus, w in sorted(weights.items()):
        cond = F.col(corpus_col) == corpus
        wt = F.when(cond, F.lit(float(w))) if wt is None else wt.when(cond, F.lit(float(w)))
    wt = wt.otherwise(F.lit(float(default_weight))) if wt is not None else F.lit(
        float(default_weight)
    )
    u = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("double")
        / F.lit(4294967296.0)
    )
    counts = df.groupBy(corpus_col).agg(F.count("*").cast("double").alias("_sb_n"))
    return (
        df.join(F.broadcast(counts), corpus_col)
        .withColumn("mix_pos", u * F.col("_sb_n") / wt)
        .drop("_sb_n")
        .orderBy("mix_pos", id_col)
        .limit(k)
    )


def chunk_documents(
    df: DataFrame,
    window_chars: int = 512,
    overlap_chars: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sliding-window document chunking — the context-window splitter
    an embedding/RAG pipeline runs before vectorizing: each doc yields
    ceil((len - overlap) / step) chunks of `window_chars` chars
    advancing by (window - overlap), each carrying (chunk_idx,
    char_start, chunk_text, n_chars). Short docs yield exactly one
    chunk. Pure Catalyst (sequence + transform + substring in one
    codegen pass — no UDF, no shuffle: chunking is embarrassingly
    row-local, and the explode factor is len/step per doc).

    Complements pack_sequences (q38): packing concatenates SHORT docs
    up to a budget; chunking splits LONG docs down to one."""
    if overlap_chars >= window_chars:
        raise ValueError("overlap_chars must be < window_chars")
    step = window_chars - overlap_chars
    n = F.greatest(
        F.ceil((F.length(F.col(text_col)) - F.lit(overlap_chars)) / F.lit(step)),
        F.lit(1),
    ).cast("int")
    chunk = F.explode(
        F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda i: F.struct(
                i.cast("long").alias("chunk_idx"),
                (i * step).cast("long").alias("char_start"),
                F.substring(
                    F.col(text_col), (i * step + 1).cast("int"), window_chars
                ).alias("chunk_text"),
            ),
        )
    )
    return df.select(F.col(id_col).alias("doc_id"), chunk.alias("c")).select(
        "doc_id",
        "c.chunk_idx",
        "c.char_start",
        "c.chunk_text",
        F.length("c.chunk_text").cast("long").alias("n_chars"),
    )


def boilerplate_line_removal(
    df: DataFrame,
    min_doc_freq: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
) -> DataFrame:
    """Corpus-level boilerplate removal: a line appearing in >=
    `min_doc_freq` DISTINCT documents (nav bars, cookie banners,
    license footers) is dropped from EVERY document — the web-corpus
    cleaner that complements line_dedup (which keeps first
    occurrences; this keeps none). Docs reassemble from surviving
    lines in original order; returns (doc_id, clean_text,
    n_kept_lines, n_boilerplate_lines).

    Scale shape: distinct (line, doc) then a partial-agg count per
    line — both map-side combinable, so a banner in 10^8 docs ships
    one row per map task; the boilerplate set joins back as a
    broadcast/left-anti on the line value (AQE: the flagged set is
    tiny next to the corpus), and reassembly is the same bounded
    collect_list-per-doc as line_dedup."""
    lines = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "line"),
    )
    flagged = (
        lines.select("line", "doc_id")
        .distinct()
        .groupBy("line")
        .agg(F.count("*").alias("_df"))
        .where(F.col("_df") >= min_doc_freq)
        .select("line")
    )
    kept = lines.join(flagged, "line", "left_anti")
    dropped = lines.join(flagged, "line", "left_semi")
    kept_agg = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            sep,
        ).alias("clean_text"),
        F.count("*").cast("long").alias("n_kept_lines"),
    )
    drop_counts = dropped.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_boilerplate_lines")
    )
    all_docs = df.select(F.col(id_col).cast("long").alias("doc_id"))
    return (
        all_docs.join(kept_agg, "doc_id", "left")
        .join(drop_counts, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_kept_lines", F.lit(0)).cast("long").alias("n_kept_lines"),
            F.coalesce("n_boilerplate_lines", F.lit(0))
            .cast("long")
            .alias("n_boilerplate_lines"),
        )
    )


def contamination_scores(
    train: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram_n: int = 8,
) -> DataFrame:
    """Graded contamination (the published n-gram-overlap metric, e.g.
    GPT-3 appendix C / PaLM contamination analysis): for EVERY train
    doc, the fraction of its distinct word n-grams that appear in the
    eval set — not just q42's boolean hit. Returns (doc_id, n_ngrams,
    n_contaminated, contamination_bp) with the ratio as integer
    basis points (floor(10000 * shared / total)) so the score is
    engine-exact. `id_col` must be unique per train doc (every caller's
    contract already; duplicate ids would double-count their grams).

    Scale (r15 — the r14 single-pass shape minus its gram shuffle):
    the eval gram set broadcasts (eval corpora are small by
    construction); train grams are generated map-side by the explode,
    flagged by ONE broadcast left join, and collapse immediately into
    per-doc (count, hit-count) partial aggregates — correct with no
    (doc, gram) pre-dedup because `word_ngrams` is array_distinct per
    doc, so the exploded pairs are already unique. The ONLY exchange
    carries two longs per doc (a doc's grams never leave its scan
    partition), where the r14 shape shuffled the full gram stream once
    and the r13 two-pass shape shuffled it twice and evaluated the
    train subtree twice. Docs shorter than n grams score 0 of 1
    sentinel gram (never divide by zero). Row-identity vs the retired
    two-pass formulation is pinned by tests/test_pipeline_ops.py
    against an inline reference."""
    egrams = bench.select(
        F.explode(word_ngrams(F.col(text_col), ngram_n)).alias("ng")
    ).distinct()
    tgrams = train.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_ngrams(F.col(text_col), ngram_n)).alias("ng"),
    )
    flagged = tgrams.join(
        F.broadcast(egrams.withColumn("_hit", F.lit(True))), "ng", "left"
    )
    per_doc = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_ngrams"),
        F.sum(F.when(F.col("_hit"), 1).otherwise(0))
        .cast("long")
        .alias("n_contaminated"),
    )
    return per_doc.withColumn(
        "contamination_bp",
        F.floor(
            10000 * F.col("n_contaminated") / F.greatest(F.col("n_ngrams"), F.lit(1))
        ).cast("long"),
    )


def train_val_test_split(
    df: DataFrame,
    val_pct: int = 10,
    test_pct: int = 10,
    id_col: str = "doc_id",
    salt: str = "split",
) -> DataFrame:
    """Deterministic corpus split: an md5 gate over the document id
    maps each doc to train/val/test with the requested integer
    percentages — stable across runs, partitionings, engines, and
    corpus growth (a doc's split never changes when other docs are
    added, the property random assignment lacks). Adds a `split`
    column; percentages are exact in expectation, not exact-k (use
    stratified_fixed_k for exact counts).

    The gate is the q39 hash_sample convention: bucket = first 4 md5
    hex digits of 'salt:id' as an integer in [0, 65536); val takes
    the lowest val_pct% of bucket space, test the next test_pct%."""
    if val_pct + test_pct >= 100:
        raise ValueError("val_pct + test_pct must be < 100")
    bucket = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))), 1, 4),
        16,
        10,
    ).cast("long")
    val_hi = 65536 * val_pct // 100
    test_hi = val_hi + 65536 * test_pct // 100
    return df.withColumn(
        "split",
        F.when(bucket < val_hi, F.lit("val"))
        .when(bucket < test_hi, F.lit("test"))
        .otherwise(F.lit("train")),
    )


def temperature_sample(
    df: DataFrame,
    id_col: str = "doc_id",
    group_col: str = "lang",
) -> DataFrame:
    """Temperature-scaled corpus balancing — the multilingual sampling
    rule of mBERT/XLM-R (Conneau et al. 2020 sample languages with
    p_l proportional to n_l^alpha, alpha=0.5): downsample each group
    at rate sqrt(n_min / n_g), so sampled sizes scale with sqrt(n_g) —
    big languages stop drowning small ones without discarding the
    size signal entirely.

    Determinism: membership is the q39 md5-gate — keep a row iff the
    first 16 bits of md5(id) fall below floor(65536 * sqrt(n_min/n_g)).
    The rate computation is one double division + sqrt + floor, all
    IEEE-correctly-rounded ops any engine reproduces bit-for-bit; the
    gate compare is then pure integers. No RNG, no seed shipping,
    stable under corpus partitioning.

    Scale: one partial-agg shuffle for group counts; rates join back
    as a broadcast (|groups| rows); the filter is map-side. Returns
    the kept rows with `keep_threshold` attached."""
    counts = df.groupBy(group_col).agg(F.count("*").alias("_n"))
    nmin = counts.agg(F.min("_n").alias("_nmin"))
    rates = counts.crossJoin(F.broadcast(nmin)).select(
        group_col,
        F.floor(
            F.lit(65536)
            * F.sqrt(F.col("_nmin").cast("double") / F.col("_n"))
        )
        .cast("long")
        .alias("keep_threshold"),
    )
    gate = F.conv(
        F.substring(F.md5(F.encode(F.col(id_col).cast("string"), "UTF-8")), 1, 4),
        16,
        10,
    ).cast("long")
    return (
        df.join(F.broadcast(rates), group_col)
        .where(gate < F.col("keep_threshold"))
    )


def exact_substring_dedup(
    df: DataFrame,
    ngram_n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact duplicated-SUBSTRING removal (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better" —
    ExactSubstr): delete from every document each token span that
    appears verbatim elsewhere in the corpus, keeping only the
    CANONICAL first occurrence (min (doc, pos)). Their single-machine
    suffix array becomes a distributed n-gram anchoring: a token is
    removed iff some duplicated non-canonical `ngram_n`-gram window
    covers it. Every window inside a shared span of >= ngram_n tokens
    is itself duplicated, so shared-span interiors are removed
    EXACTLY at n-gram granularity — the q51 diagnostic turned into
    the rewrite it measures.

    Scale: the only corpus-keyed shuffle is the gram table (gram ->
    min (doc,pos) + count, both partial-aggregating); coverage
    explodes each duplicated window to its n positions (bounded
    n-fold fan-out of DUP windows only, not the corpus) and
    anti-joins tokens; reassembly is a per-doc bounded aggregation.

    Output: (doc_id, n_tokens, n_removed, cleaned) with `cleaned`
    the space-joined surviving tokens in original order."""
    toks_arr = F.filter(
        F.split(
            F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")), " "
        ),
        lambda t: t != "",
    )
    # NOT persisted: `base` is corpus-sized, and this function returns a
    # lazy frame — a persist here would outlive the query (nobody can
    # unpersist it after the caller materializes). Tokenization is
    # recomputed for the second scan (tok + grams), which is the right
    # trade at 100 TB where caching the corpus is infeasible anyway.
    base = df.select(F.col(id_col).alias("doc_id"), toks_arr.alias("toks"))
    tok = base.select(
        "doc_id", F.posexplode(F.col("toks")).alias("pos0", "w")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "w")
    n = ngram_n
    # guard: Spark sequence(1, 0) DESCENDS ([1, 0]) rather than being
    # empty, so docs shorter than the window need an explicit empty
    # window list (slice(start=0) is an executor error)
    windows = F.when(
        F.size("toks") >= n,
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - (n - 1)),
            lambda i: F.array_join(F.slice("toks", i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = base.select(
        "doc_id", F.posexplode(windows).alias("p0", "gram")
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "gram")
    stats = grams.groupBy("gram").agg(
        F.count("*").alias("cnt"),
        F.min(F.struct("doc_id", "p")).alias("canon"),
    )
    dup_windows = (
        grams.join(stats, "gram")
        .where(
            (F.col("cnt") > 1)
            & ~(
                (F.col("canon.doc_id") == F.col("doc_id"))
                & (F.col("canon.p") == F.col("p"))
            )
        )
        .select("doc_id", "p")
    )
    covered = dup_windows.select(
        "doc_id",
        F.explode(
            F.sequence(F.col("p"), F.col("p") + F.lit(n - 1))
        ).alias("pos"),
    ).distinct()
    kept = tok.join(covered, ["doc_id", "pos"], "left_anti")
    cleaned = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))),
                lambda s: s["w"],
            ),
            " ",
        ).alias("cleaned"),
        F.count("*").alias("n_kept"),
    )
    totals = base.select("doc_id", F.size("toks").alias("n_tokens"))
    return (
        totals.join(cleaned, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_removed"),
            F.coalesce(F.col("cleaned"), F.lit("")).alias("cleaned"),
        )
    )


def cdc_chunks(
    df: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CONTENT-DEFINED chunking (the LBFS/restic/borg storage-dedup
    primitive, Muthitacharoen et al. 2001): chunk boundaries fall
    where the k-char window's hash hits a target pattern (first md5
    hex digit '0' -> ~1/16 boundary rate, mean chunk ~16 chars), so
    boundaries RESYNCHRONIZE after insertions — a shifted copy shares
    almost all its chunks with the original, which fixed-size
    chunking (build_chunks, chunk_documents) structurally cannot do.
    The window hash is position-independent (md5 of the k-gram
    itself), so any engine replays the exact boundary set.

    Returns one row per chunk: (doc_id, chunk_idx, start, length,
    chunk_md5) — join chunk_md5 across docs for the storage-dedup
    ratio. All array ops JVM-side; one explode, no shuffle until the
    caller aggregates."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    n = F.length(norm)
    # boundary AFTER position i (1-based) when the k-gram ending at i
    # hashes into the target space
    bounds = F.filter(
        F.sequence(F.lit(k), F.greatest(n, F.lit(k))),
        lambda i: (i <= n)
        & (F.substring(F.md5(F.substring(norm, i - (k - 1), k)), 1, 1) == "0"),
    )
    starts = F.concat(F.array(F.lit(0)), bounds)
    ends = F.concat(bounds, F.array(n))
    spans = F.filter(
        F.zip_with(
            starts,
            ends,
            lambda s, e: F.struct(s.alias("s"), (e - s).alias("len")),
        ),
        lambda sp: sp["len"] > 0,
    )
    chunks = df.select(
        F.col(id_col).alias("doc_id"), norm.alias("_norm"), spans.alias("_spans")
    ).select(
        "doc_id",
        F.posexplode("_spans").alias("chunk_idx", "sp"),
        F.col("_norm"),
    )
    return chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.col("sp.s").cast("int").alias("start"),
        F.col("sp.len").cast("int").alias("length"),
        F.md5(F.substring(F.col("_norm"), F.col("sp.s") + 1, F.col("sp.len"))).alias(
            "chunk_md5"
        ),
    )


def domain_cap(
    df: DataFrame,
    domain_col: str = "source",
    id_col: str = "doc_id",
    order_col: str = "n_chars",
    cap: int = 15,
    salt_buckets: int = 16,
) -> DataFrame:
    """Per-domain document cap — the standard crawl-curation step that
    stops a handful of mega-domains from dominating a training mix:
    keep at most `cap` documents per domain under a DETERMINISTIC
    priority (order_col DESC, id ASC — e.g. longest docs first, id as
    total-order tie-break), drop the rest.

    Skew is the whole problem at 100 TB (one domain can be 1% of the
    crawl), so the rank runs TWO-STAGE: stage 1 takes the top `cap`
    within (domain, salt) where salt = md5(id) mod `salt_buckets` —
    bounding every window partition to ~|domain|/salts rows — and
    stage 2 takes the final top `cap` over the <= cap * salt_buckets
    survivors per domain. Any global top-cap member is necessarily in
    its salt bucket's top cap, so the two-stage result is EXACTLY the
    single-window result — an oracle can replay the plain one-window
    form. Both salts and priority are md5/integer — engine-neutral.

    Returns the kept rows of `df`, plus the final keep_rank."""
    salt = F.pmod(
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 4), 16, 10
        ).cast("long"),
        F.lit(salt_buckets),
    )
    w1 = Window.partitionBy(F.col(domain_col), salt).orderBy(
        F.col(order_col).desc(), F.col(id_col).asc()
    )
    stage1 = (
        df.withColumn("_r1", F.row_number().over(w1))
        .where(F.col("_r1") <= cap)
        .drop("_r1")
    )
    w2 = Window.partitionBy(domain_col).orderBy(
        F.col(order_col).desc(), F.col(id_col).asc()
    )
    return (
        stage1.withColumn("keep_rank", F.row_number().over(w2).cast("int"))
        .where(F.col("keep_rank") <= cap)
    )
