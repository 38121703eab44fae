"""Text analysis operators: language ID, quality scoring, token
counting, document fingerprinting.

All pure Catalyst column expressions (regexp counts, array ops,
hashes) — language ID and quality scoring over a trillion tokens must
never leave the JVM.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny stopword marker sets per language — heuristic n-gram/stopword
# language ID in the spirit of langid's feature voting
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "was", "for"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "es": ["el", "la", "los", "las", "que", "de", "y", "es", "en", "por"],
    "fr": ["le", "la", "les", "et", "est", "pas", "pour", "que", "une", "dans"],
}


def tokens(col: Column) -> Column:
    """Whitespace tokens of lowercased text."""
    return F.filter(F.split(F.lower(col), r"\s+"), lambda t: t != "")


def token_count_whitespace(col: Column) -> Column:
    return F.size(tokens(col))


def detect_language(col: Column) -> Column:
    """argmax over marker votes; 'und' (undetermined) when no marker hits."""
    toks = F.array_distinct(tokens(col))
    best_lang = F.lit("und")
    best_score = F.lit(0)
    for lang, words in LANG_MARKERS.items():
        score = F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words])))
        improves = score > best_score
        best_lang = F.when(improves, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(improves, score).otherwise(best_score)
    return best_lang


def fingerprint_pinned(col: Column, num_shingles: int = 8, shingle_k: int = 16) -> Column:
    """Engine-pinned winnowing fingerprint: md5-hex each k-char shingle
    of the normalized text, keep the num_shingles lexicographically
    smallest (hex sort == 128-bit numeric sort), md5 the joined mins.
    Robust to small edits; collision-resistant enough for blocking.
    Every step — normalize, shingle, md5, sort, slice, concat — replays
    verbatim in ANSI SQL / DuckDB, so oracle gates can hash-match the
    fingerprints themselves rather than just downstream pair
    identities, at the cost of one md5 per shingle."""
    from swiftbeaver_spark.llm.dedup import char_shingles

    mins = F.slice(
        F.array_sort(F.transform(char_shingles(col, shingle_k), lambda s: F.md5(s))),
        1,
        num_shingles,
    )
    return F.md5(F.concat_ws(",", mins))


def linear_quality_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix_len: int = 3,
    weights: DataFrame | None = None,
) -> DataFrame:
    """fastText/CCNet-shaped linear quality scorer: hash each token
    into 16^prefix_len feature buckets, dot the document's bag of
    features with a weight vector, normalize by length. The weights
    here are a deterministic md5-derived stand-in (integers in
    [-1000, 1000], so partial sums are EXACT in any aggregation order
    — no float drift between engines); REAL weights arrive as the
    optional `weights` DataFrame (token, label='quality', weight_micro
    — e.g. from a fastText .vec file via llm/weights.py's
    parse_fasttext_vec_lines + token_label_weights), which swaps the closed
    form for a broadcast-joined lookup with the SAME output schema —
    the stand-in -> production switch is this one argument
    (llm/weights.py for the scale notes; detect_language's weighted
    counterpart is weights.classify_documents).

    Scale: explode -> map-side-combinable sum on the doc key; one
    shuffle, weights never materialize as a table (closed-form md5
    expression, JVM-side)."""
    from swiftbeaver_spark.llm.dedup import normalized_text

    if weights is not None:
        from swiftbeaver_spark.llm.weights import weighted_quality_score

        return weighted_quality_score(df, weights, text_col=text_col, id_col=id_col)

    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.filter(
                F.split(normalized_text(F.col(text_col)), " "),
                lambda t: t != "",
            )
        ).alias("token"),
    )
    bucket = F.substring(F.md5(F.concat(F.lit("f:"), F.col("token"))), 1, prefix_len)
    weight = (
        F.conv(F.substring(F.md5(F.concat(F.lit("w:"), bucket)), 1, 8), 16, 10)
        .cast("long")
        % 2001
        - 1000
    )
    out = (
        toks.select("doc_id", weight.alias("w"))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum("w").cast("long").alias("score_sum"),
        )
    )
    # quality_score_micro: the score as an EXACT integer —
    # trunc(1000*score_sum/n) (the score itself is score_sum/(1000*n)
    # in [-1,1]). Spark's `div` and DuckDB's `//` both truncate toward
    # zero, so the value is engine-identical for either sign. The
    # earlier ROUND(double, 6) form hit decimal-half rounding
    # disagreements between engines at sf0.1 (e.g. S/80000 landing
    # exactly on x.xxxxxx5): integers cannot.
    micro = F.expr("(1000 * score_sum) div n_tokens")
    return out.withColumn("quality_score_micro", micro)


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 relevance of every document against a fixed query-term
    set, with a RATIO idf — idf_r = (N - df + 0.5) / (df + 0.5) — in
    place of the usual log(idf_r). This is a rank-similar DETERMINISTIC
    VARIANT, not standard BM25: log's monotonicity makes the per-TERM
    contribution order-preserving, but the per-doc score is a SUM over
    query terms, and summing ratio-idf weights terms differently than
    summing log-idf — multi-term document rankings can diverge from
    textbook BM25 (they coincide exactly for single-term queries). The
    trade is deliberate: the arithmetic stays inside IEEE
    correctly-rounded ops (+,-,*,/), so scores are bit-reproducible
    across engines — transcendental log is the one piece libms
    disagree on.

    Scale: doc lengths and per-(doc, term) tfs are one map pass over
    the corpus; df per term and the global avgdl are tiny aggregates
    broadcast back; the score is a map-side expression. No shuffle
    carries more than one row per (doc, query term) — query terms are
    a handful, so this is O(matching docs), the inverted-index shape
    without materializing an index.
    """
    toks = docs.select(
        F.col(id_col),
        token_count_whitespace(F.col(text_col)).cast("double").alias("dl"),
        F.explode(tokens(F.col(text_col))).alias("term"),
    ).where(F.col("term").isin(*query_terms))
    tf = toks.groupBy(id_col, "dl", "term").agg(
        F.count("*").cast("double").alias("tf")
    )
    n_docs = docs.select(F.count("*").cast("double").alias("n"))
    df_t = (
        tf.groupBy("term")
        .agg(F.count("*").cast("double").alias("df"))
        .join(F.broadcast(n_docs))
        .withColumn("idf_r", (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    )
    avgdl = (
        docs.select(
            token_count_whitespace(F.col(text_col)).cast("double").alias("dl")
        )
        .agg((F.sum("dl") / F.count("*")).alias("avgdl"))
    )
    core = (
        tf.join(F.broadcast(df_t.select("term", "idf_r")), "term")
        .join(F.broadcast(avgdl))
        .withColumn(
            "part",
            F.col("idf_r")
            * (F.col("tf") * (k1 + 1.0))
            / (F.col("tf") + k1 * (1.0 - b + b * (F.col("dl") / F.col("avgdl")))),
        )
    )
    return core.groupBy(id_col).agg(
        F.sum("part").alias("bm25"),
        F.count("*").cast("long").alias("n_terms_hit"),
    )


def token_rarity(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Mean token rarity per document — a rare-word quality signal:
    for each token instance, rarity_milli = (1000 * total corpus token
    instances) div that token's corpus count (integer div, exact);
    the document score is the integer-sum of rarities over its tokens
    divided by its token count (one exact double division at the end).
    All-integer accumulation means zero float-order sensitivity — the
    score is bit-identical on any engine and any partitioning.

    Scale: token counts are one shuffle on the token value with
    map-side combine (the word-count shape); totals broadcast; the
    per-doc sum shuffles on doc id. The hot-token skew a global sort
    would feel is absorbed by partial aggregation.
    """
    inst = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term")
    )
    counts = inst.groupBy("term").agg(F.count("*").cast("long").alias("c"))
    total = counts.agg(F.sum("c").cast("long").alias("n_total"))
    scored = (
        inst.join(counts, "term")
        .join(F.broadcast(total))
        .withColumn("rar_milli", F.expr("(1000 * n_total) div c"))
    )
    return scored.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_tok"),
        F.sum("rar_milli").cast("long").alias("rarity_sum_milli"),
        (F.sum("rar_milli") / F.count("*")).alias("mean_rarity_milli"),
    )


def gopher_quality_flags(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-rule quality flags (Rae et al. 2021, published repetition/
    format filters):
    per-doc booleans for the word-count window, mean-word-length
    window, alphabetic-word fraction, symbol-to-word ratio, and
    bullet-line fraction, plus the conjunction `passes_gopher`.

    Every threshold is evaluated by INTEGER cross-multiplication
    (e.g. 5*alpha_words >= 4*n_words instead of ratio >= 0.8), so the
    flags are bit-identical on any engine and partitioning — no float
    ratios anywhere. One codegen pass, no shuffle."""
    c = F.trim(F.col(text_col))
    words = F.filter(F.split(c, r"\s+"), lambda w: F.length(w) > 0)
    n_words = F.size(words)
    word_chars = F.aggregate(words, F.lit(0), lambda acc, w: acc + F.length(w))
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[a-zA-Z]")))
    symbols = F.size(F.regexp_extract_all(c, F.lit(r"#|\.\.\."), F.lit(0)))
    lines = F.split(F.col(text_col), "\n")
    n_lines = F.size(lines)
    bullet_lines = F.size(
        F.filter(lines, lambda ln: F.trim(ln).rlike(r"^[-*•]"))
    )
    out = df.select(
        "*",
        n_words.cast("long").alias("g_n_words"),
        word_chars.cast("long").alias("g_word_chars"),
        alpha_words.cast("long").alias("g_alpha_words"),
        symbols.cast("long").alias("g_symbols"),
        bullet_lines.cast("long").alias("g_bullet_lines"),
        n_lines.cast("long").alias("g_n_lines"),
    )
    words_ok = (F.col("g_n_words") >= 50) & (F.col("g_n_words") <= 100_000)
    mwl_ok = (F.col("g_word_chars") >= 3 * F.col("g_n_words")) & (
        F.col("g_word_chars") <= 10 * F.col("g_n_words")
    )
    alpha_ok = 5 * F.col("g_alpha_words") >= 4 * F.col("g_n_words")
    symbol_ok = 10 * F.col("g_symbols") <= F.col("g_n_words")
    bullet_ok = 10 * F.col("g_bullet_lines") <= 9 * F.col("g_n_lines")
    return (
        out.withColumn("word_count_ok", words_ok)
        .withColumn("mean_word_len_ok", mwl_ok)
        .withColumn("alpha_frac_ok", alpha_ok)
        .withColumn("symbol_ratio_ok", symbol_ok)
        .withColumn("bullet_frac_ok", bullet_ok)
        .withColumn(
            "passes_gopher",
            words_ok & mwl_ok & alpha_ok & symbol_ok & bullet_ok,
        )
    )


def c4_clean_lines(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """C4-style line cleaning (Raffel et al. 2020): keep only lines
    that end in terminal punctuation (. ! ? ") and contain >= 3 words;
    drop the whole document if it mentions 'lorem ipsum' or contains
    '{'. Returns (doc_id, clean_text, n_kept, n_dropped) with kept
    lines rejoined in order.

    Row-local array ops (split / filter / array_join) in one codegen
    pass — line order is preserved by construction, so no window or
    shuffle exists anywhere."""
    lines = F.split(F.col(text_col), "\n")
    keep = F.filter(
        lines,
        lambda ln: F.trim(ln).rlike('[.!?"]$')
        & (F.size(F.filter(F.split(F.trim(ln), r"\s+"), lambda w: F.length(w) > 0)) >= 3),
    )
    doc_ok = ~F.lower(F.col(text_col)).contains("lorem ipsum") & ~F.col(
        text_col
    ).contains("{")
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.when(doc_ok, F.array_join(keep, "\n")).otherwise(F.lit("")).alias("clean_text"),
        F.when(doc_ok, F.size(keep)).otherwise(F.lit(0)).cast("long").alias("n_kept"),
        F.when(doc_ok, F.size(lines) - F.size(keep))
        .otherwise(F.size(lines))
        .cast("long")
        .alias("n_dropped"),
    )


def html_extract_text(col: Column) -> Column:
    """Visible-text extraction from HTML — the first stage of every
    web-crawl curation pipeline (the boilerplate CONTENT selection that
    trafilatura/jusText refine; this is the deterministic regex core):

      1. drop <script>/<style> element BODIES (their text is code, not
         content) and <!-- comments -->;
      2. strip remaining tags to a space (space, not empty — adjacent
         block elements must not weld words together);
      3. decode the five standard named entities plus &#39;, with
         &amp; decoded LAST so '&amp;lt;' correctly yields the literal
         '&lt;' instead of double-decoding to '<';
      4. collapse whitespace.

    Pure regexp_replace/replace chain — whole-stage codegen, one
    projection, no Python. Patterns are shared Java-regex/RE2 subset
    ((?is) inline flags, lazy .*?, \\b) so any SQL engine replays the
    extraction byte-for-byte."""
    t = F.regexp_replace(col, r"(?is)<script\b[^>]*>.*?</script>", " ")
    t = F.regexp_replace(t, r"(?is)<style\b[^>]*>.*?</style>", " ")
    t = F.regexp_replace(t, r"(?s)<!--.*?-->", " ")
    t = F.regexp_replace(t, r"<[^>]+>", " ")
    for ent, ch in (
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&nbsp;", " "),
        ("&amp;", "&"),
    ):
        t = F.replace(t, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(t, r"\s+", " "))


def bigram_lm_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-trained bigram language-model plausibility score — the
    CCNet/KenLM-style quality signal (Wenzek et al. 2020 filter docs by
    LM perplexity; this is its deterministic integer-arithmetic bigram
    core). For every bigram INSTANCE (w1, w2) in a doc, the corpus
    conditional probability P(w2|w1) = C(w1 w2) / C(w1 ·) is expressed
    in integer milli-units ((1000 * c2) div c1); a doc's score is the
    integer mean over its instances. Low score = improbable word
    transitions (garbled/boilerplate-free text), high = common ones —
    rank-equivalent to negated bigram log-perplexity up to the
    arithmetic-vs-geometric mean, with NO transcendentals, so every
    value is bit-reproducible on any engine.

    Output: (doc_id, n_bigrams, sum_cond_milli, mean_cond_milli).

    Scale (restructured r14, guide §2.3 "aggregate before you shuffle"
    + §2.4 "share one exchange"): instances collapse FIRST to
    doc-bigram granularity (db: one partial-agg shuffle keyed
    (doc_id, w1, w2) — the multiplicity m rides along, so no
    information is lost). C2/C1 then derive from db, and because all
    three consumers sit behind the canonically identical db exchange,
    runtime exchange reuse evaluates the tokenize+explode subtree (and
    everything upstream of `df` — in q131 a WARC-parse + HTML-extract
    chain) ONCE instead of three times. The model attach is ONE
    db-granularity join against the bigram-level (C2 ⋈ C1) table —
    the previous shape joined the full INSTANCE table against C2 and
    C1 separately, i.e. two corpus-sized shuffle joins at any scale
    where the bigram table outgrows broadcast. Per-instance sums
    rebuild exactly as m-weighted sums (integer arithmetic, same
    values). Measured r14 (OPTIMIZATION_r14.md): q131 −22% on
    interleaved quiet-window minima; byte-identical outputs at all
    three SFs. The model "table" is never collected anywhere (unlike
    a broadcast KenLM binary, this trains and scores in the same
    distributed pass)."""
    toks = F.filter(
        F.split(
            F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")), " "
        ),
        lambda t: t != "",
    )
    n = F.size(toks)
    pairs = F.zip_with(
        F.slice(toks, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    inst = df.select(
        F.col(id_col).alias("doc_id"), F.explode(pairs).alias("bg")
    ).select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    db = inst.groupBy("doc_id", "w1", "w2").agg(F.count("*").alias("m"))
    c2 = db.groupBy("w1", "w2").agg(F.sum("m").alias("c2"))
    c1 = db.groupBy("w1").agg(F.sum("m").alias("c1"))
    # cond_milli is a pure function of (w1, w2), so it computes once per
    # bigram here and attaches to doc-bigram rows — identical per-instance
    # values to the old instance-level join (1000*c2 and the long/long
    # double division are value-equal because c2/c1 are the same counts)
    bg = (
        c2.join(c1, "w1")
        .withColumn(
            "cond_milli", F.floor(F.lit(1000) * F.col("c2") / F.col("c1"))
        )
        .select("w1", "w2", "cond_milli")
    )
    return (
        db.join(bg, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            # sum over instances == m-weighted sum over doc-bigrams, exactly
            F.sum("m").cast("bigint").alias("n_bigrams"),
            F.sum(F.col("m") * F.col("cond_milli"))
            .cast("bigint")
            .alias("sum_cond_milli"),
        )
        .withColumn(
            "mean_cond_milli",
            F.floor(F.col("sum_cond_milli") / F.col("n_bigrams")).cast("bigint"),
        )
    )
