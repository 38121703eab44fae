"""fastText text-format (.vec) weight loading + weighted model-shaped
operators (VERDICT r6 item 3: the production path that replaces the
md5-derived stand-in weights in linear_quality_score / detect_language
with REAL model weights, config-only).

The `.vec` format is the public fastText/word2vec text export: a header
line "<n_words> <dim>", then one line per word: "<word> <v1> ... <vdim>"
(space-separated decimals). Supervised fastText models carry label
embeddings under a "__label__" word prefix; scoring a document against
label L is (1/n) * sum_t v_t . w_L — mean token vector dotted with the
label vector, i.e. a LINEAR model over token-level weights
weight(t, L) = v_t . w_L. That factorization is what makes the 100 TB
shape trivial: the token x label weight table is vocabulary-sized (not
corpus-sized), broadcasts, and scoring is explode -> broadcast hash
join -> map-side-combinable sum per (doc, label).

Scale notes:
- parse_fasttext_vec_lines parses DISTRIBUTED (split/cast in Catalyst
  over a text-line DataFrame), so a 10 GB .vec file fans out like any
  text source.
- token_label_weights crosses words x labels by driver-collecting the
  label side (#classes rows, tiny) and exploding it as literals per
  token — no join operator (a join form of a tiny cross plans or
  folds into a nested loop); the dot is a left-fold F.aggregate over
  zip_with products — JVM-side, and fold order is pinned (see below)
  so oracles can replay it term-by-term.
- Determinism across engines: per-(token,label) dots are quantized to
  integer micros (round(dot * 1e6)) BEFORE any aggregation, so
  document scores are exact int64 sums — no float summation-order
  drift between Spark's partial aggregates and a sequential oracle
  (the quality_score_micro convention, llm/text.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

LABEL_PREFIX = "__label__"

# token_label_weights unrolls label vectors into per-token plan
# literals; past this budget (labels x dim literals) the expression
# tree would bloat plan serialization/codegen (e.g. 176 labels x 300
# dims ~ 53k literals), so the build falls back to a broadcast hash
# join on a derived constant key (which, unlike a literal-key cross,
# does NOT constant-fold into a nested loop)
_LABEL_LITERAL_BUDGET = 4096

_WEIGHTS_DDL = "token string, label string, weight_micro long"


def parse_fasttext_vec_lines(lines: DataFrame, dim: int, value_col: str = "value") -> DataFrame:
    """Parse .vec-format lines (already minus the header) into
    (word, vector array<double>). Malformed lines — wrong field count or
    non-numeric components — are dropped, mirroring fastText's own
    loader which skips unparseable rows rather than failing a 10 GB
    load. Distributed: split + element casts, all Catalyst.

    Tokenization filters empty fields instead of trusting trim():
    Spark's trim strips only 0x20 spaces, so a CRLF-terminated file
    (every line ending in \\r, which \\s+ turns into a trailing empty
    field) or leading indentation would otherwise shift the field count
    and silently drop every row (round-7 review finding)."""
    parts = F.filter(F.split(F.col(value_col), r"\s+"), lambda t: t != "")
    # try_cast, not cast: under ANSI mode a malformed component must
    # become NULL (then drop the row), not fail the whole load
    vec = F.slice(parts, 2, dim).try_cast("array<double>")
    return (
        lines.select(
            # get(), not element_at(): NULL (not an ANSI error) on an
            # all-whitespace line whose filtered field list is empty
            F.get(parts, 0).alias("word"),
            vec.alias("vector"),
            F.size(parts).alias("_n"),
        )
        .where((F.col("_n") == dim + 1) & ~F.exists("vector", lambda v: v.isNull()))
        .drop("_n")
    )


def _dot(a: Column, b: Column) -> Column:
    """Left-fold dot product: ((0 + a1*b1) + a2*b2) + ... — the pinned
    summation order (0 + x == x exactly, so an oracle writing the
    explicit a1*b1 + a2*b2 + ... left-associated chain reproduces it
    bit-for-bit)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, p: acc + p
    )


def token_label_weights(
    vectors: DataFrame, labels: DataFrame | None = None
) -> DataFrame:
    """(word, vector) -> (token, label, weight_micro): every non-label
    word dotted with every "__label__*" row, quantized to integer
    micros.

    The label side is COLLECTED driver-side (#classes rows — the
    bounded training-sync convention, same as IVF centroid seeding)
    and unrolled into a per-token explode of (label, lvec) literals:
    tokens x labels is semantically a cross join, and any join form of
    it either plans as BroadcastNestedLoopJoin (breaking the repo's
    zero-nested-loop plan invariant) or — via a constant-key
    equi-join — gets constant-folded back into one. The explode is the
    plan a cross with a fixed tiny side deserves: no join operator at
    all, and the label literals ride the serialized plan to every
    executor. Past _LABEL_LITERAL_BUDGET total literals (labels x dim —
    real fastText models, e.g. 176 labels x 300 dims) the build
    switches to a broadcast hash join on a DERIVED always-zero key
    (non-foldable, so it stays a BroadcastHashJoin): same rows, no
    plan blow-up.

    Pass `labels` (a (word, vector) frame of "__label__*" rows) when
    the label vectors are derivable WITHOUT the token corpus: the
    build-time collect then evaluates only that tiny frame. With the
    default (labels filtered out of `vectors` itself), the collect
    must execute vectors' whole upstream plan just to prove the other
    rows are non-labels — for a corpus-derived vocabulary that is a
    full corpus scan in an untimed extra job (round-7 review finding).
    Label rows with a NULL vector or NULL components are dropped — the
    same totality contract as parse_fasttext_vec_lines, decided at
    build time instead of surfacing as NULL weight rows."""
    is_label = F.col("word").startswith(LABEL_PREFIX)
    label_src = labels if labels is not None else vectors
    label_rows = [
        r
        for r in label_src.where(is_label)
        .select(
            F.expr(f"substring(word, {len(LABEL_PREFIX) + 1})").alias("label"),
            F.col("vector").alias("lvec"),
        )
        .collect()
        if r.lvec is not None and all(x is not None for x in r.lvec)
    ]
    toks = vectors.where(~is_label).select(
        F.col("word").alias("token"), F.col("vector").alias("tvec")
    )
    if not label_rows:
        return toks.sparkSession.createDataFrame([], _WEIGHTS_DDL)
    dim = len(label_rows[0].lvec)
    if len(label_rows) * dim > _LABEL_LITERAL_BUDGET:
        # real-model scale (many labels x high dim): ship the label
        # table as data, not plan literals. The join key is a derived
        # always-zero expression on the token side vs a lit(0) column
        # on the broadcast side — an equi-join the planner executes as
        # BroadcastHashJoin (every token row matches every label row),
        # with no literal blow-up and no BroadcastNestedLoopJoin
        # (pinned by test_token_label_weights_join_fallback)
        # the key must be DERIVED (non-foldable) on BOTH sides: a
        # lit(0) side gets constant-folded into a filter, leaving no
        # equi-keys and degrading the plan to BroadcastNestedLoopJoin
        ldf = toks.sparkSession.createDataFrame(
            [
                (r.label, [float(x) for x in r.lvec])
                for r in sorted(label_rows, key=lambda r: r.label)
            ],
            "label string, lvec array<double>",
        ).withColumn("_k", F.pmod(F.xxhash64("label"), F.lit(1)).cast("int"))
        return (
            toks.withColumn(
                "_k", F.pmod(F.xxhash64("token"), F.lit(1)).cast("int")
            )
            .join(F.broadcast(ldf), "_k")
            .select(
                "token",
                "label",
                F.round(_dot(F.col("tvec"), F.col("lvec")) * 1e6)
                .cast("long")
                .alias("weight_micro"),
            )
        )
    pairs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(r.label).alias("label"),
                    F.array(*[F.lit(float(x)) for x in r.lvec]).alias("lvec"),
                )
                for r in sorted(label_rows, key=lambda r: r.label)
            ]
        )
    )
    return toks.select("token", "tvec", pairs.alias("p")).select(
        "token",
        F.col("p.label").alias("label"),
        F.round(_dot(F.col("tvec"), F.col("p.lvec")) * 1e6)
        .cast("long")
        .alias("weight_micro"),
    )


def _doc_tokens(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    from swiftbeaver_spark.llm.dedup import normalized_text

    return df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.filter(F.split(normalized_text(F.col(text_col)), " "), lambda t: t != "")
        ).alias("token"),
    )


def classify_documents(
    df: DataFrame,
    weights: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_weights: bool = True,
) -> DataFrame:
    """fastText-style linear classification: per (doc, label) score =
    sum of token weight_micros over the doc's tokens (missing-vocab
    tokens contribute 0, as fastText does for OOV words without subword
    units), argmax label. Returns (doc_id, label, score_micro,
    n_tokens); docs whose tokens all miss the vocabulary (or score
    <= 0 on every label) get label 'und' with score 0 — the
    detect_language contract.

    Plan: explode -> broadcast join on token -> one map-side-combinable
    sum per (doc, label) -> min_by argmax ((-score, label): highest
    score, lexicographically-smallest label on ties — deterministic
    across engines). One shuffle on doc_id; the weight table never
    exceeds vocab x labels.

    `broadcast_weights=False` drops the broadcast hint and lets the
    join shuffle on token: at the REAL-model shape (~200k vocab x 150
    labels = 30M weight rows, measured in
    tools/bench_fasttext_realistic.py) a forced broadcast ships a
    ~GiB table to every executor and pressures the driver, while the
    shuffle join moves each weight row once. The flag is explicit
    rather than auto-derived because deciding by count() would
    re-execute the weight frame's upstream plan when it is derived
    (the round-7 labels-collect finding) — callers KNOW whether their
    model is toy- or production-sized."""
    from swiftbeaver_spark.llm.dedup import normalized_text

    toks = _doc_tokens(df, text_col, id_col)
    # token counts straight off the doc row (not the exploded side):
    # a doc with zero tokens must still emit an 'und' row. NULL text
    # counts as 0 tokens — size(NULL) is -1 under Spark's legacy
    # sizeOfNull, which would both break the documented contract and
    # diverge from the q171 oracle's COALESCE(c.n, 0)
    counts = df.select(
        F.col(id_col).alias("doc_id"),
        F.greatest(
            F.size(
                F.filter(
                    F.split(normalized_text(F.col(text_col)), " "), lambda t: t != ""
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("n_tokens"),
    )
    wtab = F.broadcast(weights) if broadcast_weights else weights
    scored = (
        toks.join(wtab, "token")
        .groupBy("doc_id", "label")
        .agg(F.sum("weight_micro").cast("long").alias("score_micro"))
    )
    best = scored.groupBy("doc_id").agg(
        F.min_by(
            F.struct("label", "score_micro"),
            F.struct(-F.col("score_micro"), F.col("label")),
        ).alias("best")
    )
    return (
        counts.join(best, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("best.score_micro") > 0, F.col("best.label"))
            .otherwise(F.lit("und"))
            .alias("label"),
            F.when(
                F.col("best.score_micro") > 0, F.col("best.score_micro")
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("score_micro"),
            "n_tokens",
        )
    )


def classify_documents_subword(
    df: DataFrame,
    word_weights: DataFrame,
    bucket_weights: DataFrame,
    n_buckets: int,
    minn: int = 3,
    maxn: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_weights: bool = True,
    unit_weights: DataFrame | None = None,
) -> DataFrame:
    """fastText-style linear classification WITH subword units — the
    architecture that scores out-of-vocabulary words instead of
    dropping them (fastText's actual model: every token contributes its
    word vector plus its hashed character-n-gram bucket vectors; an OOV
    token still has n-grams, so it still scores).

    Units of a token: the token itself (if present in `word_weights`)
    plus every subword n-gram's FNV bucket that is present in
    `bucket_weights` (32-bit FNV-1a over the n-gram's CODEPOINTS, mod
    n_buckets — codepoints, not utf-8 bytes, so DuckDB's ord() replays
    the fold in the SQL oracle; for multi-byte input the deviation from
    fastText's byte-wise fold only permutes bucket assignments) — in real fastText the bucket table
    is dense (every bucket id exists), so "present" = all. Per (doc,
    label): score_micro = sum of matched unit weight_micros div
    n_units, where n_units counts the doc's matched units
    (label-independent — the mean over input vectors in fastText's
    forward pass). Argmax with lexicographic tie-break; docs with no
    units (or no positive score) get 'und'/0 — classify_documents'
    contract. Returns (doc_id, label, score_micro, n_units).

    Scale: the two weight tables union into ONE unit-keyed broadcast
    table consumed by ONE join (an earlier draft joined word and bucket
    weights in four separate branches, re-evaluating the whole weight
    subtree per consumer — 4x the vocab scan and a 10x slower plan);
    the n-gram expansion runs in the compiled JVM kernel (sb_subword —
    a Catalyst n-gram + FNV chain is higher-order expressions,
    CodegenFallback-interpreted per n-gram, and dominated the wall:
    4.7 s -> 1.5 s at sf0.1), so the explode -> hash -> join pipeline
    never leaves the JVM; one shuffle on doc_id
    for the map-side-combinable sums. n_buckets bounds the subword
    table regardless of corpus n-gram diversity — fastText's own answer
    to unbounded subword vocabularies (2M buckets at production scale).

    Both weight tables must be LABEL-DENSE (every unit carries a row
    for every label) — true by construction from token_label_weights,
    and fastText's own shape — because the matched-unit count n_units
    is read off the joined rows per (doc, label). The invariant is
    ENFORCED at runtime: per-doc min/max of the per-label unit counts
    ride the existing aggregate, and a caller-supplied pruned table
    (e.g. near-zero weights dropped from a real model) raises instead
    of silently mis-normalizing scores.

    `broadcast_weights=False` drops the broadcast hint for real-model
    unit tables ((vocab + n_buckets) x labels rows — at fastText's 2M
    production buckets x 150 labels that is 300M+ rows, far past any
    broadcast) — see classify_documents for why this is an explicit
    flag, not a count()-derived auto."""
    from swiftbeaver_spark.parallel import spread

    # the n-gram expansion + FNV fold cost per TOKEN (~10 n-grams and
    # an O(len) fold each), but a small corpus parquet arrives as 1-2
    # splits — spread the narrow (doc_id, token) rows across cores
    # (measured: the whole sf0.1 pipeline ran on one task, ~20 s, vs
    # ~2 s spread); a no-op at scale where splits >> cores. The
    # exchange is reused by both unit branches (ReuseExchange).
    from swiftbeaver_spark.jvm import ensure_kernel

    # validate here: a bad spec must raise in Python, not as an
    # executor-side exception. The upper bound is the kernel's int
    # parse — fastText production tables are ~2M buckets, nowhere
    # near it
    if not 1 <= minn <= maxn:
        raise ValueError(f"need 1 <= minn <= maxn, got {minn}..{maxn}")
    if not 1 <= n_buckets <= 2**31 - 1:
        raise ValueError(f"need 1 <= n_buckets <= 2^31-1, got {n_buckets}")

    ensure_kernel(df.sparkSession)
    toks = spread(_doc_tokens(df, text_col, id_col))
    # sb_subword: per token, the FNV-1a-over-codepoints bucket of every
    # character n-gram of '<token>' for n in [minn, maxn] (n ascending,
    # position ascending, duplicates kept — fastText's
    # Dictionary::computeSubwords), in one compiled pass per token
    buckets = F.explode(
        F.call_udf("sb_subword", F.col("token"), F.lit(f"{minn};{maxn};{n_buckets}"))
    ).alias("bucket")
    units = toks.select(
        "doc_id", F.concat(F.lit("w:"), F.col("token")).alias("unit")
    ).unionByName(
        toks.select("doc_id", buckets).select(
            "doc_id",
            F.concat(F.lit("b:"), F.col("bucket").cast("string")).alias("unit"),
        )
    )
    if unit_weights is not None:
        # pre-merged (unit, label, weight_micro) table. When word and
        # bucket weights are two FILTERS of one weights frame, the
        # union below evaluates that whole subtree twice inside the
        # broadcast build (vocab scan, .vec parse, label dots — 2.6 s
        # vs 1.2 s at sf0.1); a caller owning such a frame hands the
        # single-pass merge in directly. Must equal the union the two
        # tables would produce ("w:<token>" / "b:<bucket>" keys) —
        # the label-density runtime guard below applies unchanged.
        wt = unit_weights
    else:
        wt = word_weights.select(
            F.concat(F.lit("w:"), F.col("token")).alias("unit"), "label", "weight_micro"
        ).unionByName(
            bucket_weights.select(
                F.concat(F.lit("b:"), F.col("bucket").cast("string")).alias("unit"),
                "label",
                "weight_micro",
            )
        )
    best = (
        units.join(F.broadcast(wt) if broadcast_weights else wt, "unit")
        .groupBy("doc_id", "label")
        .agg(
            F.sum("weight_micro").cast("long").alias("sum_micro"),
            F.count("*").cast("long").alias("n_units"),
        )
        .withColumn("score_micro", F.expr("sum_micro div n_units"))
        .groupBy("doc_id")
        .agg(
            F.min_by(
                F.struct("label", "score_micro"),
                F.struct(-F.col("score_micro"), F.col("label")),
            ).alias("best"),
            # label-density runtime guard: n_units is read off the
            # per-(doc,label) rows, which is only well-defined when
            # every matched unit carries a row for EVERY label. A
            # pruned (non-label-dense) weight table would silently
            # skew scores — instead the min/max drift raises loudly.
            # Two extra agg buffers; no extra shuffle or join.
            F.min("n_units").alias("_n_lo"),
            F.max("n_units").alias("_n_hi"),
        )
    )
    density_ok = F.col("_n_lo").isNull() | (F.col("_n_lo") == F.col("_n_hi"))
    n_units_checked = F.when(density_ok, F.col("_n_hi")).otherwise(
        F.raise_error(
            F.lit(
                "classify_documents_subword: weight tables are not "
                "label-dense (per-(doc,label) matched-unit counts "
                "diverge) — every unit must carry a row for every label"
            )
        )
    )
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("best.score_micro") > 0, F.col("best.label"))
            .otherwise(F.lit("und"))
            .alias("label"),
            F.when(F.col("best.score_micro") > 0, F.col("best.score_micro"))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("score_micro"),
            F.coalesce(n_units_checked, F.lit(0)).cast("long").alias("n_units"),
        )
    )


def weighted_quality_score(
    df: DataFrame,
    weights: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    label: str = "quality",
) -> DataFrame:
    """linear_quality_score with REAL weights: same output shape
    (doc_id, n_tokens, score_sum, quality_score_micro) as the
    md5-stand-in path in llm/text.py, but score_sum comes from a
    broadcast (token -> weight_micro) table filtered to `label`. The
    swap stand-in -> real weights is therefore config-only: callers
    pass a weights DataFrame instead of relying on the closed-form
    md5 expression. OOV tokens weigh 0; n_tokens counts ALL tokens
    (the length normalizer must not shrink when vocabulary is small)."""
    toks = _doc_tokens(df, text_col, id_col)
    w = weights.where(F.col("label") == label).select("token", "weight_micro")
    out = (
        toks.join(F.broadcast(w), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.coalesce(F.sum("weight_micro"), F.lit(0)).cast("long").alias("score_sum"),
        )
    )
    return out.withColumn(
        "quality_score_micro", F.expr("score_sum div n_tokens")
    )
