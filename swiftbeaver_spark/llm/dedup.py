"""Deduplication operators for document corpora.

Five strategies, all DataFrame-native:

- exact_dedup:       hash-groupBy on content digest (one shuffle)
- minhash_signatures/minhash_lsh_pairs: shingle -> k minhashes (JVM
  kernel sb_minhash) -> banding -> bucket equi-join. The classic
  MinHash+LSH near-dup pipeline; candidate verification via exact
  shingle Jaccard (JVM kernel sb_jaccard).
- simhash: 64-bit sign-aggregated token hashes per doc (JVM kernel
  sb_simhash); near-dups share simhash within small Hamming distance
- ngram_jaccard_pairs: exact n-gram Jaccard on candidate pairs
- embedding_near_dup: cosine >= threshold over LSH-bucketed embeddings

Scale notes: every strategy shuffles on narrow keys (band hash, bucket
id, digest), never on document text; signatures are fixed-width arrays
computed by the compiled JVM kernels (java/src/sbspark/ — text never
crosses into Python; the numpy twins they are pinned bit-exact against
live in tests/oracles/dedup.py). Banding keeps the candidate join linear in
near-duplicate count rather than O(n^2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from swiftbeaver_spark.parallel import spread


def _shr(col: Column, bits: Column) -> Column:
    """shiftright with a Column bit count (the Python wrapper only
    accepts int)."""
    return F.call_function("shiftright", col, bits)


def _shl(col: Column, bits: Column) -> Column:
    return F.call_function("shiftleft", col, bits)


def normalized_text(col: Column) -> Column:
    """Lowercase, collapse whitespace — the usual near-dup canonicalizer."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def char_shingles(col: Column, k: int = 9) -> Column:
    """Distinct k-char shingles of the normalized text (JVM-side:
    sequence + transform + substring)."""
    norm = normalized_text(col)
    n = F.greatest(F.length(norm) - F.lit(k - 1), F.lit(1))
    return F.array_distinct(
        F.transform(F.sequence(F.lit(1), n), lambda i: F.substring(norm, i, k))
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: keep the lowest id per content digest."""
    return (
        df.withColumn("content_hash", F.md5(F.col(text_col)))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
    )


_MERSENNE61 = (1 << 61) - 1


def _minhash_family(num_hashes: int):
    """The fixed (a, b) uint64 arrays of the affine hash family: odd
    multipliers and offsets from seed 42, so signatures are
    deterministic across runs and executors."""
    import numpy as np

    rng = np.random.RandomState(42)
    a = (rng.randint(0, 1 << 62, size=num_hashes).astype(np.uint64) << np.uint64(1)) | np.uint64(1)
    b = rng.randint(0, 1 << 62, size=num_hashes).astype(np.uint64)
    return a, b


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_k: int = 9,
) -> DataFrame:
    """doc -> minhash signature array<bigint> of length num_hashes.

    Hash family: affine transforms (a_i*h + b_i) over uint64 wraparound
    of one base CRC per distinct shingle, computed by the JVM UDF
    (java/src/sbspark/MinHashUdf.java — text never crosses into
    Python). Spark's higher-order array lambdas are interpreted (not
    codegen'd), so an O(k x shingles) nested transform would be ~50x
    slower. Null and empty (after normalization) text drops."""
    from swiftbeaver_spark.jvm import ensure_kernel

    ensure_kernel(df.sparkSession)
    a, b = _minhash_family(num_hashes)
    src = spread(
        df.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.col(text_col).cast("string").alias("text"),
        )
    )
    spec = (
        f"{shingle_k};"
        + ",".join(str(int(x)) for x in a)
        + ";"
        + ",".join(str(int(x)) for x in b)
    )
    sig = F.call_udf("sb_minhash", F.col("text"), F.lit(spec))
    return (
        src.select(F.col("doc_id"), sig.alias("signature"))
        .where(F.col("signature").isNotNull())
    )


def minhash_band_index(
    signatures: DataFrame,
    num_bands: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """(doc_id, band, band_hash) — the LSH band table. This IS the
    production index for continuous ingestion: persist it partitioned
    by (band, band_hash) and new batches probe it with an equi-join
    (incremental_minhash_near_dups) instead of re-banding the corpus."""
    # One parsed expression instead of per-op Column building — the
    # same py4j round-trip economics as the simhash block keys (see
    # simhash_pairs_from_signatures); the parsed tree is identical.
    band_expr = (
        f"transform(sequence(0, {num_bands - 1}), b -> named_struct("
        f"'band', b, 'band_hash', "
        f"xxhash64(slice(signature, b * {rows_per_band} + 1, {rows_per_band}))))"
    )
    return signatures.select(
        "doc_id",
        F.explode(F.expr(band_expr)).alias("bh"),
    ).select("doc_id", "bh.band", "bh.band_hash")


def minhash_lsh_pairs(
    signatures: DataFrame,
    num_bands: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """LSH banding: equal band-slice -> candidate pair (classic b×r
    scheme). One shuffle on (band, band_hash); self-join inside buckets."""
    banded = minhash_band_index(signatures, num_bands, rows_per_band)
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .distinct()
    )


def _auto_minhash_layout(n_docs: int) -> tuple[int, int]:
    """Corpus-size-derived (num_hashes, num_bands) for the b x r LSH
    scheme (VERDICT r8 task 2 — the _auto_segments pattern applied to
    minhash banding). Two regimes, measured to 5.5e6 docs and modeled
    beyond (tools/bench_minhash_bands.py — real sf1 signatures
    replicated with shared-position skew, planted J~0.94 twins):

      n <  5e8:  (64, 16)  -> r = 4 rows/band (the historical layout)
      n >= 5e8:  (128, 16) -> r = 8 rows/band

    Why r is the scale lever: background (non-dup) candidate volume
    per band is ~ sum over pairs of J_bg^r — r=4 admits every pair
    that agrees on 4 consecutive hashes, and shared boilerplate makes
    that term grow superlinearly with corpus size, while r=8 squares
    it away. Measured blocking walls (candidates), narrow r4_h64 vs
    wide r8_h128:

      n=5.5e4: 3.4 s (384k)   vs 2.7 s (292k)
      n=5.5e5: 6.7 s (8.4M)   vs 7.1 s (1.3M)
      n=5.5e6: 159 s (354M)   vs 55 s (21.4M)

    Blocking favors r=8 from ~5e5 up — but the wide layout's price is
    the SIGNATURE pass (128 vs 64 affine transforms over every
    shingle): 3.4 s vs 12.5 s per 5.5e4 real docs through the JVM
    kernel, a 3.7x linear surcharge that dominates the blocking
    savings at every measured size (end-to-end at 5.5e6: narrow
    ~339+159 s vs wide ~1250+55 s). Extrapolating the measured growth
    laws (r4 blocking excess ~n^1.6 from the candidate counts above,
    signature surcharge exactly linear), the end-to-end crossover
    sits at ~5e8 docs — the same modeled-beyond-measurement regime
    switch as _auto_segments' keep3-at-1e9 rule, and the published
    web-dedup scale where r=8+ layouts are standard practice.

    Doubling r at FIXED num_hashes (8 bands of 8) is NOT offered: it
    has the cheapest blocking at every size (2.3/4.1/52 s measured)
    but craters candidate recall at the verify threshold —
    1-(1-t^8)^8 = 0.77 at t=0.8 vs 0.9998 narrow and 0.947 for the
    128-hash wide regime (0.9999 at the J~0.95 shapes planted dupes
    actually have; measured twin recall was 100% for ALL layouts at
    every size because planted twins sit well above threshold).
    Explicit num_hashes/num_bands always override (the oracle-gated
    queries' pinned path)."""
    return (64, 16) if n_docs < 500_000_000 else (128, 16)


def minhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int | None = None,
    shingle_k: int = 9,
    num_bands: int | None = None,
    threshold: float = 0.8,
    n_docs: int | None = None,
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates verified by exact shingle
    Jaccard >= threshold (candidates only — see _verify_jaccard).

    When num_hashes/num_bands are None the b x r layout is AUTO-DERIVED
    from corpus size (_auto_minhash_layout: 64 hashes x 16 bands below
    ~5e8 docs, 128 x 16 — r=8 — beyond: blocking favors r=8 from ~5e5
    up, but the doubled signature pass costs 3.7x linear, and the
    measured-to-5e6 / modeled-beyond end-to-end crossover sits at
    ~5e8). `n_docs` supplies the size hint; without it the
    auto path pays one count() of the input — metadata-only on a bare
    parquet scan, but a FULL upstream re-execution when `df` is a
    derived plan (filters/joins/UDF stages run once for the count and
    again for the signature pass — the round-7 labels-collect hazard).
    Pass `n_docs` (even a cheap estimate; it only picks the layout
    band) for any non-trivial input, as q26 does, or persist `df`
    yourself before calling. Explicit values pin
    the layout exactly as before (the oracle-gated queries' path:
    passing num_hashes=64 alone keeps the historical bands=hashes/4).
    Verification is exact Jaccard at `threshold`, so the layout moves
    only candidate recall/volume, never a surviving pair's score."""
    if num_hashes is None and num_bands is None:
        if n_docs is None:
            n_docs = df.count()
        num_hashes, num_bands = _auto_minhash_layout(n_docs)
    elif num_hashes is None:
        num_hashes = 4 * num_bands
    elif num_bands is None:
        num_bands = max(num_hashes // 4, 1)
    rows_per_band = num_hashes // num_bands
    # persist: the banded self-join and the verify would otherwise
    # recompute the signature pass once per reference
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_k).persist()
    pairs = minhash_lsh_pairs(sigs, num_bands, rows_per_band)
    texts = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    joined = (
        pairs.join(
            texts.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("text", "text_a"),
            "doc_a",
        )
        .join(
            texts.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("text", "text_b"),
            "doc_b",
        )
    )
    # The signature cache stays alive with the returned (lazy) frame —
    # an eager pin-and-unpersist here costs a serialized extra job wave
    # on the hot bench path (measured +0.5-1.0 s first-run at sf0.1).
    # Callers running many queries per session can clearCache between
    # queries; the cache is signature-table sized, not corpus-sized.
    return _verify_jaccard(joined, shingle_k, threshold)


def _verify_jaccard(joined: DataFrame, shingle_k: int, threshold: float) -> DataFrame:
    """Exact shingle-Jaccard verify over candidate pairs carrying
    (doc_a, doc_b, text_a, text_b): the bit-exact JVM shingle-set
    kernel (sb_jaccard — candidates never cross into Python; JVM
    HashSets beat interpreted array lambdas ~10x here)."""
    from swiftbeaver_spark.jvm import ensure_kernel

    ensure_kernel(joined.sparkSession)
    jac = F.call_udf(
        "sb_jaccard", F.col("text_a"), F.col("text_b"), F.lit(int(shingle_k))
    )
    return (
        joined.select("doc_a", "doc_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-doc 64-bit SimHash: sign-aggregate token hashes per bit —
    crc32 base hash mixed to 64 bits via splitmix64, one ±1 vote per
    bit, in the JVM UDF (java/src/sbspark/SimHashUdf.java — text never
    crosses into Python). Spark's higher-order array lambdas are
    interpreted, making the expression form O(bits x tokens) in slow
    per-element calls. Null/empty text hashes to 0."""
    from swiftbeaver_spark.jvm import ensure_kernel

    ensure_kernel(df.sparkSession)
    src = spread(
        df.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.col(text_col).cast("string").alias("text"),
        )
    )
    return src.select(
        F.col("doc_id"),
        F.call_udf("sb_simhash", F.col("text")).alias("simhash"),
    )


def hamming64(a: Column, b: Column) -> Column:
    """Popcount of xor via bit_count (JVM built-in)."""
    return F.bit_count(a.bitwiseXOR(b))


def _segment_widths(bits: int, n_segments: int) -> list[tuple[int, int]]:
    """(low_bit, width) for n_segments contiguous slices covering `bits`."""
    base, extra = divmod(bits, n_segments)
    out = []
    lo = 0
    for s in range(n_segments):
        w = base + (1 if s < extra else 0)
        out.append((lo, w))
        lo += w
    return out


def _auto_segments(max_hamming: int, n_docs: int) -> int:
    """Corpus-size-derived blocking layout (VERDICT r6 item 5): pick
    keep = n_segments - max_hamming so the expected per-doc candidate
    fan-out stays O(10) under a uniform-key model, then let the JVM
    bit_count verify absorb the (measured ~1.3-5x) skew inflation.

    keep=1 key width is 64/(k+1) bits over C(k+1,1)=k+1 tables; each
    extra keep unit widens keys ~64/(k+keep) bits but multiplies table
    count combinatorially — per-doc candidates ~ T * n / 2^bits.

    Measured twice: the round-7 full-pipeline A/B
    (tools/bench_simhash_layout.py, k=3, identical 326/196689-pair
    outputs — keep=1/2 tie at 5e3-5e4 docs, keep=3 1.4-5x worse) and
    the round-8 signatures-only keep-regime sweep
    (tools/bench_simhash_scale100.py, k=3, skew-preserving synthetic
    signatures at 5e4 / 5e5 / 5e6 docs, identical pair sets per size):

      n=5e4: keep1 1.39 s  keep2 1.09 s  keep3  4.2 s
      n=5e5: keep1 4.65 s  keep2 4.51 s  keep3 16.6 s
      n=5e6: keep1 29.4 s  keep2 12.2 s  keep3 238 s

    keep=2 wins or ties at EVERY measured size — keep=1's narrower
    keys lose to candidate volume from ~5e5 up, and keep=3's 20-table
    explode+join overhead grows superlinearly and never pays below any
    measurable scale. So: keep=2 everywhere in the k<=4 regime until
    keep=2's own candidate volume explodes — under the uniform-key
    model ~10*n^2/2^25.6 candidates crosses keep=3's linear table
    overhead only around n~1e9 (the published 32-bit-key regime),
    which is where the keep=3 switch now sits. Past k=4 the table
    count explodes combinatorially at every keep>1 and keep=1 measured
    optimal against every alternative (SCALE.md q27 note), corpus size
    notwithstanding."""
    if max_hamming > 4:
        return max_hamming + 1
    keep = 2 if n_docs < 1_000_000_000 else 3
    return max_hamming + keep


def simhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_segments: int | None = None,
    n_docs: int | None = None,
) -> DataFrame:
    """Near-dups within Hamming distance <= max_hamming, Manku-style
    multi-table blocking (the published Google simhash dedup design):
    split the 64-bit simhash into n_segments slices and key each table
    on a (n_segments - max_hamming)-subset of slices. <= k bit errors
    dirty <= k segments, so some kept subset is fully clean — EXACT
    recall by pigeonhole. When n_segments is None the layout is
    AUTO-DERIVED from corpus size (_auto_segments: keep=2 below 1e9
    docs — the winner at every measured size in the round-8 keep-regime
    sweep — keep=3 (~32-bit keys, the published 10^9-doc regime)
    beyond; always keep=1 past k=4). `n_docs` supplies the
    corpus size hint; without it the auto path pays one narrow count()
    job (bounded sync point, the IVF-training convention) — k>4
    callers never count since the layout is size-independent there.
    Candidates verify with bit_count, so tightening or loosening the
    table layout never changes which pairs qualify, only the candidate
    volume.

    Table count is C(n_segments, n_segments - max_hamming): wider keys
    are the published design for 10^9-doc corpora, but past k=4 every
    keep>1 explodes combinatorially (k=8 at keep=2 would mean 45
    tables) so auto stays at keep=1 there — still exact, narrower
    keys. Measured at both sf0.1 and a 10x sf1 corpus at k=8, the
    explode costs MORE than the candidate cut saves — 53x worse at sf1
    (919 s vs 17 s, identical pairs), because simhash keys of natural
    text are skewed (bits are signs of token-weighted sums), so wider
    keys cut real candidates only ~1.3x (887M -> 689M measured) while
    per-candidate work rises ~5x. Value-level blocking (candidates
    over distinct simhash values, expanded back to doc pairs) also
    measured 5x worse: the expansion shuffles dwarf its ~2x candidate
    cut, while this kernel streams ~37M candidates/s through a
    row-local codegen filter with no post-join shuffle. Both
    alternatives rejected on measurement (SCALE.md q27 note). In the
    published k<=4 regime the keep threshold comes from the round-7
    layout A/B plus the round-8 signatures-only sweep at 5e4/5e5/5e6
    docs (see _auto_segments): keep=2 won or tied at every measured
    size, keep=3's table overhead grows superlinearly (238 s vs 12 s
    at 5e6), so keep=3 waits for the ~1e9-doc regime where keep=2's
    candidate volume explodes — the fixed keep=3 of early rounds
    measured 1.4x/5x WORSE than auto at sf0.1/sf1."""
    # persist: the blocked self-join references this subtree from both
    # sides (broadcast build + probe), which would otherwise run the
    # simhash kernel pass twice — same reason minhash_near_dups
    # persists its signatures. Persisting BEFORE the auto-layout count
    # means the count materializes the cache the join then reuses, so
    # the size hint costs one pass over cached signatures, never a
    # second evaluation of an expensive upstream plan.
    sims = simhash(df, text_col, id_col).persist()
    if n_segments is None and n_docs is None and max_hamming <= 4:
        n_docs = sims.count()
    return simhash_pairs_from_signatures(sims, max_hamming, n_segments, n_docs)


def simhash_pairs_from_signatures(
    sims: DataFrame,
    max_hamming: int = 3,
    n_segments: int | None = None,
    n_docs: int | None = None,
) -> DataFrame:
    """Blocking + verify stage of `simhash_near_dups`, taking the
    signature table (doc_id, simhash) directly — the seam that lets
    the layout A/B and the 100x keep-regime sweep
    (tools/bench_simhash_scale100.py) measure blocking cost on
    synthetic signatures without a text corpus. Callers should persist
    `sims` when its upstream plan is expensive: the self-join consumes
    it from both sides."""
    from itertools import combinations

    if n_segments is None:
        if n_docs is None and max_hamming <= 4:
            n_docs = sims.count()
        n_segments = _auto_segments(max_hamming, n_docs or 0)
    segs = _segment_widths(64, n_segments)
    keep = n_segments - max_hamming
    if keep < 1:
        raise ValueError("max_hamming must be < n_segments")
    combos = list(combinations(range(n_segments), keep))

    # All block-key and min-block expressions are built as SQL STRINGS
    # and parsed with one F.expr call each: the Column-operator form
    # cost one py4j round trip per bitwise op (~300 driver round trips
    # for a k=8 layout, ~0.4-0.7 s of pure driver latency per plan
    # build, measured round 8) while parsing is O(1) round trips. The
    # parsed tree is operator-identical — shiftright/&/shiftleft/| on
    # bigint — so candidate sets and codegen are unchanged.
    def combo_key_sql(src: str, combo: tuple[int, ...]) -> str:
        parts = []
        pos = 0
        for s in combo:
            lo, w = segs[s]
            mask = (1 << w) - 1
            parts.append(f"shiftleft(shiftright({src}, {lo}) & {mask}L, {pos})")
            pos += w
        return " | ".join(parts)

    structs = ", ".join(
        f"named_struct('block', {cid}, 'key', {combo_key_sql('simhash', combo)})"
        for cid, combo in enumerate(combos)
    )
    blocked = sims.select(
        "doc_id",
        "simhash",
        F.explode(F.expr(f"array({structs})")).alias("bk"),
    ).select("doc_id", "simhash", "bk.block", "bk.key")
    l, r = blocked.alias("l"), blocked.alias("r")
    # A pair sharing several block keys would surface once per shared
    # block; instead of a pair-set `distinct` (a full extra shuffle of
    # the candidate set + an AQE stage wave), keep each pair only at its
    # MINIMAL matching block — row-locally computable, since both
    # 64-bit simhashes are already in the joined row: block c matches
    # iff the XOR of the two simhashes is zero on every segment of
    # combo c (key equality <=> segment-restricted XOR == 0, the key
    # being a bijective packing of those segment bits). One XOR plus a
    # shift/mask per segment keeps the codegen'd filter small; the pair
    # is emitted iff no earlier block matched. Identical result set,
    # one less shuffle at any scale (the smallest-common-block dedup of
    # the similarity-join literature, e.g. PPJoin-family).
    xor_s = "(l.simhash ^ r.simhash)"
    earlier_terms = []
    for cid, combo in enumerate(combos):
        seg_terms = " AND ".join(
            f"(shiftright({xor_s}, {segs[s][0]}) & {(1 << segs[s][1]) - 1}L) = 0"
            for s in combo
        )
        earlier_terms.append(f"(({seg_terms}) AND {cid} < l.block)")
    not_earlier = F.expr("NOT (" + " OR ".join(earlier_terms) + ")")
    out = (
        l.join(
            r,
            (F.col("l.block") == F.col("r.block"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .where(not_earlier)
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            hamming64(F.col("l.simhash"), F.col("r.simhash")).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )
    # Lazy like minhash_near_dups (see the note there): the simhash
    # cache lives with the returned frame rather than paying an eager
    # extra job wave on the hot bench path.
    return out


def word_ngrams(col: Column, n: int = 3) -> Column:
    """Distinct word n-grams (JVM-side)."""
    tokens = F.split(normalized_text(col), " ")
    cnt = F.greatest(F.size(tokens) - F.lit(n - 1), F.lit(1))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), cnt - 1),
            lambda i: F.array_join(F.slice(tokens, i + 1, n), " "),
        )
    )


def ngram_jaccard(a: Column, b: Column, n: int = 3) -> Column:
    ga, gb = word_ngrams(a, n), word_ngrams(b, n)
    return F.size(F.array_intersect(ga, gb)) / F.size(F.array_union(ga, gb))


def embedding_near_dups(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    num_planes: int = 8,
    plane_matrix: list[list[float]] | None = None,
    round_cosine: int | None = None,
) -> DataFrame:
    """Embedding near-dup: random-hyperplane LSH bucket (deterministic
    hash-derived planes) then exact cosine verify inside buckets.

    With `plane_matrix` (explicit ±1 literals, e.g. md5_plane_matrix)
    the bucket fold is a strict left-to-right IEEE sum any engine can
    replay bit-for-bit, and with `round_cosine` the verify score is
    rounded before thresholding — together they pin the ENTIRE
    approximate path for oracle checks (the q28 convention).

    Scale: one shuffle on the bucket key; with 2^num_planes buckets
    the expected pair count is n^2 / 2^p per-bucket-uniform — size
    num_planes so buckets hold O(sqrt(candidate budget)) vectors.
    Cosine verify runs only inside buckets, never all-pairs."""
    from swiftbeaver_spark.llm.similarity import cosine_similarity, hyperplane_bucket

    vecs = embeddings.select(
        F.col(id_col).alias("doc_id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    ).withColumn("bucket", hyperplane_bucket("vec", num_planes, plane_matrix))
    l, r = vecs.alias("l"), vecs.alias("r")
    cos = cosine_similarity(F.col("l.vec"), F.col("r.vec"))
    if round_cosine is not None:
        cos = F.round(cos, round_cosine)
    return (
        l.join(
            r,
            (F.col("l.bucket") == F.col("r.bucket")) & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            cos.alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def incremental_exact_dedup(
    new: DataFrame,
    seen_hashes: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental ingestion dedup: drop new-batch docs whose content
    digest already exists in the ingested corpus, then exact-dedup
    within the batch (lowest id wins). `seen_hashes` needs only a
    `content_hash` column — the production shape where the seen-set is
    a maintained digest table, orders of magnitude smaller than the
    corpus.

    Scale: one shuffle of the new batch's (hash, id) pairs for the
    within-batch dedup; the seen-set probe is a left_anti equi-join
    that AQE broadcasts whenever the digest table fits, and otherwise
    co-partitions by hash — never a full-corpus scan."""
    hashed = new.withColumn("content_hash", F.md5(F.col(text_col)))
    fresh = hashed.join(
        seen_hashes.select("content_hash").distinct(), "content_hash", "left_anti"
    )
    return fresh.groupBy("content_hash").agg(
        F.min(F.col(id_col)).alias(id_col),
        F.count("*").cast("long").alias("n_batch_copies"),
    )


def incremental_minhash_near_dups(
    new: DataFrame,
    index_bands: DataFrame,
    corpus_texts: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_k: int = 9,
    num_bands: int = 16,
    threshold: float = 0.8,
) -> DataFrame:
    """Incremental-ingestion near-dup: probe a NEW batch against a
    maintained LSH band index (minhash_band_index over the already-
    ingested corpus) instead of re-banding the corpus per batch —
    the production shape for continuous crawls, pairing with
    incremental_exact_dedup the way minhash_near_dups pairs with
    exact_dedup.

    Returns (new_doc_id, doc_id, jaccard): each new doc against each
    corpus doc it near-duplicates (exact shingle Jaccard >= threshold,
    verified on LSH candidates only).

    Scale: signatures are computed for the BATCH only; the probe is an
    equi-join on (band, band_hash) that AQE broadcasts whenever the
    batch's band table fits (the common case: batch << corpus),
    otherwise co-partitions — the 100 TB corpus index is read, never
    rebuilt. Text joins for the verify touch only candidate ids."""
    rows_per_band = num_hashes // num_bands
    new_sigs = minhash_signatures(new, text_col, id_col, num_hashes, shingle_k)
    new_bands = minhash_band_index(new_sigs, num_bands, rows_per_band).select(
        F.col("doc_id").alias("new_doc_id"), "band", "band_hash"
    )
    cands = (
        new_bands.join(index_bands, ["band", "band_hash"])
        .select("new_doc_id", "doc_id")
        .distinct()
    )
    new_texts = new.select(
        F.col(id_col).alias("new_doc_id"), F.col(text_col).alias("text_a")
    )
    old_texts = corpus_texts.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text_b")
    )
    joined = (
        cands.join(new_texts, "new_doc_id")
        .join(old_texts, "doc_id")
        .select(
            F.col("new_doc_id").alias("doc_a"),
            F.col("doc_id").alias("doc_b"),
            "text_a",
            "text_b",
        )
    )
    return _verify_jaccard(joined, shingle_k, threshold).select(
        F.col("doc_a").alias("new_doc_id"),
        F.col("doc_b").alias("doc_id"),
        "jaccard",
    )


def edit_distance_near_dups(
    df: DataFrame,
    max_dist: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Edit-distance near-dup join with length-band blocking: a pair
    within Levenshtein distance d differs in length by at most d, so
    bands of width d+1 guarantee the two band numbers differ by <= 1.
    Each doc lands in bands {b, b+1}; a candidate pair shares a band
    iff its bands differ by <= 1, and keeping only the copy where the
    shared band equals max(base_a, base_b) emits each pair EXACTLY
    once — no distinct() over text-carrying rows. `levenshtein`
    (JVM built-in, identical across SQL engines) verifies candidates.

    Scale: the join is a plain equi-join on the band key; candidate
    volume is quadratic only WITHIN a length band, so band width (=
    max_dist+1) is the knob — tight thresholds keep bands thin. The
    verify is the THRESHOLDED levenshtein (Spark >= 3.5): the banded
    O(max_dist * n) algorithm, ~n/(2*max_dist) times cheaper per pair
    than the full O(n^2) matrix — at 600-char docs and d=3 that is
    ~100x, and it is what keeps dense length bands affordable. For
    corpora where many docs share a length, additionally compose with
    a content pre-block (e.g. simhash bucket) before the verify.

    Output: (doc_a, doc_b, dist), doc_a < doc_b, dist <= max_dist.
    """
    w = max_dist + 1
    base = F.floor(F.length(text_col) / w).cast("long")
    banded = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("t"),
        F.length(text_col).alias("len"),
        base.alias("base"),
        F.explode(F.array(base, base + 1)).alias("band"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, F.col("a.band") == F.col("b.band"))
        .where(F.col("a.id") < F.col("b.id"))
        .where(
            F.col("a.band") == F.greatest(F.col("a.base"), F.col("b.base"))
        )
        # necessary condition, integer-cheap: |len_a - len_b| <= d
        # (band sharing only bounds the difference by 2w-1)
        .where(
            F.abs(F.col("a.len") - F.col("b.len")) <= max_dist
        )
    )
    # thresholded form returns -1 when the distance exceeds max_dist
    dist = F.levenshtein(F.col("a.t"), F.col("b.t"), max_dist)
    return (
        cand.withColumn("dist", dist)
        .where(F.col("dist") >= 0)
        .select(
            F.col("a.id").alias("doc_a"),
            F.col("b.id").alias("doc_b"),
            F.col("dist").cast("int").alias("dist"),
        )
    )


def prefix_filter_near_dups(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold_num: int = 7,
    threshold_den: int = 10,
) -> DataFrame:
    """Exact set-similarity self-join with PREFIX FILTERING (the
    PPJoin/AllPairs blocking of Chaudhuri et al. 2006 / Xiao et al.
    2008): pairs of documents whose word-SET Jaccard >= num/den,
    without an all-pairs stage and without approximation.

    The filter: order every document's token set by global rarity
    (document frequency asc, token asc); two sets with Jaccard >= t
    MUST share a token within each other's first
    p = |s| - ceil(t*|s|) + 1 rarest tokens, so candidates come only
    from an equi-join on PREFIX tokens — the rarest tokens generate
    the fewest collisions, which is the whole trick. Completes the
    near-dup family as its one EXACT member (minhash q26 / simhash
    q27 / edit-distance q71 / embedding q93 are all approximate
    blockings).

    All arithmetic is integer (ceil via (num*n + den - 1) div den;
    Jaccard threshold via den*inter >= num*(union) cross-mult), so
    the whole path — df table, prefix cut, candidates, verify — is
    bit-replayable in any SQL engine.

    Scale: df is one partial-agg shuffle on the token key; the
    candidate join shuffles only prefix tokens (~(1-t)*|s|+1 per
    doc); verify is candidate-only over carried sorted arrays
    (array_intersect, JVM-side). No stage is quadratic in the corpus
    — pair work concentrates exactly where real duplicates are."""
    tok = docs.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array_distinct(F.split(normalized_text(F.col(text_col)), " "))
        ).alias("token"),
    ).where(F.col("token") != "")
    dfreq = tok.groupBy("token").agg(F.count("*").alias("df"))
    # per doc: tokens sorted by (df asc, token asc) — rarest first
    arr = (
        tok.join(dfreq, "token")
        .groupBy("id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("df"), F.col("token")))
            ).alias("toks")
        )
        .select(
            "id",
            F.transform(F.col("toks"), lambda s: s["token"]).alias("tokens"),
            F.size(F.col("toks")).alias("n"),
        )
    )
    # prefix length p = n - ceil(t*n) + 1  (integer ceil)
    p = (
        F.col("n")
        - F.floor(
            (F.lit(threshold_num) * F.col("n") + F.lit(threshold_den - 1))
            / F.lit(threshold_den)
        ).cast("int")
        + F.lit(1)
    )
    pref = arr.select(
        "id", F.explode(F.slice(F.col("tokens"), F.lit(1), p)).alias("token")
    )
    cand = (
        pref.alias("l")
        .join(
            pref.alias("r"),
            (F.col("l.token") == F.col("r.token"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
        .distinct()
    )
    full = arr.select("id", "tokens", "n")
    inter = F.size(F.array_intersect(F.col("la.tokens"), F.col("lb.tokens")))
    pairs = (
        cand.join(full.alias("la"), F.col("a") == F.col("la.id"))
        .join(full.alias("lb"), F.col("b") == F.col("lb.id"))
        .select(
            F.col("a"),
            F.col("b"),
            inter.alias("inter"),
            F.col("la.n").alias("na"),
            F.col("lb.n").alias("nb"),
        )
        # den*inter >= num*(na+nb-inter)  <=>  Jaccard >= num/den
        .where(
            F.lit(threshold_den + threshold_num) * F.col("inter")
            >= F.lit(threshold_num) * (F.col("na") + F.col("nb"))
        )
    )
    return pairs.select(
        F.col("a").alias("doc_a"),
        F.col("b").alias("doc_b"),
        F.col("inter").cast("int").alias("inter"),
        F.col("na").cast("int").alias("na"),
        F.col("nb").cast("int").alias("nb"),
        F.floor(
            F.lit(10000)
            * F.col("inter")
            / (F.col("na") + F.col("nb") - F.col("inter"))
        )
        .cast("bigint")
        .alias("jaccard_bp"),
    )
