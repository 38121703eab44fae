"""Similarity search over embedding columns (array<float>).

- cosine_similarity / dot: the compiled sb_dot kernel (index-ordered
  fold — deterministic float results independent of partitioning); the
  IVF/PQ distance tables use its siblings sb_sqdists, sb_dots and
  sb_adc (java/src/sbspark/; their Catalyst-fold oracles live in
  tests/oracles/vec.py)
- hyperplane_bucket: deterministic random-hyperplane LSH (signs derived
  from xxhash64, no RNG state to ship) — the scale path; probing
  neighboring buckets trades recall for cost

Scale: LSH buckets cut the candidate set of an O(corpus x queries)
exact scan by ~2^planes (the exact top-k their recall is measured
against lives in tests/oracles/vec.py). Vectors stay columnar arrays —
Tungsten handles them off-heap; nothing crosses into Python.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from swiftbeaver_spark.jvm import ensure_kernel


def dot(a: Column, b: Column) -> Column:
    """Index-ordered dot product (compiled sb_dot kernel: deterministic
    IEEE results; null array, null element or dim mismatch -> null).
    Column builder: registers the kernel in the ACTIVE session (see
    jvm.ensure_kernel for the multi-session contract)."""
    ensure_kernel()
    return F.call_udf("sb_dot", a, b)


def norm(a: Column) -> Column:
    # dot(a, a) multiplies and folds in the same index order as the
    # transform(x*x) form — identical IEEE bits, one builder
    return F.sqrt(dot(a, a))


def cosine_similarity(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _plane_component(plane: Column, j: Column) -> Column:
    """Deterministic ±1 hyperplane component from xxhash64('plane', p, j)."""
    h = F.xxhash64(F.lit("plane"), plane, j)
    return F.when(h.bitwiseAND(F.lit(1)) == 1, F.lit(1.0)).otherwise(F.lit(-1.0))


def md5_plane_matrix(num_planes: int, dim: int) -> list[list[float]]:
    """±1 hyperplane matrix derived from md5('plane:p:j') — a constant
    both engines (and any SQL oracle) can reproduce or inline verbatim."""
    import hashlib

    return [
        [
            1.0 if hashlib.md5(f"plane:{p}:{j}".encode()).digest()[0] & 1 else -1.0
            for j in range(dim)
        ]
        for p in range(num_planes)
    ]


def hyperplane_bucket(
    vec: Column | str,
    num_planes: int = 8,
    plane_matrix: list[list[float]] | None = None,
) -> Column:
    """Sign-pattern bucket id over `num_planes` hyperplanes.

    Default: hash-derived components (xxhash64, no RNG state to ship).
    With `plane_matrix`: explicit ±1 literals unrolled into the plan —
    a strict left-to-right fold (0.0 + v1*c1 + ... + vn*cn) whose IEEE
    result any engine can replicate bit-for-bit for oracle checks.
    All arithmetic in codegen either way.

    Pass `vec` as a column NAME (str) on the pinned-matrix path: the
    whole planes x dim expression is then built as ONE SQL string and
    parsed with a single F.expr — the Column-operator form costs one
    py4j round trip per term (planes x dim x ~3 trips; measured r15:
    ~4.4 s of pure driver latency per q28 plan BUILD at 6x64, ~75% of
    that query's wall), while parsing is O(1) round trips. The parsed
    tree is operator-identical — left-assoc Add over element_at *
    double-literal, CASE WHEN s > 0 — so codegen, results, and the
    IEEE fold order are unchanged (pinned by
    tests/test_llm.py::test_hyperplane_bucket_sql_path_matches_column_path).
    The Column form stays supported for arbitrary expressions, and
    takes over for a name that is not a bare identifier or a matrix
    with a non-finite coefficient (neither would parse as SQL)."""
    if plane_matrix is not None:
        if (
            isinstance(vec, str)
            and vec.isidentifier()
            and all(math.isfinite(c) for row in plane_matrix for c in row)
        ):
            plane_terms = []
            for p, row in enumerate(plane_matrix):
                s = " + ".join(
                    f"element_at({vec}, {j + 1}) * {c!r}D"
                    for j, c in enumerate(row)
                )
                plane_terms.append(
                    f"(CASE WHEN (0.0D + {s}) > 0 THEN {1 << p} ELSE 0 END)"
                )
            return F.expr("0 + " + " + ".join(plane_terms))
        bucket = F.lit(0)
        for p, row in enumerate(plane_matrix):
            s = F.lit(0.0)
            for j, c in enumerate(row):
                s = s + F.element_at(vec, j + 1) * F.lit(c)
            bucket = bucket + F.when(s > 0, F.lit(1 << p)).otherwise(F.lit(0))
        return bucket
    if isinstance(vec, str):
        vec = F.col(vec)
    signs = F.transform(
        F.sequence(F.lit(0), F.lit(num_planes - 1)),
        lambda p: F.when(
            F.aggregate(
                F.zip_with(
                    vec,
                    F.sequence(F.lit(0), F.size(vec) - 1),
                    lambda v, j: v * _plane_component(p, j),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            > 0,
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    return F.aggregate(
        F.zip_with(
            signs,
            F.sequence(F.lit(0), F.lit(num_planes - 1)),
            lambda s, p: s * F.call_function("shiftleft", F.lit(1), p),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )


# nlist x dim literals; past this, plan-embedded centroid tables are
# themselves the bottleneck (the round-9 nlist sweep measured the
# semantic_dedup ccos literal stalling the driver from ~1.4e5 literals
# and OOMing a 16 GiB heap at ~5.7e5) — large-nlist paths must carry
# centroids as kernel specs (CentTable) or arrow-broadcast matrices
_CENTROID_LITERAL_BUDGET = 4096


def auto_nlist(
    n_vectors: int, n_queries: int | None = None, nprobe: int = 1
) -> int:
    """Measured cell-count law for the IVF family (VERDICT r8 task 2b;
    tools/bench_ivf_nlist.py at 5e5 and 5e6 synthetic 64-dim vectors,
    md5 quantizer + arrow assignment — the production path).

    Two workload shapes, two laws:

    **Corpus-vs-corpus** (n_queries=None: semantic dedup, bitext
    mining, knn-graph — every vector is also a query, nprobe=1):
    nlist* ~ sqrt(n)/2. Sweep walls (full semantic_dedup, arrow
    kernel + assign, AFTER the round-9 ccos fix removed the
    O(nlist x dim) plan-literal tax — the pre-fix sweep OOM'd at
    nlist 8944 and mismeasured the curve):

      n=5e5: nlist 32: 29 s | 64: 12.9 | 128: 7.4 | 256: 6.1 |
             512: 5.7 | 1024: 18.2
      n=5e6: nlist 128: 340 s | 256: 179 | 512: 137 | 1024: 89.6 |
             2236: 141 | 4096: 251 | 8944: 533

    Three cost terms fit the measured curves: in-cell gram flops
    ~ n * occ (penalizes LOW nlist), assignment matmul ~ n * nlist
    (penalizes high), and ~30-60 ms of applyInPandas overhead PER
    GROUP ~ nlist (penalizes high; see the occ 559 point). Balancing
    gram against assignment gives occ* ~ 2.2 * sqrt(n) at both scales
    (occ* 1000-2000 at 5e5, ~4900 at 5e6), i.e. nlist* = sqrt(n)/2:
    354 predicted / 256-512 measured best at 5e5, 1118 / 1024 at 5e6.
    The assignment term makes the TOTAL quadratic in n at the optimum
    (~n^1.5 flops); past ~1e8 vectors assignment needs the
    coarse-to-fine pattern (q91) — recorded as a known ceiling in
    SCALE.md.

    **Query-driven top-k** (small fixed query set, broadcast): the
    wall-minimizing nlist was CORPUS-SIZE-INDEPENDENT — 64-256 at both
    5e5 and 5e6 for 50 queries x nprobe 4 (nlist 16: 5.1/25.2 s, 64:
    1.8/15.7 s, 256: 1.7/17.7 s, then rising: 4096: 49/147 s) —
    balancing per-candidate scoring (~n_q * nprobe * n / nlist rows)
    against assignment (~n * nlist flops): nlist* ~ 8 * sqrt(n_q *
    nprobe) fits the measured optimum (~113 for the 50x4 shape).
    Recall@10 falls with nlist under the pinned random quantizer
    (0.94 at 64 -> 0.77 at 4096 at fixed nprobe) — another reason
    query-driven nlist stays SMALL; the gated queries' hand-pinned
    nlist=16 sits exactly where this law puts their 3-query shape.

    Bounds: at least 16 (the gated default), at most n/32 (cells
    below ~32 vectors waste assignment on empty probes)."""
    if n_queries is None:
        nlist = int(round(n_vectors**0.5 / 2.0))
    else:
        nlist = int(round(8.0 * (max(n_queries, 1) * nprobe) ** 0.5))
    return max(16, min(nlist, max(n_vectors // 32, 16)))


def _centroid_lit(centroids: list[list[float]]) -> Column:
    """array<array<double>> literal of the coarse-quantizer centroids —
    parsed from ONE SQL string instead of nested F.array(F.lit(...))
    chains: a 16x64 table is ~2000 py4j round-trips (~3 s of pure
    DataFrame-build wall per call, measured on q88/q120), vs one
    JVM-side parse of a CAST('<repr>' AS DOUBLE) forest that constant-
    folds to the identical literal (repr round-trips doubles exactly;
    so does Spark's string->double cast)."""
    rows = ",".join(
        "array(" + ",".join(f"CAST('{_dbl_repr(x)}' AS DOUBLE)" for x in c) + ")"
        for c in centroids
    )
    return F.expr(f"array({rows})")


def _dbl_repr(x: float) -> str:
    """repr(float) with Python's inf/nan spellings translated to the
    Infinity/NaN both Spark's string->double cast and Java's
    Double.parseDouble accept (repr gives 'inf'/'nan', which
    parseDouble rejects — non-finite centroids would otherwise crash
    the kernel path while the old F.lit path handled them)."""
    r = repr(float(x))
    return {"inf": "Infinity", "-inf": "-Infinity", "nan": "NaN"}.get(r, r)


def _centroid_spec(centroids: list[list[float]]) -> str:
    """Kernel spec string for sb_sqdists/sb_dots: ';'-joined rows of
    ','-joined repr(double) components — ONE string literal in the
    plan, parsed once per executor (ConcurrentHashMap in CentTable)
    instead of a per-row array<array<double>> -> Seq conversion."""
    return ";".join(",".join(_dbl_repr(x) for x in c) for c in centroids)


def _sq_dists(vec: Column, centroids: list[list[float]]) -> Column:
    """Squared L2 distance from `vec` to every centroid, as one
    array<double>: the compiled sb_sqdists kernel's index-ordered folds
    — deterministic IEEE results, one spec literal in the plan."""
    ensure_kernel()
    return F.call_udf("sb_sqdists", vec, F.lit(_centroid_spec(centroids)))


def ivf_cell(
    vec: Column, centroids: list[list[float]], round_dp: int | None = None
) -> Column:
    """0-based index of the nearest centroid (ties -> lowest cell):
    first position of the array minimum. Pure projection, no shuffle.

    `round_dp` rounds each squared distance before the argmin — the
    pinned-quantizer convention (cf. ivf_cell_dot): two engines whose
    distance sums differ only by summation-order float noise (<1e-6)
    then pick the same cell. Leave None for internal training loops
    where only self-consistency matters."""
    d = _sq_dists(vec, centroids)
    if round_dp is not None:
        d = F.transform(d, lambda x: F.round(x, round_dp))
    return (F.array_position(d, F.array_min(d)) - 1).cast("int")


def ivf_train(
    corpus: DataFrame,
    nlist: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "vec",
) -> list[list[float]]:
    """Deterministic Lloyd's k-means for the IVF coarse quantizer.

    Seeds are the `nlist` corpus vectors with the smallest
    xxhash64(id) — reproducible with no RNG state to ship. Each
    iteration is ONE distributed pass (assignment is a shuffle-free
    projection; the recompute shuffles nlist x dim tiny partial means),
    mirroring how MLlib KMeans scales to arbitrarily large corpora.
    Collected centroids round to 6 dp so downstream plans embed stable
    literals (cross-run / cross-engine determinism)."""
    seeds = (
        corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .withColumn("_h", F.xxhash64(F.col("_id").cast("string")))
        .orderBy("_h", "_id")
        .limit(nlist)
        .collect()
    )
    cents = [[round(float(x), 6) for x in r["_v"]] for r in seeds]
    if not cents:
        raise ValueError("ivf_train: empty corpus")
    # tiny corpus: fewer distinct seeds than requested cells is fine —
    # the quantizer just has fewer cells
    nlist = min(nlist, len(cents))
    cents = cents[:nlist]
    for _ in range(iters):
        cell = ivf_cell(F.col(vec_col).cast("array<double>"), cents)
        rows = (
            corpus.select(cell.alias("cell"), F.posexplode(F.col(vec_col)).alias("pos", "v"))
            .groupBy("cell", "pos")
            .agg(F.avg("v").alias("m"))
            .collect()
        )
        dim = len(cents[0])
        means: dict[int, list[float]] = {}
        for r in rows:
            means.setdefault(int(r["cell"]), [0.0] * dim)[int(r["pos"])] = round(
                float(r["m"]), 6
            )
        # empty cells keep their previous centroid
        cents = [means.get(p, cents[p]) for p in range(nlist)]
    return cents


def md5_centroids(nlist: int, dim: int, tag: str = "ivfcent") -> list[list[float]]:
    """±1 coarse-quantizer centroids derived from md5(tag:p:j) — a fixed
    Voronoi partition of the sphere both engines (and any SQL oracle)
    can reproduce or inline verbatim. Same idiom as md5_plane_matrix."""
    import hashlib

    return [
        [
            1.0 if hashlib.md5(f"{tag}:{p}:{j}".encode()).digest()[0] & 1 else -1.0
            for j in range(dim)
        ]
        for p in range(nlist)
    ]


def _dots(vec: Column, centroids: list[list[float]], round_dp: int) -> Column:
    """round(dot(vec, centroid), dp) for every centroid, as one array.
    The index-ordered fold agrees with DuckDB's list_dot_product at
    >= 6 dp. The sb_dots kernel folds compiled; rounding stays in
    Catalyst (k ops/row)."""
    ensure_kernel()
    return F.transform(
        F.call_udf("sb_dots", vec, F.lit(_centroid_spec(centroids))),
        lambda d: F.round(d, round_dp),
    )


def ivf_cell_dot(vec: Column, centroids: list[list[float]], round_dp: int = 6) -> Column:
    """0-based cell for the pinned (±1, equal-norm) quantizer: argmax
    rounded dot, ties -> lowest cell. Equal-norm centroids make argmax
    dot == argmin L2; rounding pins the argmax across engines."""
    pairs = F.zip_with(
        _dots(vec, centroids, round_dp),
        F.sequence(F.lit(0), F.lit(len(centroids) - 1)),
        lambda d, p: F.struct((-d).alias("nd"), p.alias("cell")),
    )
    return F.array_min(pairs)["cell"]


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nlist: int | None = 16,
    nprobe: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    round_cosine: int | None = None,
    centroids: list[list[float]] | None = None,
    quantizer: str = "l2",
) -> DataFrame:
    """IVF approximate top-k: score only vectors whose coarse cell is
    among the query's `nprobe` nearest centroids.

    quantizer="l2": spherical Lloyd's (ivf_train) or caller-supplied
    centroids, nearest by squared L2 on L2-normalized vectors.
    quantizer="dot": pinned equal-norm centroids (md5_centroids),
    cell = argmax rounded dot — every step SQL-replayable for exact
    oracle comparison (argmax dot == argmin L2 at equal norms).

    The 100 TB shape: cell assignment is a map-only projection over the
    corpus (no shuffle); the candidate restriction is a broadcast join
    on (query, cell) pairs, so per-query work drops from |corpus| to
    ~|corpus| * nprobe / nlist. Recall rises with nprobe; nprobe=nlist
    degenerates to exact brute force. Reference analog: none (the
    reference has no ANN operator) — this is the training-data-pipeline
    extension, patterned on FAISS IVF-Flat. At paper-scale nlist the
    corpus-side expression argmax is the bottleneck — compose with
    assign_cells_arrow the way ivf_candidates and semantic_dedup do
    (measured in SCALE.md).

    nlist=None derives the cell count from the MEASURED law
    (auto_nlist: ~8*sqrt(n_queries*nprobe) for this query-driven
    shape, corpus-size-independent — the round-9 sweep's optimum) at
    the cost of one count() per side; the default 16 is the
    oracle-pinned layout the gated queries keep, and it already sits
    on the law's answer for few-query shapes."""
    c = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("vec")
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).cast("array<double>").alias("query_vec"),
    )
    if quantizer == "dot":
        if centroids is None:
            raise ValueError(
                "quantizer='dot' needs explicit centroids (md5_centroids(nlist, dim))"
            )
        c = c.withColumn("cell", ivf_cell_dot(F.col("vec"), centroids))
        pairs = F.zip_with(
            _dots(F.col("query_vec"), centroids, 6),
            F.sequence(F.lit(0), F.lit(len(centroids) - 1)),
            lambda d, p: F.struct((-d).alias("nd"), p.alias("cell")),
        )
    else:
        # spherical IVF: cosine neighborhoods live on the unit sphere, so
        # the coarse quantizer trains/assigns on L2-normalized vectors (L2
        # there is monotone in cosine); ranking uses the raw vectors
        # (cosine is scale-invariant, so the score itself is unchanged)
        unit = F.transform(F.col("vec"), lambda x: x / norm(F.col("vec")))
        c = c.withColumn("uvec", unit)
        if centroids is None:
            if nlist is None:
                nlist = auto_nlist(c.count(), q.count(), nprobe)
            centroids = ivf_train(
                c, nlist=nlist, iters=iters, id_col="vec_id", vec_col="uvec"
            )
        c = c.withColumn("cell", ivf_cell(F.col("uvec"), centroids)).drop("uvec")
        qunit = F.transform(F.col("query_vec"), lambda x: x / norm(F.col("query_vec")))
        pairs = F.zip_with(
            _sq_dists(qunit, centroids),
            F.sequence(F.lit(0), F.lit(len(centroids) - 1)),
            lambda d, p: F.struct(d.alias("d"), p.alias("cell")),
        )
    probes = F.transform(F.slice(F.array_sort(pairs), 1, nprobe), lambda s: s["cell"])
    q_cells = q.select("query_id", "query_vec", F.explode(probes).alias("cell"))
    cos = cosine_similarity(F.col("vec"), F.col("query_vec"))
    if round_cosine is not None:
        cos = F.round(cos, round_cosine)
    scored = c.join(F.broadcast(q_cells), "cell").select(
        "query_id", "vec_id", cos.alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    plane_matrix: list[list[float]] | None = None,
    round_cosine: int | None = None,
) -> DataFrame:
    """Approximate top-k: only score corpus vectors in the query's LSH
    bucket. Recall < 1; cost ~ corpus/2^planes per query.

    `plane_matrix` pins the hyperplanes to explicit constants (see
    hyperplane_bucket); `round_cosine` ranks on a dp-rounded cosine for
    cross-engine float stability in oracle comparisons."""
    c = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("vec")
    ).withColumn("bucket", hyperplane_bucket("vec", num_planes, plane_matrix))
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).cast("array<double>").alias("query_vec"),
    ).withColumn("bucket", hyperplane_bucket("query_vec", num_planes, plane_matrix))
    cos = cosine_similarity(F.col("vec"), F.col("query_vec"))
    if round_cosine is not None:
        cos = F.round(cos, round_cosine)
    scored = c.join(F.broadcast(q), "bucket").select(
        "query_id",
        "vec_id",
        cos.alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def label_centroids(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label centroid (mean vector) — the class-prototype /
    cluster-summary op: posexplode the vectors to (label, pos, value)
    and aggregate per component.

    Scale: the shuffle key is (label, pos) — cardinality labels x dim,
    independent of corpus size — and SUM/COUNT combine map-side, so
    each map task ships at most labels x dim rows no matter how many
    vectors it read. This is how vector aggregation avoids both a
    driver collect and any array-valued shuffle. Output one row per
    (label, pos): re-assemble with sort_array(collect_list(...)) only
    if a packed vector is genuinely needed downstream.
    """
    comps = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("pos", "v"),
    ).select("label", "pos", F.col("v").cast("double").alias("v"))
    return comps.groupBy("label", "pos").agg(
        F.count("*").cast("long").alias("n"),
        (F.sum("v") / F.count("*")).alias("centroid"),
    )


# -- product quantization (PQ) ------------------------------------------------


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    out_col: str = "pq_code",
    round_dp: int | None = None,
) -> DataFrame:
    """Vector -> array<int> of m sub-centroid ids (nearest per
    subspace). Map-only projection — encoding 10^11 vectors is an
    embarrassingly parallel single pass, and downstream storage is the
    code array instead of the float vector.

    Pass `round_dp=6` when the codebooks are pinned for cross-engine
    oracle replay: the per-subspace argmin then runs over ROUND(d, 6)
    with lowest-code tiebreak, matching an oracle that rounds before
    ranking (without it, two sub-centroid distances <1e-6 apart can
    encode differently across engines)."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    codes = F.array(
        *[
            ivf_cell(
                F.slice(F.col(vec_col).cast("array<double>"), j * dsub + 1, dsub),
                codebooks[j],
                round_dp=round_dp,
            )
            for j in range(m)
        ]
    )
    return df.withColumn(out_col, codes)


def _adc_lut(query_vec_col: str, codebooks: list[list[list[float]]]) -> Column:
    """Flat per-query ADC lookup table: entry j*k + c =
    ||q_sub_j - book_j[c]||^2 — m*k doubles per query, the whole thing
    broadcast so corpus-side scoring is m array lookups per code.
    NOTE: the per-subspace lambda must take ONE arg — a two-arg lambda
    (even via a default binding) makes F.transform pass the array
    INDEX as the second parameter."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    qv = (
        F.col(query_vec_col) if isinstance(query_vec_col, str) else query_vec_col
    )

    def _sub_lut(j: int) -> Column:
        sub_q = F.slice(qv.cast("array<double>"), j * dsub + 1, dsub)
        return F.transform(
            _centroid_lit(codebooks[j]),
            lambda c: F.aggregate(
                F.zip_with(sub_q, c, lambda v, cc: (v - cc) * (v - cc)),
                F.lit(0.0),
                lambda s, x: s + x,
            ),
        )

    return F.flatten(F.array(*[_sub_lut(j) for j in range(m)]))


def _adc_score(code_col: str, codebooks: list[list[list[float]]]) -> Column:
    """SUM of m `_lut` lookups selected by the stored code array —
    the asymmetric distance of one code against the query's LUT
    (compiled sb_adc kernel)."""
    ensure_kernel()
    return F.call_udf("sb_adc", F.col("_lut"), F.col(code_col), F.lit(len(codebooks[0])))


def pq_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    round_scores: int | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: per query, precompute the
    m x k lookup table of exact subspace distances query->sub-centroid,
    broadcast it, and score each stored code as the SUM of m table
    lookups — no float vectors are read at query time, only the m-byte
    codes. TakeOrdered per query via rank-window over the (tiny)
    query-partitioned score set.

    Scale: the scored relation is |corpus| x |queries| rows of
    (id, code-lookup sum) — queries are few and broadcast; the
    heavy side streams map-only; the top-k is a per-query window over
    scores, with the usual rank pushdown. Distances are approximate
    (quantization error) — this is the recall/memory trade PQ makes.
    """
    from pyspark.sql import Window as W

    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        _adc_lut(query_vec_col, codebooks).alias("_lut"),
    )
    adc = _adc_score(code_col, codebooks)
    scored = codes.select(id_col, code_col).join(F.broadcast(q)).select(
        "query_id", F.col(id_col).alias("vec_id"), adc.alias("adc_dist")
    )
    # round_scores: rank on ROUND(adc, n) instead of the raw double —
    # summation-order float noise (~1e-16) then cannot flip ranks
    # between engines computing the same distances a different way
    # (the q34 pinned-quantizer convention)
    if round_scores is not None:
        scored = scored.withColumn(
            "adc_dist", F.round(F.col("adc_dist"), round_scores)
        )
    w = W.partitionBy("query_id").orderBy(F.col("adc_dist").asc(), F.col("vec_id").asc())
    return scored.withColumn("rank", F.row_number().over(w).cast("int")).where(
        F.col("rank") <= k
    )


# -- IVF-PQ composition -------------------------------------------------------


def ivfpq_encode(
    df: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    cell_col: str = "cell",
    code_col: str = "pq_code",
    round_dp: int | None = 6,
    quantizer: str = "dot",
    residual: bool = False,
) -> DataFrame:
    """One map-only pass producing BOTH halves of the IVF-PQ index
    entry: the coarse Voronoi cell (for pruning) and the m-byte PQ code
    (for ADC scoring). This is the standard 100 TB ANN layout (FAISS
    IndexIVFPQ, Jegou et al. 2011): store (cell, code) per vector —
    never the float vector — and partition/cluster storage by `cell`
    so a probe touches only the probed cells' files.

    quantizer="dot": pinned equal-norm ±1 centroids (md5_centroids),
    cell = argmax rounded dot — SQL-replayable (the q34 convention).
    quantizer="l2": nearest centroid by squared L2 (trained ivf_train
    centroids). `round_dp` pins both the cell argmin/argmax and the PQ
    sub-centroid argmin for cross-engine determinism.

    `residual=False` quantizes the RAW vector with ONE shared codebook
    — encode stays a broadcast-free projection and a single LUT serves
    every probed cell at query time. `residual=True` quantizes
    (v - centroid[cell]) — the full FAISS IndexIVFPQ refinement:
    residuals are smaller and better centered than raw vectors, so
    the same m x k codebook wastes less of its quantization budget;
    the price is one LUT per (query, probed cell) instead of one per
    query (still nprobe * m * k doubles — broadcast-sized). Encode is
    STILL map-only: the centroid table is a plan literal."""
    vec = F.col(vec_col).cast("array<double>")
    if quantizer == "dot":
        cell = ivf_cell_dot(vec, centroids, round_dp if round_dp is not None else 6)
    elif quantizer == "l2":
        cell = ivf_cell(vec, centroids, round_dp=round_dp)
    else:
        raise ValueError(f"unknown quantizer {quantizer!r}")
    out = df.withColumn(cell_col, cell)
    if residual:
        res = F.zip_with(
            vec,
            F.element_at(_centroid_lit(centroids), F.col(cell_col) + 1),
            lambda v, c: v - c,
        )
        out = out.withColumn("_res", res)
        out = pq_encode(out, codebooks, vec_col="_res", out_col=code_col, round_dp=round_dp)
        return out.drop("_res")
    return pq_encode(out, codebooks, vec_col=vec_col, out_col=code_col, round_dp=round_dp)


def ivfpq_topk(
    codes: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    cell_col: str = "cell",
    code_col: str = "pq_code",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    round_scores: int | None = None,
    quantizer: str = "dot",
    residual: bool = False,
) -> DataFrame:
    """IVF-PQ top-k: coarse cell pruning THEN asymmetric-distance
    scoring over codes in the probed cells only — the composition that
    makes PQ viable at 100 TB (pq_topk alone scans every code per
    query; ivf_topk alone re-reads float vectors).

    Per query: pick the `nprobe` nearest coarse cells (rounded
    dot/L2, the same rule encode used), build the m x k ADC LUT once,
    and broadcast (query_id, cell, LUT) rows. The corpus side is ONE
    broadcast hash join on `cell` — only codes in probed cells are
    scored, ~|corpus| * nprobe / nlist candidates per query, each
    costing m array lookups. No shuffle of the code table, no float
    vectors read. Recall loss vs exact = coarse pruning (raise nprobe)
    + quantization error (raise m/k) — both knobs independent.

    With `residual=True` (codes from ivfpq_encode(residual=True)) the
    LUT is built per PROBED CELL from the query residual
    (q - centroid[cell]) — the broadcast grows from m*k to
    nprobe*m*k doubles per query (still tiny) and the join/score
    shape is unchanged."""
    from pyspark.sql import Window as W

    qv = F.col(query_vec_col).cast("array<double>")
    if quantizer == "dot":
        pairs = F.zip_with(
            _dots(qv, centroids, 6),
            F.sequence(F.lit(0), F.lit(len(centroids) - 1)),
            lambda d, p: F.struct((-d).alias("nd"), p.alias("cell")),
        )
    elif quantizer == "l2":
        pairs = F.zip_with(
            _sq_dists(qv, centroids),
            F.sequence(F.lit(0), F.lit(len(centroids) - 1)),
            lambda d, p: F.struct(d.alias("d"), p.alias("cell")),
        )
    else:
        raise ValueError(f"unknown quantizer {quantizer!r}")
    probes = F.transform(F.slice(F.array_sort(pairs), 1, nprobe), lambda s: s["cell"])
    if residual:
        q = queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vec_col),
            F.explode(probes).alias(cell_col),
        )
        qres = F.zip_with(
            F.col(query_vec_col).cast("array<double>"),
            F.element_at(_centroid_lit(centroids), F.col(cell_col) + 1),
            lambda v, c: v - c,
        )
        q = q.select(
            "query_id", _adc_lut(qres, codebooks).alias("_lut"), cell_col
        )
    else:
        q = queries.select(
            F.col(query_id_col).alias("query_id"),
            _adc_lut(query_vec_col, codebooks).alias("_lut"),
            F.explode(probes).alias(cell_col),
        )
    scored = (
        codes.select(id_col, cell_col, code_col)
        .join(F.broadcast(q), cell_col)
        .select(
            "query_id",
            F.col(id_col).alias("vec_id"),
            _adc_score(code_col, codebooks).alias("adc_dist"),
        )
    )
    if round_scores is not None:
        scored = scored.withColumn(
            "adc_dist", F.round(F.col("adc_dist"), round_scores)
        )
    w = W.partitionBy("query_id").orderBy(F.col("adc_dist").asc(), F.col("vec_id").asc())
    return scored.withColumn("rank", F.row_number().over(w).cast("int")).where(
        F.col("rank") <= k
    )


# -- scalar quantization (int8) ----------------------------------------------


def sq8_train(
    corpus: DataFrame, vec_col: str = "embedding"
) -> tuple[list[float], list[float]]:
    """Per-dimension [min, max] ranges for affine int8 quantization —
    one distributed aggregate over (pos, value) pairs (narrow shuffle
    bounded at dim rows per task); the driver holds 2*dim floats."""
    rows = (
        corpus.select(F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "v"))
        .groupBy("pos")
        .agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
        .collect()
    )
    dim = max(int(r["pos"]) for r in rows) + 1
    lo, hi = [0.0] * dim, [0.0] * dim
    for r in rows:
        lo[int(r["pos"])] = round(float(r["lo"]), 6)
        hi[int(r["pos"])] = round(float(r["hi"]), 6)
    return lo, hi


def sq8_encode(
    df: DataFrame,
    lo: list[float],
    hi: list[float],
    vec_col: str = "embedding",
    out_col: str = "sq8",
) -> DataFrame:
    """Affine scalar quantization to int codes 0..255 (4x smaller than
    float32, 8x than float64): code = floor((v - lo) / step) clamped,
    step = (hi - lo) / 256 (degenerate dims -> code 0). Map-only
    whole-stage-codegen arithmetic; `floor` keeps it engine-exact
    (identical doubles -> identical codes everywhere).

    Dequantized midpoint lo + (code + 0.5) * step reconstructs within
    step/2 per dimension — the error bound tests pin this."""
    dim = len(lo)
    lo_lit = F.array(*[F.lit(float(x)) for x in lo])
    step_lit = F.array(
        *[F.lit((float(h) - float(l)) / 256.0) for l, h in zip(lo, hi)]
    )
    v = F.col(vec_col).cast("array<double>")
    codes = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.when(
            F.element_at(step_lit, i + 1) <= 0.0, F.lit(0)
        ).otherwise(
            F.greatest(
                F.lit(0),
                F.least(
                    F.lit(255),
                    F.floor(
                        (F.element_at(v, i + 1) - F.element_at(lo_lit, i + 1))
                        / F.element_at(step_lit, i + 1)
                    ).cast("int"),
                ),
            )
        ),
    )
    return df.withColumn(out_col, codes)


# -- binary quantization (1-bit) + Hamming ANN --------------------------------


def bq_thresholds(corpus: DataFrame, vec_col: str = "embedding") -> list[float]:
    """Per-dimension midrange thresholds (min + (max-min)/2) for 1-bit
    quantization. Midrange, not mean: min/max are EXACT aggregates, so
    the thresholds — and therefore every bit — are engine-identical
    (a float mean would carry summation-order noise into the codes)."""
    rows = (
        corpus.select(F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "v"))
        .groupBy("pos")
        .agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
        .collect()
    )
    dim = max(int(r["pos"]) for r in rows) + 1
    mids = [0.0] * dim
    for r in rows:
        mids[int(r["pos"])] = round(
            float(r["lo"]) + (float(r["hi"]) - float(r["lo"])) / 2.0, 6
        )
    return mids


def bq_encode(
    df: DataFrame,
    thresholds: list[float],
    vec_col: str = "embedding",
    out_col: str = "bq",
) -> Column | DataFrame:
    """Vector -> ONE BIGINT of sign bits (dim <= 64): bit d set iff
    v[d] > threshold[d]. 64 floats -> 8 bytes (32x); the whole code
    fits a machine word, so Hamming distance is a single
    bit_count(xor) — the cheapest possible ANN scoring. Bits combine
    with OR (bit 63 makes the long negative in two's complement —
    harmless, XOR/popcount are bit-level)."""
    dim = len(thresholds)
    if dim > 64:
        raise ValueError("bq_encode packs into one BIGINT: dim <= 64")
    v = F.col(vec_col).cast("array<double>")
    thr = F.array(*[F.lit(t) for t in thresholds])
    # bit values as literals (bit 63 = most-negative long in two's
    # complement); shiftleft can't take a Column shift amount
    powers = F.array(
        *[
            F.lit((1 << d) if d < 63 else -(1 << 63)).cast("long")
            for d in range(dim)
        ]
    )
    code = F.aggregate(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        F.lit(0).cast("long"),
        lambda acc, i: acc.bitwiseOR(
            F.when(
                F.element_at(v, (i + 1).cast("int"))
                > F.element_at(thr, (i + 1).cast("int")),
                F.element_at(powers, (i + 1).cast("int")),
            ).otherwise(F.lit(0).cast("long"))
        ),
    )
    return df.withColumn(out_col, code)


def bq_topk(
    codes: DataFrame,
    query_codes: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    code_col: str = "bq",
    query_id_col: str = "query_id",
    query_code_col: str = "query_bq",
) -> DataFrame:
    """Hamming top-k over 1-bit codes: bit_count(code XOR query_code),
    rank per query with (distance, id) tie-break. All-integer — exact
    on any engine — and the scoring is one XOR + popcount per pair:
    at 100 TB this is the coarse first stage that shortlists
    candidates for PQ/exact re-ranking."""
    from pyspark.sql import Window as W

    q = query_codes.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_code_col).alias("_qc"),
    )
    scored = codes.select(id_col, code_col).join(F.broadcast(q)).select(
        "query_id",
        F.col(id_col).alias("vec_id"),
        F.bit_count(F.col(code_col).bitwiseXOR(F.col("_qc"))).cast("int").alias(
            "hamming"
        ),
    )
    w = W.partitionBy("query_id").orderBy(F.col("hamming").asc(), F.col("vec_id").asc())
    return scored.withColumn("rank", F.row_number().over(w).cast("int")).where(
        F.col("rank") <= k
    )


def coarse_refine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    thresholds: list[float],
    k: int = 10,
    shortlist: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    round_cosine: int | None = None,
) -> DataFrame:
    """Two-stage coarse-to-fine retrieval — the production composition
    the 1-bit codes exist for: (1) Hamming-shortlist the top
    `shortlist` candidates per query over the packed sign bits (one
    XOR+popcount per corpus row, codes are 8 B/vector so the coarse
    stage streams the whole corpus from ~1/32 the bytes), then
    (2) exact cosine re-rank of ONLY the shortlisted vectors.

    Scale: stage 1 is the bq_topk map-only scan vs broadcast query
    codes; stage 2 joins the (queries x shortlist)-row shortlist —
    broadcast — back to the float vectors, so full-precision vectors
    are read for ~shortlist rows per query instead of the corpus.
    Recall is governed by `shortlist` (shortlist >= |corpus| is exact
    brute force). Deterministic end to end: the shortlist tie-breaks
    on (hamming, vec_id), the final rank on (cosine desc, vec_id) —
    with round_cosine, every stage is SQL-replayable."""
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    codes = bq_encode(c, thresholds, vec_col="vec", out_col="bq")
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).cast("array<double>").alias("query_vec"),
    )
    qcodes = bq_encode(q, thresholds, vec_col="query_vec", out_col="query_bq")
    short = bq_topk(
        codes.select("vec_id", "bq"),
        qcodes.select("query_id", "query_bq"),
        k=shortlist,
    ).select("query_id", "vec_id")
    cand = c.join(F.broadcast(short), "vec_id").join(
        F.broadcast(q), "query_id"
    )
    cos = cosine_similarity(F.col("vec"), F.col("query_vec"))
    if round_cosine is not None:
        cos = F.round(cos, round_cosine)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        cand.select("query_id", "vec_id", cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def ivf_candidates(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "vec",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    round_dp: int = 6,
    broadcast_queries: bool = True,
    hier: bool | None = None,
    probe_super: int = 8,
) -> DataFrame:
    """IVF cell-pruned CANDIDATE PAIR generation — the shared coarse
    stage that turns any corpus-vs-corpus similarity task (bitext
    mining, MMR shortlists, k-NN graph construction) from a cartesian
    into an EQUI-JOIN on the Voronoi cell: each corpus vector is
    assigned to its single nearest pinned centroid (argmax rounded
    dot, the q34/q88 rule, via assign_cells_arrow), each query probes
    its `nprobe` nearest cells, and candidates are exactly
    `probe JOIN assigned ON cell`. A (query, vector) pair appears at
    most once because assignment is unique.

    Scale: assignment (one numpy matmul per Arrow batch) and probing
    (the sb_dots kernel) are map-only projections; the only join is
    the hash equi-join on `cell` (broadcast when `broadcast_queries`,
    shuffle otherwise for corpus-sized query sides). Candidate volume per query is
    ~|corpus| * nprobe / nlist — raise nlist at scale to keep cells
    executor-sized: the measured law (auto_nlist, round-9 sweep) is
    cells ∝ corpus at ~2000 occupancy for corpus-sided query sets and
    ~8*sqrt(n_queries*nprobe) for small broadcast ones. Every step
    is SQL-replayable (md5-pinned centroids, rounded-dot argmax; the
    arrow assignment is cell-for-cell pinned against ivf_cell_dot at
    sub-switch nlist). hier/probe_super pass through to
    assign_cells_arrow, with the same auto-switch and random-quantizer
    caveat as semantic_dedup; hier=False forces flat. The query side
    keeps the expression probe list: it needs the nprobe-nearest
    RANKING, not an argmax, and query counts are the small side.

    Returns (query_id, query_vec, vec_id, vec, cell)."""
    cproj = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    c = assign_cells_arrow(
        cproj, centroids, id_col="vec_id", vec_col="vec", round_dp=round_dp,
        hier=hier, probe_super=probe_super,
    )
    pairs = F.zip_with(
        _dots(F.col("query_vec"), centroids, round_dp),
        F.sequence(F.lit(0), F.lit(len(centroids) - 1)),
        lambda d, p: F.struct((-d).alias("nd"), p.alias("cell")),
    )
    probes = F.transform(F.slice(F.array_sort(pairs), 1, nprobe), lambda s: s["cell"])
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).cast("array<double>").alias("query_vec"),
    ).select("query_id", "query_vec", F.explode(probes).alias("cell"))
    if broadcast_queries:
        q = F.broadcast(q)
    return c.join(q, "cell").select(
        "query_id", "query_vec", "vec_id", "vec", "cell"
    )


def bitext_mine_ivf(
    src: DataFrame,
    tgt: DataFrame,
    centroids: list[list[float]],
    k: int = 4,
    nprobe: int = 3,
    margin_milli: int = 1050,
    round_dp: int = 6,
    eager: bool = True,
) -> DataFrame:
    """Bitext mining with RATIO-margin scoring (Artetxe & Schwenk
    2019) composed with the IVF coarse index: candidate (x, y) pairs
    come from `ivf_candidates` — an equi-join on the pinned Voronoi
    cell — NOT a src x tgt cartesian, so the written plan contains no
    CartesianProduct/BroadcastNestedLoopJoin node and survives two
    corpus-sided inputs at 100 TB.

    Margin semantics follow the production FAISS-mining shape: each
    side's k-NN sums are computed over the RETRIEVED candidate set
    (the index's neighbors), with the actual retrieved counts nx/ny
    in the numerator so sparse cells degrade gracefully:
      margin_milli = floor(1000 * (nx + ny) * cos / (sum_x + sum_y))
    i.e. cosine over the mean of both sides' retrieved-k-NN cosines,
    in exact integer milli-units. Cosines are micro-rounded BIGINTs,
    ranks tie-break on ids — every stage SQL-replayable.

    src: (x_id, xv); tgt: (y_id, yv). Returns one row per source with
    >= 1 candidate: (x_id, best_y, cos_micro, margin_milli, mined)."""
    cand_raw = ivf_candidates(
        tgt.select(F.col("y_id").alias("vec_id"), F.col("yv").alias("vec")),
        src.select(F.col("x_id").alias("query_id"), F.col("xv").alias("query_vec")),
        centroids,
        nprobe=nprobe,
        round_dp=round_dp,
        broadcast_queries=False,  # src is corpus-sized: shuffle equi-join
    )
    cm = F.round(
        cosine_similarity(F.col("query_vec"), F.col("vec")) * 1_000_000
    ).cast("bigint")
    cand = cand_raw.select(
        F.col("query_id").alias("x_id"),
        F.col("vec_id").alias("y_id"),
        cm.alias("cm"),
    )
    if eager:
        cand.persist()
    wx = Window.partitionBy("x_id").orderBy(F.desc("cm"), "y_id")
    wy = Window.partitionBy("y_id").orderBy(F.desc("cm"), "x_id")
    ranked = cand.withColumn("rx", F.row_number().over(wx)).withColumn(
        "ry", F.row_number().over(wy)
    )
    sum_x = (
        ranked.where(F.col("rx") <= k)
        .groupBy("x_id")
        .agg(F.sum("cm").alias("sx"), F.count("*").alias("nx"))
    )
    sum_y = (
        ranked.where(F.col("ry") <= k)
        .groupBy("y_id")
        .agg(F.sum("cm").alias("sy"), F.count("*").alias("ny"))
    )
    best = ranked.where(F.col("rx") == 1).select("x_id", "y_id", "cm")
    out = (
        best.join(sum_x, "x_id")
        .join(sum_y, "y_id")
        .withColumn(
            # guard the denominator: retrieved-candidate cosines can be
            # non-positive, making sx+sy zero or negative — margin is
            # undefined there (NULL), and such a row is never `mined`
            "margin_milli",
            F.when(
                F.col("sx") + F.col("sy") > 0,
                F.floor(
                    F.lit(1000) * (F.col("nx") + F.col("ny")) * F.col("cm")
                    / (F.col("sx") + F.col("sy"))
                ).cast("bigint"),
            ).otherwise(F.lit(None).cast("bigint")),
        )
        .select(
            "x_id",
            F.col("y_id").alias("best_y"),
            F.col("cm").alias("cos_micro"),
            "margin_milli",
            F.coalesce(
                F.col("margin_milli") >= margin_milli, F.lit(False)
            ).alias("mined"),
        )
    )
    if not eager:  # lazy plan for plan-shape tests
        return out
    # Pin the per-source result (one row per src with candidates — the
    # size the caller collects anyway) and release the candidate cache,
    # which `ranked` would otherwise recompute for sum_x/sum_y/best.
    # persist+count, not localCheckpoint (RDD path bypasses AQE).
    out = out.persist()
    out.count()
    cand.unpersist()
    return out


def semantic_dedup(
    embeddings: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    round_dp: int = 6,
    hier: bool | None = None,
    probe_super: int = 8,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space, then mark semantic duplicates INSIDE each cluster
    only — the curation step that removes semantically redundant
    training examples an exact/minhash dedup can't see (different
    words, same meaning).

    Mechanics (the q34 pinned-quantizer convention):
      1. assign each vector to its cell: argmax of ROUND(dot, round_dp)
         against the pinned equal-norm centroids, ties -> lowest cell
         (assign_cells_arrow: one numpy matmul per Arrow batch);
      2. pairwise rounded cosine WITHIN cells (the blockwise numpy gram
         per cell, _semantic_dedup_dropped_arrow);
      3. for each pair with cosine >= threshold, drop the member closer
         to its centroid — the paper's keep-the-edge-points policy —
         with (centroid_cos, vec_id) as the deterministic total order
         (drop the greater; ties cannot survive the id tiebreak).

    Output: one row per input vector — (vec_id, cell, centroid_cos as
    %.6f string, dropped) — so keep/drop for the WHOLE corpus is
    hash-gated, not just the dup pairs. Degenerate vectors (zero-norm
    or NaN-valued) get a NULL centroid_cos and are never dropped.

    Scale: the only shuffle is on the cell key; with nlist cells sized
    so a cell holds O(sqrt(pair budget)) vectors, pair work is
    n^2/nlist per-cell-uniform (the paper runs ~100M docs with k=50k
    clusters). Assignment and the drop-side aggregation are map-local;
    no all-pairs stage exists anywhere. The all-Catalyst form (argmax
    folds, in-cell self-join) is the test oracle
    (tests/oracles/semdedup.py): it lost everywhere with identical
    output (SCALE.md r9 — 40.9 vs 13.8 s cell assignment at sf1
    nlist=160; ~66-70x slower in-cell stage).
    hier/probe_super pass through to assign_cells_arrow: hier=None
    auto-switches to the two-level coarse quantizer at nlist >=
    _HIER_NLIST_MIN (measured crossover), which is APPROXIMATE — fine
    for trained quantizers (96-99.98% cell agreement), poor for random
    pinned ones (see assign_cells_arrow); hier=False forces flat
    assignment at any nlist. Every gated query pins nlist far below
    the switch."""
    assigned = assign_cells_arrow(
        embeddings.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("vec"),
        ),
        centroids, id_col="vec_id", vec_col="vec", round_dp=round_dp,
        hier=hier, probe_super=probe_super,
    )
    if len(centroids) * len(centroids[0]) <= _CENTROID_LITERAL_BUDGET:
        # small-nlist (oracle-gated) path: rounded cosine to the OWN
        # cell's centroid as the bit-exact Catalyst fold — the matmul's
        # own-dot ccos differs only by the documented ~1 ulp BLAS-order
        # noise. The fold embeds an O(nlist x dim) literal centroid
        # array in the plan — measured to stall the driver from ~1.4e5
        # literals and OOM a 16g heap at ~5.7e5 (nlist 2236/8944 x dim
        # 64, round-9 nlist sweep) — so past the budget the matmul's
        # ccos stands. A zero denominator yields NULL, as the matmul
        # does, instead of ANSI DIVIDE_BY_ZERO.
        cent = _centroid_lit(centroids)
        own = F.element_at(cent, F.col("cell") + 1)
        den = norm(F.col("vec")) * norm(own)
        ccos = F.round(
            F.aggregate(
                F.zip_with(F.col("vec"), own, lambda v, c: v * c),
                F.lit(0.0),
                lambda s, x: s + x,
            )
            / F.when(den != 0.0, den),
            round_dp,
        )
        assigned = assigned.withColumn("centroid_cos", ccos)
    dropped = _semantic_dedup_dropped_arrow(assigned, threshold, round_dp)
    return (
        assigned.join(dropped.withColumn("_d", F.lit(True)), "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            F.format_string("%.6f", F.col("centroid_cos")).alias("centroid_cos"),
            F.coalesce(F.col("_d"), F.lit(False)).alias("dropped"),
        )
    )


def _spark_round_half_up(arr, round_dp: int):
    """Vectorized repr-faithful mirror of Spark ROUND over doubles.

    Spark rounds a double via BigDecimal.valueOf(d) — i.e. the SHORTEST
    round-trip decimal repr (Double.toString) — then setScale(dp,
    HALF_UP). The pure-binary mirror sign*floor(abs*scale+0.5)/scale
    agrees everywhere EXCEPT when the shortest repr lands exactly on an
    x...5 boundary while the binary value sits up to half an ulp below
    it (ADVICE r6: 0.0001245 -> Spark 0.000125, binary mirror
    0.000124). Two divergence mechanisms therefore exist between any
    numpy kernel and the Catalyst fold: (1) BLAS summation order
    shifting a dot by ~1 ulp across a boundary (quantified in
    assign_cells_arrow's docstring), and (2) this repr-vs-binary
    boundary case. This helper closes (2) exactly: values whose scaled
    magnitude lies within a few ulps of a half-integer boundary are
    re-rounded through Python's repr — also the shortest round-trip
    decimal, hence decimal-equal to Java's Double.toString — with
    decimal ROUND_HALF_UP (away from zero, matching BigDecimal).
    Boundary suspects are vanishingly rare in real data, so the exact
    slow path costs nothing; equivalence to F.round is pytest-pinned
    including exact-boundary adversarial values
    (test_spark_round_half_up_matches_f_round).

    Magnitude regimes (round-7 review finding): every double >= 2^52 is
    an integer whose shortest repr has no fractional digits, so Spark
    ROUND returns it UNCHANGED — those values bypass both paths (the
    binary mirror itself is ulp-inexact there, and the old per-element
    quantize raised decimal.InvalidOperation past ~1e22). Between
    ~2^47/scale and 2^52 the ulp tolerance band widens until every
    value tests as a boundary suspect, so such a block degrades to the
    exact per-element path wholesale — correct, just not vectorized;
    the gated kernels only ever round cosines / unit-normalized dots
    (|x| <= ~1), which never enter that regime."""
    import numpy as np

    scale = float(10**round_dp)
    arr = np.asarray(arr, dtype=np.float64)
    y = np.abs(arr) * scale
    out = np.sign(arr) * np.floor(y + 0.5) / scale
    # doubles >= 2^52 are integers: ROUND(x, dp>=0) == x exactly
    big = np.abs(arr) >= 2.0**52
    if big.any():
        out = np.where(big, arr, out)
    # anything within ~8 ulps of a k+0.5 boundary gets the exact path
    tol = 8.0 * np.spacing(np.maximum(y, 1.0))
    suspect = (np.abs(y - np.floor(y) - 0.5) <= tol) & ~big
    if suspect.any():
        from decimal import ROUND_HALF_UP, Decimal, localcontext

        q = Decimal(1).scaleb(-round_dp)
        flat = out.ravel()
        src = np.ascontiguousarray(arr, dtype=np.float64).ravel()
        with localcontext() as ctx:
            # |x| < 2^52 quantized to round_dp needs <= 16 + round_dp
            # coefficient digits; give quantize ample headroom so it
            # can never raise for any value the big-guard lets through
            ctx.prec = max(40, 20 + round_dp)
            for idx in np.nonzero(np.ascontiguousarray(suspect).ravel())[0]:
                flat[idx] = float(
                    Decimal(repr(float(src[idx]))).quantize(q, rounding=ROUND_HALF_UP)
                )
    return out


def _semantic_dedup_dropped_arrow(
    assigned: DataFrame, threshold: float, round_dp: int
) -> DataFrame:
    """The in-cell pairwise stage of semantic_dedup as a numpy gram
    kernel: one applyInPandas per cell builds the cell matrix
    and evaluates all upper-triangle cosines blockwise (1024-row tiles,
    so a mega-cell never materializes an n^2 gram), emitting the
    dropped ids under the keep-the-edge-points policy. ~100x per pair
    vs the expression self-join (SCALE.md), which survives only as the
    test oracle (tests/oracles/semdedup.py). Rounding mirrors Spark
    ROUND exactly via _spark_round_half_up (repr-faithful on
    shortest-decimal .5 boundaries, not just the binary floor form);
    outputs verified IDENTICAL to the expression form over the sf0.1
    and 10x-sf1 embedding corpora and pytest-pinned on the gated q122
    configuration."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    def find_dropped(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"vec_id": pd.Series([], dtype="int64")})
        order = np.argsort(pdf["vec_id"].to_numpy(), kind="stable")
        ids = pdf["vec_id"].to_numpy()[order]
        ccs = pdf["centroid_cos"].to_numpy()[order]
        mat = np.stack(pdf["vec"].to_numpy())[order].astype(np.float64)
        norms = np.sqrt((mat * mat).sum(axis=1))
        dropped: set[int] = set()
        B = 1024
        for i0 in range(0, n, B):
            bi, bn = mat[i0 : i0 + B], norms[i0 : i0 + B]
            for j0 in range(i0, n, B):
                cos = (bi @ mat[j0 : j0 + B].T) / (
                    bn[:, None] * norms[None, j0 : j0 + B]
                )
                cos = _spark_round_half_up(cos, round_dp)
                ii, jj = np.nonzero(cos >= threshold)
                gi, gj = i0 + ii, j0 + jj
                keep = gj > gi  # id-sorted, so index order == id order
                gi, gj = gi[keep], gj[keep]
                if len(gi):
                    a_greater = (ccs[gi] > ccs[gj]) | (
                        (ccs[gi] == ccs[gj]) & (ids[gi] > ids[gj])
                    )
                    dropped.update(
                        np.where(a_greater, ids[gi], ids[gj]).tolist()
                    )
        return pd.DataFrame({"vec_id": pd.Series(sorted(dropped), dtype="int64")})

    out_schema = StructType([StructField("vec_id", LongType(), False)])
    return (
        assigned.select("vec_id", "vec", "cell", "centroid_cos")
        .groupBy("cell")
        .applyInPandas(find_dropped, out_schema)
        .distinct()
    )


def kmeans_micro(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed Lloyd's k-means whose ENTIRE training loop is
    engine-replayable — the gated counterpart of ivf_train (which
    trains with float means and is therefore only self-consistent):
    vectors quantize to integer MICRO-units (round(x * 1e6)), so
    distances are exact BIGINT sums, means are floor-divisions, and
    every iteration's centroids are bit-identical on any engine.

    Deterministic seeding without RNG: the k vectors with the
    smallest md5(id) (hex string order). Each iteration:
      assign  — crossJoin against the BROADCAST k-row centroid table,
                exact integer argmin with (dist, cidx) tie-break;
      update  — per-(cell, dimension) integer mean via posexplode +
                partial-agg shuffle (k*dim rows out), empty cells keep
                their previous centroid.
    A final assignment computes members and exact integer inertia.

    Scale ceilings, stated: per-cell per-dimension micro sums must fit
    2^53 for the floor(sum/count) double division to be exact — with
    |x| <= 2 (micro <= 2e6) that is ~4e9 members per cell. Beyond
    that, shard cells or pre-aggregate in BIGINT `div` semantics.

    Returns per-cell: (cell, n_members, inertia, centroid_md5) where
    centroid_md5 hashes the comma-joined micro components."""
    v = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.transform(
            F.col(vec_col).cast("array<double>"),
            lambda x: F.round(x * 1_000_000).cast("bigint"),
        ).alias("iv"),
    )
    v.persist()
    seed_w = Window.orderBy("_m")
    cents = (
        v.withColumn("_m", F.md5(F.col("vec_id").cast("string")))
        .orderBy("_m")
        .limit(k)
        .withColumn("cidx", (F.row_number().over(seed_w) - 1).cast("int"))
        .select("cidx", F.col("iv").alias("civ"))
    )

    def assign(cent_df: DataFrame) -> DataFrame:
        a = v.crossJoin(F.broadcast(cent_df))
        dist = F.aggregate(
            F.zip_with(F.col("iv"), F.col("civ"), lambda p, q: (p - q) * (p - q)),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )
        aw = Window.partitionBy("vec_id").orderBy("dist", "cidx")
        return (
            a.withColumn("dist", dist)
            .withColumn("rn", F.row_number().over(aw))
            .where(F.col("rn") == 1)
            .select("vec_id", "cidx", "iv", "dist")
        )

    for _ in range(iters):
        asg = assign(cents)
        means = (
            asg.select("cidx", F.posexplode("iv").alias("pos", "val"))
            .groupBy("cidx", "pos")
            .agg(
                F.floor(F.sum("val") / F.count("val")).cast("bigint").alias("m")
            )
        )
        new_cents = means.groupBy("cidx").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s["m"],
            ).alias("nciv")
        )
        cents = (
            cents.join(new_cents, "cidx", "left")
            .select(
                "cidx", F.coalesce(F.col("nciv"), F.col("civ")).alias("civ")
            )
        )
    final = assign(cents)
    summary = final.groupBy("cidx").agg(
        F.count("*").cast("long").alias("n_members"),
        F.sum("dist").cast("long").alias("inertia"),
    )
    out = (
        cents.join(summary, "cidx", "left")
        .select(
            F.col("cidx").alias("cell"),
            F.coalesce(F.col("n_members"), F.lit(0)).cast("long").alias("n_members"),
            F.coalesce(F.col("inertia"), F.lit(0)).cast("long").alias("inertia"),
            F.md5(F.array_join(F.transform("civ", lambda x: x.cast("string")), ","))
            .alias("centroid_md5"),
        )
    )
    # Pin the k-row summary and release the micro-vector cache the
    # training loop referenced every iteration (persist+count, not
    # localCheckpoint — the RDD path bypasses AQE).
    out = out.persist()
    out.count()
    v.unpersist()
    return out


# past this many centroids the flat assignment matmul (n x nlist
# flops; ~n^1.5 at the auto_nlist optimum — the SCALE.md r9 known
# ceiling) loses to the two-level coarse quantizer. Measured
# (tools/bench_assign_hier.py, SCALE.md r10): hier wins at every
# point >= 1024 — 1.2x at (n=2e6, nlist=1024), 2.2x at (2e6, 2048),
# 7.4x at (2e6, 4096), 3.6x at (1e7, 1581 — the auto_nlist value);
# the ratio grows ~sqrt(nlist)/9, so the advantage only widens at the
# >=1e8 scales the switch exists for. Gated queries pin nlist <= 160,
# far below the switch.
_HIER_NLIST_MIN = 1024


def _centroid_groups(cmat, n_super: int, iters: int = 10):
    """Deterministic mini-kmeans over the CENTROID table itself: the
    coarse quantizer for two-level assignment. Strided init (no RNG),
    fixed iteration count, empty supers dropped — fully reproducible
    for a given (pinned) centroid table."""
    import numpy as np

    n = len(cmat)
    n_super = max(2, min(n_super, n))
    stride = max(1, n // n_super)
    sup = cmat[::stride][:n_super].copy()

    def labels(c):
        # ||a-b||^2 = ||a||^2 - 2ab + ||b||^2 via one matmul — the
        # broadcast (nlist, n_super, dim) temporary would be ~6 GB at
        # (1e4, 100, 768) and ~190 GB at nlist 1e5, on the DRIVER, at
        # exactly the scales the hier switch exists for (round-10
        # self-review); the matmul form is O(nlist * n_super)
        d2 = (
            (cmat * cmat).sum(axis=1)[:, None]
            - 2.0 * (cmat @ c.T)
            + (c * c).sum(axis=1)[None, :]
        )
        return d2.argmin(axis=1)

    for _ in range(iters):
        lab = labels(sup)
        for s in range(len(sup)):
            m = lab == s
            if m.any():
                sup[s] = cmat[m].mean(axis=0)
    lab = labels(sup)
    members = [np.flatnonzero(lab == s) for s in range(len(sup))]
    keep = [s for s, m in enumerate(members) if len(m)]
    return sup[keep], [members[s] for s in keep]


def assign_cells_arrow(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
    hier: bool | None = None,
    probe_super: int = 8,
) -> DataFrame:
    """DataFrame-level Arrow twin of `ivf_cell_dot`: (id, vec, cell) via
    one numpy matmul per batch against the broadcast centroid matrix —
    the large-nlist assignment lever (the expression argmax folds
    nlist zip_with chains PER ROW: measured 36 s of a 42 s sf1 run at
    nlist=160, vs ~1 s here; at the paper-scale k=50k it is the only
    viable path). Semantics mirrored exactly: per-centroid dot rounded
    via _spark_round_half_up (repr-faithful Spark ROUND — both the
    binary fast path AND the shortest-decimal .5-boundary case), argmax
    with ties to the LOWEST cell (np.argmax takes the first maximum).
    Equivalence pytest-pinned against ivf_cell_dot
    (`test_assign_cells_arrow_matches_expr`).

    Residual float-summation caveat, quantified (the ONE remaining
    divergence mechanism — the repr-boundary mechanism is closed by
    _spark_round_half_up): BLAS accumulates in a different order than
    the Catalyst fold, so a dot can differ by O(1) ulp (~1e-15
    relative). A cell flip needs the TRUE dot within that ~1e-15 of an
    exact x.xxxxxx5 HALF_UP boundary (the boundary grid is ~1e-6 apart
    at 6 dp), i.e. ~1e-12 per dot and ~1e-6 per multi-million-dot
    corpus pass. The driver gate evaluates query and oracle on the
    same host (verified identical tri-SF + sf1); the expression forms
    (ivf_cell_dot, tests/oracles/semdedup.py) remain the bit-guaranteed
    engine-replayable reference for cross-engine reproduction.

    `hier` switches to TWO-LEVEL assignment (the coarse-to-fine wiring
    VERDICT r9 task 4 asked for): centroids group into ~sqrt(nlist)
    super-cells via a deterministic mini-kmeans over the centroid
    table; each vector dots against the supers, takes its top
    `probe_super`, and runs the exact rounded-dot argmax only over
    those supers' member centroids — ~(1+probe_super)*sqrt(nlist)
    flops/vector instead of nlist, which removes the ~n^1.5
    flat-assignment wall past ~1e8 vectors. hier=None (default)
    auto-switches at nlist >= _HIER_NLIST_MIN (measured crossover,
    tools/bench_assign_hier.py) — every gated query's pinned nlist is
    far below it, so gated outputs are bit-identical to flat. The
    hierarchical result is approximate only when a vector's true
    nearest centroid lives outside its probed super-cells: measured
    agreement at probe_super=8 is 96-98% on the 2e6-vector crossover
    bench and ~99.98% when nlist is near the true cluster count, for
    TRAINED quantizers (ivf_train/kmeans — the production path at the
    scales where the switch fires; clustered centroids make
    super-routing informative)
    but degrades badly for RANDOM pinned quantizers (md5_centroids:
    ~86% at p=8, since near-orthogonal random centroids carry no
    cluster structure) — callers keeping a random quantizer past the
    crossover should pass hier=False or raise probe_super. IVF cell
    assignment is itself a blocking heuristic; probing ALL supers is
    bit-identical to flat (pytest-pinned)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    cmat = np.asarray(centroids, dtype=np.float64)
    cnorms = np.sqrt((cmat * cmat).sum(axis=1))
    if hier is None:
        hier = len(cmat) >= _HIER_NLIST_MIN
        if hier:
            # the auto-switch crosses from exact to approximate
            # assignment — callers above the threshold must get a
            # runtime signal, not a silent behavior change (ADVICE r10):
            # approximation is fine for trained quantizers but degrades
            # to ~86% agreement on random pinned ones
            import warnings

            warnings.warn(
                f"assign_cells_arrow: nlist={len(cmat)} >= "
                f"{_HIER_NLIST_MIN} auto-enables two-level (approximate) "
                "assignment; pass hier=False for exact flat assignment "
                "or hier=True to silence this warning",
                RuntimeWarning,
                stacklevel=2,
            )
    sup_members = (
        _centroid_groups(cmat, int(round(len(cmat) ** 0.5))) if hier else None
    )
    out_schema = StructType(
        [
            StructField("vec_id", LongType(), False),
            StructField("vec", ArrayType(DoubleType()), False),
            StructField("cell", IntegerType(), False),
            StructField("centroid_cos", DoubleType(), True),
        ]
    )

    def assign_flat(mat):
        raw = mat @ cmat.T
        dots = _spark_round_half_up(raw, round_dp)
        cells = dots.argmax(axis=1).astype(np.int32)
        return cells, raw[np.arange(len(raw)), cells]

    def assign_hier(mat):
        sup, members = sup_members
        sdots = mat @ sup.T
        p = min(probe_super, len(sup))
        # top-p supers per row, deterministic (full argsort, stable)
        top = np.argsort(-sdots, kind="stable", axis=1)[:, :p]
        cells = np.empty(len(mat), dtype=np.int32)
        own = np.empty(len(mat), dtype=np.float64)
        uniq, inv = np.unique(top, axis=0, return_inverse=True)
        for gi in range(len(uniq)):
            rows = np.flatnonzero(inv == gi)
            cand = np.unique(np.concatenate([members[s] for s in uniq[gi]]))
            sub = mat[rows] @ cmat[cand].T
            loc = _spark_round_half_up(sub, round_dp).argmax(axis=1)
            cells[rows] = cand[loc].astype(np.int32)
            own[rows] = sub[np.arange(len(rows)), loc]
        return cells, own

    def work(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            # rounded-dot argmax (ties to the lowest cell; candidate
            # index lists are sorted ascending on the hier path, so
            # subset argmax keeps the same tie rule); own = the RAW
            # (pre-rounded) dot the argmax selected — the matmul
            # already computed every dot, so the ccos that the
            # expression path re-derives per row from an O(nlist x
            # dim) plan-literal centroid array (the round-9 measured
            # OOM at nlist~9e3, see semantic_dedup) is free here
            cells, own = assign_hier(mat) if hier else assign_flat(mat)
            denom = np.sqrt((mat * mat).sum(axis=1)) * cnorms[cells]
            with np.errstate(divide="ignore", invalid="ignore"):
                ccos = _spark_round_half_up(
                    np.where(denom == 0.0, np.nan, own / denom), round_dp
                )
            # Degenerate vectors (zero-norm OR NaN-valued) come out
            # NULL — made EXPLICIT via the nullable Float64 conversion
            # so the behavior doesn't hang on the serializer's default.
            # Measured truth on this stack (round-10 review follow-up):
            # Spark's Arrow ingestion converts float NaN to NULL
            # regardless (pa.Array.from_pandas semantics — a NaN can't
            # cross this boundary at all, which also settles ADVICE
            # r9's NaN-sorts-above-NULL concern). An unguarded
            # Catalyst division would RAISE DIVIDE_BY_ZERO under Spark
            # 4's default ANSI mode instead; semantic_dedup's
            # sub-budget ccos fold guards its denominator to match.
            # Gated corpora contain no degenerate vectors
            # (pytest-pinned behavior).
            ccos_col = (
                pd.array(ccos, dtype="Float64") if np.isnan(ccos).any() else ccos
            )
            yield pd.DataFrame(
                {
                    "vec_id": pdf[id_col].astype("int64").to_numpy(),
                    "vec": list(mat),
                    "cell": cells,
                    "centroid_cos": ccos_col,
                }
            )

    return df.select(id_col, vec_col).mapInPandas(work, out_schema)
