"""Plan-shape regression tests: the physical plans the 100 TB design
depends on (broadcast joins for dims, filter pushdown + column pruning
at the parquet scan, no shuffle in the scan pipeline)."""

from __future__ import annotations

import re

from pyspark.sql import functions as F


def _formatted(df) -> str:
    jexec = df._jdf.queryExecution()
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return jexec.explainString(mode)


def test_dim_joins_broadcast(spark):
    import __spark_entry__ as em

    plan = _formatted(em.q06_join_history(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_parquet_pushdown_and_pruning(spark):
    df = (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .where("l_quantity > 30")
        .select("l_orderkey")
    )
    plan = _formatted(df)
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "GreaterThan(l_quantity" in m.group(1)
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    # only the two referenced columns reach the scan
    assert m and set(re.findall(r"(\w+):", m.group(1))) <= {"l_orderkey", "l_quantity"}


def _chunk_hits(spark):
    from tests.oracles.chunk_run import chunks_from_bytes
    from swiftbeaver_spark.config import DEFAULT_CONFIG
    from swiftbeaver_spark.fused_scan import scan_all_from_chunks

    chunks = chunks_from_bytes(spark, b"\x00" * 4096, 1024, 64)
    return scan_all_from_chunks(chunks, DEFAULT_CONFIG)["hits"]


def test_scan_pipeline_shuffle_free(spark):
    """chunks -> scan -> normalize introduces no exchange beyond the
    initial chunk distribution."""
    assert "Exchange" not in _formatted(_chunk_hits(spark))


def test_overlap_dedup_is_catalyst_filter(spark):
    """The overlap-dedup must appear as a plain Filter (not buried in a
    kernel stage) so Catalyst can reason about it; the local offset is
    inlined as shiftright(packed, 16)."""
    plan = _formatted(_chunk_hits(spark))
    assert re.search(r"Filter.*shiftright\(packed.*valid_length", plan, re.DOTALL)


def test_chunk_table_run_scans_once(spark, tmp_path):
    """One table graph: Engine.run persists its scan's raw frame, and
    hits, string_spans and entropy_regions all read it through
    InMemoryTableScan — the fused kernel runs once per sub-chunk."""
    import dataclasses

    from swiftbeaver_spark.config import DEFAULT_CONFIG
    from swiftbeaver_spark.engine import Engine

    cfg = dataclasses.replace(
        DEFAULT_CONFIG,
        chunk_size=4096,
        overlap=256,
        enable_string_scan=True,
        enable_entropy_detection=True,
        entropy_window_size=256,
    )
    path = tmp_path / "ev.raw"
    path.write_bytes(b"text https://a.example " * 800)
    res = Engine(spark, cfg).run(evidence_path=str(path))
    try:
        raw_plan = res.persisted[0]._jdf.queryExecution().analyzed().toString()
        assert re.search(r"sb_scan_all\(", raw_plan), raw_plan
        for name in ("hits", "string_spans", "entropy_regions"):
            # the cached relation the table scans is the raw frame
            plan = _formatted(res[name])
            raw_rel = r"InMemoryRelation\nArguments: \[start#\w+, valid_length#\w+, r#"
            assert "InMemoryTableScan" in plan and re.search(raw_rel, plan), name
    finally:
        res.unpersist()


def test_entropy_merge_windows_are_bucketed(spark):
    """Round-1 weakness: merge_regions ran ONE global window over every
    qualifying entropy window. The rewrite must push the bulk of the
    merge through bucket-partitioned windows; at most the final stitch
    (lag + running sum over O(total/span^2) boundary rows) may be
    global."""
    import dataclasses

    from tests.oracles.chunk_run import chunks_from_bytes
    from swiftbeaver_spark.config import DEFAULT_CONFIG
    from swiftbeaver_spark.fused_scan import scan_all_from_chunks

    cfg = dataclasses.replace(
        DEFAULT_CONFIG,
        enable_entropy_detection=True,
        entropy_window_size=256,
        entropy_threshold=7.5,
    )
    chunks = chunks_from_bytes(spark, bytes(range(256)) * 8, 1 << 20, 0)
    df = scan_all_from_chunks(chunks, cfg)["entropy_regions"]
    plan = _formatted(df)
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    bucketed = [s for s in specs if "bucket" in s]
    global_specs = [s for s in specs if "bucket" not in s]
    # two bucketed levels (lag + sum each)
    assert len(bucketed) >= 4, plan
    # only the final stitch may be unpartitioned (its lag + sum)
    assert len(global_specs) <= 2, plan


def test_crossdoc_dup_is_windowless(spark):
    """crossdoc_dup_ngrams must contain NO window operator: a hot
    boilerplate gram would funnel every instance through one sort
    partition. The scale shape is aggregates only."""
    from swiftbeaver_spark.llm.pipeline import crossdoc_dup_ngrams

    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f")], "doc_id long, text string"
    )
    plan = _formatted(crossdoc_dup_ngrams(df, ngram_n=5))
    assert "Window" not in plan, plan
    assert "HashAggregate" in plan or "ObjectHashAggregate" in plan


def test_countmin_estimate_broadcasts_sketch(spark):
    """The probe-side join against the (bounded, small) sketch must be
    a broadcast hash join — never a shuffle of the probe stream."""
    from swiftbeaver_spark.sketch import countmin_build, countmin_estimate

    vals = spark.createDataFrame([(f"v{i}",) for i in range(50)], "v string")
    sketch = countmin_build(vals, "v", depth=2, prefix_len=2)
    est = countmin_estimate(sketch, vals.distinct(), "v", depth=2, prefix_len=2)
    plan = _formatted(est)
    assert "BroadcastHashJoin" in plan, plan


def test_star_join_pushes_date_filter(spark):
    """q96: the order-date range must reach the orders parquet scan as
    a pushed filter (partition/row-group pruning at scale), and the
    always-tiny dims (nation, region) must broadcast."""
    import __spark_entry__ as em

    plan = _formatted(em.q96_star_join(spark, "/root/testdata/sf0.001"))
    assert re.search(r"PushedFilters:.*GreaterThanOrEqual\(o_orderdate", plan), plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan or "Exchange hashpartitioning" in plan


def test_chunk_documents_no_shuffle(spark):
    """q105: chunking is row-local — the plan must contain no Exchange
    (no shuffle) and no Window."""
    from swiftbeaver_spark.llm.pipeline import chunk_documents

    df = spark.createDataFrame([(1, "x" * 500)], "doc_id long, text string")
    plan = _formatted(chunk_documents(df))
    assert "Exchange" not in plan, plan
    assert "Window" not in plan, plan


def test_compaction_plan_window_is_partitioned(spark):
    """q97: the rolling-sum window must partition by the table
    partition column — no global window over the whole manifest."""
    from swiftbeaver_spark.layout import compaction_plan

    files = spark.createDataFrame(
        [(1, "a", 10)], "part_key int, path string, size_bytes long"
    )
    plan = _formatted(compaction_plan(files, 100, partition_col="part_key"))
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all("part_key" in s for s in specs), plan


def test_boilerplate_removal_no_window(spark):
    """q109: doc-frequency counting must be aggregates (map-side
    combinable), never a window over exploded lines."""
    from swiftbeaver_spark.llm.pipeline import boilerplate_line_removal

    df = spark.createDataFrame([(1, "a\nb")], "doc_id long, text string")
    plan = _formatted(boilerplate_line_removal(df))
    assert "Window" not in plan, plan


def test_snapshot_diff_shuffles_digests_not_payload(spark):
    """q112: the full-outer join inputs must be (key, md5 digest)
    projections — the payload columns may not appear in any Exchange
    output schema."""
    from swiftbeaver_spark.relational import snapshot_diff

    old = spark.createDataFrame(
        [(1, "p" * 10, 1.0)], "k int, payload string, v double"
    )
    new = spark.createDataFrame(
        [(1, "p" * 10, 2.0)], "k int, payload string, v double"
    )
    plan = _formatted(snapshot_diff(old, new, ["k"]))
    for m in re.finditer(r"Exchange hashpartitioning[^\n]*", plan):
        assert "payload" not in m.group(0), m.group(0)


def test_filtered_ann_pushes_label_filter(spark):
    """q121: the label predicate must reach the parquet scan as a
    pushed filter — the index never sees filtered-out vectors."""
    import __spark_entry__ as em

    # another module's cached embeddings fixture can swap the parquet
    # scan for an InMemoryRelation (no PushedFilters line); clear it
    # so this asserts the cold-scan plan the driver sees
    spark.catalog.clearCache()
    plan = _formatted(em.q121_filtered_ann(spark, "/root/testdata/sf0.001"))
    assert re.search(r"PushedFilters:.*EqualTo\(label,2\)", plan), plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan


def test_q126_pushes_part_size_filter(spark):
    """q126: the p_size predicate must reach the part parquet scan."""
    import __spark_entry__ as em

    spark.catalog.clearCache()
    plan = _formatted(em.q126_small_qty_revenue(spark, "/root/testdata/sf0.001"))
    assert re.search(r"PushedFilters:.*LessThanOrEqual\(p_size,5\)", plan), plan


def test_temperature_sample_broadcasts_rates(spark):
    """q130: the derived per-group rate table (|groups| rows) joins
    back as a broadcast — the corpus side never shuffles for it."""
    from swiftbeaver_spark.llm.pipeline import temperature_sample

    df = spark.createDataFrame(
        [(i, "en" if i % 2 else "de") for i in range(100)], ["doc_id", "lang"]
    )
    plan = _formatted(temperature_sample(df))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_prefix_filter_join_no_cartesian(spark):
    """q123: candidates come from the prefix-token equi-join — no
    cartesian/nested-loop stage may appear anywhere in the plan."""
    from swiftbeaver_spark.llm.dedup import prefix_filter_near_dups

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f"), (3, "x y z w v")],
        ["doc_id", "text"],
    )
    plan = _formatted(prefix_filter_near_dups(df, threshold_num=7, threshold_den=10))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_collocations_compiles_to_take_ordered(spark):
    """q144: the top-k cut must be TakeOrdered, never a global sort of
    the full bigram table."""
    import __spark_entry__ as em

    plan = _formatted(em.q144_collocations(spark, "/root/testdata/sf0.001"))
    assert "TakeOrderedAndProject" in plan, plan


def test_dense_timeline_broadcasts_spine_sides(spark):
    """q141: the generated hour spine joins the facts without a
    cartesian product; bounds are broadcast."""
    import __spark_entry__ as em

    plan = _formatted(em.q141_dense_timeline(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan, plan


def test_grouped_median_blocked_no_per_group_sort(spark):
    """q115 (r15): the median must run as the two-level block prefix
    sum — the running rank's window partitions on (segment, value
    block), never on the segment alone (5 segments = 5 sort tasks at
    any scale), and the old row_number/count two-window shape is gone."""
    import re

    import __spark_entry__ as em

    plan = _formatted(em.q115_grouped_median(spark, "/root/testdata/sf0.001"))
    assert "row_number" not in plan, plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, plan
    for spec in specs:
        # every window spec must carry the _blk block key (the per-block
        # running sum) or partition the TINY block summary (group, _blk
        # ordering) — none may sort whole segments in one partition
        assert "_blk" in spec, plan


def test_feature_store_single_pass_compute_above_range_exchange(spark):
    """q150: all per-doc signals in ONE projection over ONE scan, with
    exactly ONE exchange — the range repartition for the doc_id order —
    sitting BELOW the projection (r14): the heavy md5-per-shingle
    compute must run once, post-exchange, at full width, and the range
    sampling must execute only the narrow scan. A hash exchange or a
    second exchange means the single-pass shape regressed."""
    import re

    import __spark_entry__ as em

    spark.catalog.clearCache()
    df = em.q150_feature_store(spark, "/root/testdata/sf0.001")
    plan = _formatted(df)
    assert "hashpartitioning" not in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "rangepartitioning" in plan, plan
    # the fingerprint projection must be above the exchange: in the
    # formatted tree (root first) the Project line precedes Exchange
    tree = plan.split("(1) ")[0]
    assert tree.index("Project") < tree.index("Exchange"), plan


def test_bitext_mining_no_cartesian(spark):
    """q157: candidate pairs come from the IVF cell equi-join — the
    written plan must contain no cartesian/nested-loop stage even with
    BOTH sides corpus-sized (the scale shape that killed the old
    crossJoin miner)."""
    from swiftbeaver_spark.llm.similarity import bitext_mine_ivf, md5_centroids

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    src = emb.where("label = 0").selectExpr(
        "vec_id AS x_id", "CAST(embedding AS array<double>) AS xv"
    )
    tgt = emb.where("label = 1").selectExpr(
        "vec_id AS y_id", "CAST(embedding AS array<double>) AS yv"
    )
    lazy = bitext_mine_ivf(
        src, tgt, md5_centroids(8, 64, tag="ivfpqcent"), eager=False
    )
    plan = _formatted(lazy)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_mmr_candidates_ivf_pruned(spark):
    """q160: the shortlist stage is an IVF BroadcastHashJoin on the
    probed cell — no per-query corpus cartesian."""
    from swiftbeaver_spark.llm.similarity import ivf_candidates, md5_centroids

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").selectExpr(
        "vec_id", "CAST(embedding AS array<double>) AS vec"
    )
    q = emb.where("vec_id < 3").selectExpr(
        "vec_id AS query_id", "vec AS query_vec"
    )
    plan = _formatted(
        ivf_candidates(emb, q, md5_centroids(8, 64, tag="ivfpqcent"), nprobe=3)
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_equidepth_histogram_global_window_only_on_blocks(spark):
    """q165: the only unpartitioned window runs over the per-block
    summary, never the distinct-value table — the plan's window over
    full rows must be partitioned by blk."""
    import __spark_entry__ as em

    plan = _formatted(em.q165_equidepth_histogram(spark, "/root/testdata/sf0.001"))
    # two Window nodes total: per-block cumulative (partitioned) and
    # the block-offset prefix (unpartitioned, but over groupBy(blk)
    # output). The unpartitioned one must sit above an aggregate on blk.
    assert plan.count("Window") >= 2, plan
    assert "CartesianProduct" not in plan, plan
    # the block-offset side reaches the join as a broadcast
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_domain_caps_two_stage_windows(spark):
    """q166: the Spark plan runs the salted stage-1 window THEN the
    final per-domain window — two rank windows, no single global
    unsalted pass over the raw corpus."""
    from swiftbeaver_spark.llm.pipeline import domain_cap

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "source", "n_chars"
    )
    plan = _formatted(domain_cap(docs, cap=5))
    assert plan.count("row_number()") >= 2, plan
    # stage-1 partition key includes the salt expression (pmod/conv)
    assert "pmod" in plan, plan


def test_simhash_pairs_no_distinct_aggregate(spark):
    """q26/q27 family: the simhash pair set dedups via the row-local
    minimal-matching-block filter, NOT a pair-set distinct — the plan
    must contain no aggregate (the old distinct's HashAggregate pair
    shuffle is gone; the only remaining exchanges are the signature
    spread and the self-join's broadcast)."""
    from swiftbeaver_spark.llm.dedup import simhash_near_dups

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    plan = _formatted(simhash_near_dups(docs, max_hamming=3))
    assert "HashAggregate" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_semantic_dedup_arrow_single_cell_shuffle(spark):
    """q122 shape (arrow assign + arrow gram): assignment is
    a map-only Python stage (no join against a centroid table), the
    in-cell stage is one hash shuffle on `cell` into applyInPandas, and
    no cartesian/nested-loop node exists anywhere."""
    from swiftbeaver_spark.llm.similarity import md5_centroids, semantic_dedup

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    out = semantic_dedup(emb, md5_centroids(16, 64, tag="semdedup"))
    plan = _formatted(out)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "FlatMapGroupsInPandas" in plan, plan  # the in-cell gram stage
    # the only wide exchanges: the groupBy(cell) hash partitioning and
    # the final vec_id join — no corpus-sized range/rebalance shuffle
    assert "rangepartitioning" not in plan.lower(), plan


def test_split_sum_money_exact_vs_decimal(spark):
    """The r14 split long-cents aggregation (__spark_entry__._split_sum/
    _recombine) must reproduce SUM(CAST(x AS DECIMAL)) byte-for-byte,
    including lo-sums that overflow one _SPLIT_M period (hi/lo carry)
    and values that land exactly on a rounding boundary."""
    import __spark_entry__ as em

    # adversarial doubles: round-half values, near-integer FP noise,
    # many rows so sum(lo) crosses several _SPLIT_M periods
    vals = [0.005, 0.015, 1.005, 999999.99, 123456.78, 0.01, 10.10] * 400
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    dec = df.agg(
        F.sum(F.col("x").cast("decimal(18,2)")).cast("string").alias("s")
    ).collect()[0]["s"]
    hi, lo = em._split_sum(em._units(F.col("x"), 2))
    got = (
        df.agg(hi.alias("h"), lo.alias("l"))
        .select(
            em._recombine(F.col("h"), F.col("l"), 100, "decimal(28,2)")
            .cast("string")
            .alias("s")
        )
        .collect()[0]["s"]
    )
    assert got == dec, (got, dec)


def test_money_queries_sum_longs_not_decimals(spark):
    """q09/q24 aggregate on the long fast path: no decimal SUM buffer
    remains in either plan. A decimal SUM is recognizable by its
    `isEmpty` overflow-tracking buffer attribute; long sums carry a
    single flat buffer. (The DECIMAL cast still appears INSIDE the
    sum's per-row input — that is the semantic anchor — but the
    accumulator itself must be long.)"""
    import __spark_entry__ as em

    for q in (em.q09_run_summary, em.q24_pricing_summary):
        plan = _formatted(q(spark, "/root/testdata/sf0.001"))
        assert "partial_sum" in plan, plan
        assert "isEmpty" not in plan, plan
