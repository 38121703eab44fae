"""asof_join (relational.py) and count-min sketch (sketch.py) tests."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from swiftbeaver_spark.relational import asof_join
from swiftbeaver_spark.sketch import countmin_build, countmin_estimate


def _ts(s: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)


@pytest.fixture(scope="module")
def quotes(spark):
    # (key, ts, px): the "state" side
    rows = [
        ("a", _ts(0), 1.0),
        ("a", _ts(10), 2.0),
        ("a", _ts(20), 3.0),
        ("b", _ts(5), 10.0),
    ]
    return spark.createDataFrame(rows, "k string, ts timestamp, px double")


@pytest.fixture(scope="module")
def trades(spark):
    rows = [
        ("a", _ts(0)),   # exact tie with a quote -> inclusive match
        ("a", _ts(15)),  # between quotes -> ts(10)
        ("a", _ts(99)),  # after all -> ts(20)
        ("b", _ts(4)),   # before first quote -> no match
        ("c", _ts(50)),  # key with no quotes -> no match
    ]
    return spark.createDataFrame(rows, "k string, ts timestamp")


def _collect(df):
    return {
        (r["k"], r["ts"]): (r["ts_right"], r["px_right"])
        for r in df.collect()
    }


def test_asof_backward_semantics(spark, trades, quotes):
    got = _collect(asof_join(trades, quotes, on="k"))
    assert got[("a", _ts(0))] == (_ts(0), 1.0)     # inclusive at equality
    assert got[("a", _ts(15))] == (_ts(10), 2.0)   # latest at-or-before
    assert got[("a", _ts(99))] == (_ts(20), 3.0)
    assert got[("b", _ts(4))] == (None, None)      # nothing before
    assert got[("c", _ts(50))] == (None, None)     # unseen key
    assert asof_join(trades, quotes, on="k").count() == trades.count()


def test_asof_forward_semantics(spark, trades, quotes):
    got = _collect(asof_join(trades, quotes, on="k", direction="forward"))
    assert got[("a", _ts(0))] == (_ts(0), 1.0)     # inclusive at equality
    assert got[("a", _ts(15))] == (_ts(20), 3.0)   # earliest at-or-after
    assert got[("a", _ts(99))] == (None, None)     # nothing after
    assert got[("b", _ts(4))] == (_ts(5), 10.0)


def test_asof_tolerance(spark, trades, quotes):
    got = _collect(
        asof_join(
            trades, quotes, on="k", tolerance=F.expr("INTERVAL 6 SECONDS")
        )
    )
    assert got[("a", _ts(15))] == (_ts(10), 2.0)   # 5s back: within
    assert got[("a", _ts(99))] == (None, None)     # 79s back: out
    assert got[("a", _ts(0))] == (_ts(0), 1.0)     # 0s back: within


def test_asof_takes_right_row_atomically(spark):
    """A newer right row with a NULL carried field must not splice in
    the older row's value for that field."""
    left = spark.createDataFrame([("a", _ts(20))], "k string, ts timestamp")
    right = spark.createDataFrame(
        [("a", _ts(0), 1.0, "old"), ("a", _ts(10), None, "new")],
        "k string, ts timestamp, px double, tag string",
    )
    row = asof_join(left, right, on="k").collect()[0]
    assert row["tag_right"] == "new"
    assert row["px_right"] is None  # NOT 1.0 from the older row


def test_asof_no_row_multiplication_plan(spark, trades, quotes):
    """The plan must be union + window — no join node at all (the
    naive range-join formulation explodes at scale)."""
    plan = asof_join(trades, quotes, on="k")._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "Window" in plan


def test_asof_bucketed_matches_unbucketed(spark, trades, quotes):
    """Hot-key pre-split path (bucket_span) must reproduce the plain
    path exactly — including cross-bucket matches (the fix-up pass) and
    unmatched rows, in both directions and under tolerance."""
    for direction in ("backward", "forward"):
        want = _collect(asof_join(trades, quotes, on="k", direction=direction))
        for span in (1, 7, 1000):  # tiny buckets force cross-bucket fix-ups
            got = _collect(
                asof_join(
                    trades, quotes, on="k", direction=direction, bucket_span=span
                )
            )
            assert got == want, (direction, span)
    want = _collect(
        asof_join(trades, quotes, on="k", tolerance=F.expr("INTERVAL 6 SECONDS"))
    )
    got = _collect(
        asof_join(
            trades,
            quotes,
            on="k",
            tolerance=F.expr("INTERVAL 6 SECONDS"),
            bucket_span=3,
        )
    )
    assert got == want


def test_asof_bucketed_hot_key(spark):
    """One key holding every row: the bucketed path still matches the
    plain path (this is the skew scenario the pre-split exists for),
    and its main window partitions on (key, bucket) — the plan's
    windowspec must include the bucket column."""
    from swiftbeaver_spark.relational import _BUCK

    left = spark.createDataFrame(
        [("hot", _ts(i)) for i in range(0, 400, 2)], "k string, ts timestamp"
    )
    right = spark.createDataFrame(
        [("hot", _ts(i), float(i)) for i in range(0, 400, 7)],
        "k string, ts timestamp, px double",
    )
    out = asof_join(left, right, on="k", bucket_span=30)
    assert _collect(out) == _collect(asof_join(left, right, on="k"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert _BUCK in plan
    # the bucket-granularity fix-up join is allowed; a cartesian/range
    # join (the naive formulation) is not
    assert "NestedLoop" not in plan and "Cartesian" not in plan


# --- count-min sketch --------------------------------------------------------


@pytest.fixture(scope="module")
def value_stream(spark):
    # skewed frequencies: value i appears i+1 times, 0..49
    rows = [(f"v{i:02d}",) for i in range(50) for _ in range(i + 1)]
    return spark.createDataFrame(rows, "v string")


def test_countmin_never_underestimates(spark, value_stream):
    sketch = countmin_build(value_stream, "v", depth=4, prefix_len=3)
    true = value_stream.groupBy("v").agg(F.count("*").alias("true_c"))
    est = countmin_estimate(sketch, true.select("v"), "v", depth=4, prefix_len=3)
    joined = true.join(est, "v").collect()
    assert len(joined) == 50
    for r in joined:
        assert r["cms_est"] >= r["true_c"], r


def test_countmin_exact_when_sparse(spark, value_stream):
    """50 distinct values into 4096 buckets x 4 rows: collisions in
    ALL four rows for the same value are vanishingly unlikely, so the
    min over rows recovers the exact counts."""
    sketch = countmin_build(value_stream, "v", depth=4, prefix_len=3)
    true = value_stream.groupBy("v").agg(F.count("*").alias("true_c"))
    est = countmin_estimate(sketch, true.select("v"), "v", depth=4, prefix_len=3)
    exact = true.join(est, "v").where(F.col("cms_est") == F.col("true_c")).count()
    assert exact == 50


def test_countmin_sketch_size_bounded(spark, value_stream):
    """The sketch's row count is capped by depth * width regardless of
    input size — the mergeable-sketch property."""
    sketch = countmin_build(value_stream, "v", depth=2, prefix_len=1)
    assert sketch.count() <= 2 * 16
    total = sketch.groupBy("j").agg(F.sum("cnt").alias("s")).collect()
    n = value_stream.count()
    assert all(r["s"] == n for r in total)  # every row sees every instance


# --- histogram quantile sketch ----------------------------------------------


def test_histogram_quantiles_accuracy(spark):
    """Estimates land within one bin width of the exact quantiles."""
    from swiftbeaver_spark.sketch import histogram_quantiles

    rows = [("g", float(i)) for i in range(1, 1001)]  # uniform 1..1000
    df = spark.createDataFrame(rows, "g string, v double")
    got = {
        r["quantile"]: r["q_value"]
        for r in histogram_quantiles(df, "v", ["g"], [0.5, 0.95], nbins=100).collect()
    }
    width = (1000.0 - 1.0) / 100
    assert abs(got[0.5] - 500.0) <= width + 1e-9
    assert abs(got[0.95] - 950.0) <= width + 1e-9


def test_histogram_quantiles_degenerate_range(spark):
    from swiftbeaver_spark.sketch import histogram_quantiles

    df = spark.createDataFrame([("g", 7.0)] * 5, "g string, v double")
    got = histogram_quantiles(df, "v", ["g"], [0.5]).collect()
    assert len(got) == 1 and got[0]["q_value"] == 7.0


def test_histogram_quantiles_monotone_per_group(spark):
    from swiftbeaver_spark.sketch import histogram_quantiles

    rows = [("a", float(i % 97)) for i in range(500)] + [
        ("b", 100.0 + i % 13) for i in range(300)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    out = histogram_quantiles(df, "v", ["g"], [0.5, 0.95, 0.99]).collect()
    by_g = {}
    for r in out:
        by_g.setdefault(r["g"], []).append((r["quantile"], r["q_value"]))
    for g, pairs in by_g.items():
        vals = [v for _, v in sorted(pairs)]
        assert vals == sorted(vals), (g, vals)


def test_histogram_quantiles_single_pass_plan(spark):
    """k quantiles cost ONE aggregation over the binned table — the
    plan must not union k per-quantile re-aggregations (VERDICT r2 #3)."""
    from swiftbeaver_spark.sketch import histogram_quantiles

    df = spark.createDataFrame(
        [("g", float(i)) for i in range(100)], "g string, v double"
    )
    out = histogram_quantiles(df, "v", ["g"], [0.1, 0.5, 0.9, 0.99], nbins=50)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan, plan
    # two scans are inherent (global min/max pre-pass + binning); the
    # old per-quantile implementation had k+1 for k quantiles
    assert plan.count("Scan ExistingRDD") <= 2, plan


# --- linear quality scorer ---------------------------------------------------


def test_linear_quality_bounds_and_determinism(spark):
    from swiftbeaver_spark.llm.text import linear_quality_score

    df = spark.createDataFrame(
        [(1, "good text here"), (2, "good text here"), (3, "other words entirely")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in linear_quality_score(df).collect()}
    # same text -> identical score; micro scores normalized to
    # [-1e6, 1e6] (score = score_sum/(1000*n) in [-1, 1], all-integer)
    assert got[1]["quality_score_micro"] == got[2]["quality_score_micro"]
    for r in got.values():
        assert -1_000_000 <= r["quality_score_micro"] <= 1_000_000
        num = 1000 * r["score_sum"]
        trunc = abs(num) // r["n_tokens"] * (1 if num >= 0 else -1)
        assert r["quality_score_micro"] == trunc  # trunc-div, both signs
        assert r["n_tokens"] == 3


def test_linear_quality_empty_text_excluded(spark):
    from swiftbeaver_spark.llm.text import linear_quality_score

    df = spark.createDataFrame([(1, ""), (2, "a b")], "doc_id long, text string")
    got = {r["doc_id"] for r in linear_quality_score(df).collect()}
    assert got == {2}


# --- interval join (batch, bucket-decomposed) --------------------------------


def test_interval_join_matches_naive(spark):
    """Bucket decomposition must produce exactly the naive range-join
    pairs, including rows sitting exactly on window edges."""
    import itertools

    lrows = [("k", _ts(s)) for s in (0, 100, 3600, 7200)]
    rrows = [("k", _ts(s)) for s in range(0, 7300, 50)]
    left = spark.createDataFrame(lrows, "k string, lts timestamp")
    right = spark.createDataFrame(rrows, "k string, rts timestamp")
    from swiftbeaver_spark.relational import interval_join

    got = {
        (r["lts"], r["rts"])
        for r in interval_join(left, right, "k", "lts", "rts", -3600, 0).collect()
    }
    want = {
        (lt, rt)
        for (_, lt), (_, rt) in itertools.product(lrows, rrows)
        if lt - dt.timedelta(seconds=3600) <= rt <= lt
    }
    assert got == want and len(got) > 0


def test_interval_join_left_fanout_bounded(spark):
    """Each left row explodes into at most 2 bucket copies — the plan
    must not contain a nested-loop/cartesian join."""
    from swiftbeaver_spark.relational import interval_join

    left = spark.createDataFrame([("k", _ts(0))], "k string, lts timestamp")
    right = spark.createDataFrame([("k", _ts(1))], "k string, rts timestamp")
    df = interval_join(left, right, "k", "lts", "rts", -60, 60)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan


# --- salted join -------------------------------------------------------------


def test_salted_join_matches_plain_join(spark):
    from swiftbeaver_spark.relational import salted_join

    left = spark.createDataFrame(
        [(i % 3, f"l{i}") for i in range(100)], "k long, lv string"
    )
    right = spark.createDataFrame(
        [(0, "r0"), (1, "r1"), (9, "r9")], "k long, rv string"
    )
    got = salted_join(left, right, on="k").orderBy("lv", "rv").collect()
    want = left.join(right, "k").orderBy("lv", "rv").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # left rows with unmatched keys drop in inner mode; k=2 has no right
    assert all(r["k"] != 2 for r in got)


def test_salted_join_left_outer(spark):
    from swiftbeaver_spark.relational import salted_join

    left = spark.createDataFrame([(1, "a"), (2, "b")], "k long, lv string")
    right = spark.createDataFrame([(1, "r")], "k long, rv string")
    got = {
        (r["k"], r["rv"]) for r in salted_join(left, right, on="k", how="left").collect()
    }
    assert got == {(1, "r"), (2, None)}


def test_salted_join_semi_anti_match_plain(spark):
    from swiftbeaver_spark.relational import salted_join

    left = spark.createDataFrame(
        [(i % 3, f"l{i}") for i in range(30)], "k long, lv string"
    )
    right = spark.createDataFrame([(1, "r1a"), (1, "r1b")], "k long, rv string")
    for how in ("left_semi", "left_anti"):
        got = sorted(
            tuple(r) for r in salted_join(left, right, on="k", how=how).collect()
        )
        want = sorted(tuple(r) for r in left.join(right, "k", how).collect())
        assert got == want, how


def test_salted_join_rejects_outer_modes(spark):
    """Right/full outer would emit each unmatched right row `salt`
    times (one per replicated sub-key) — the operator must refuse."""
    import pytest

    from swiftbeaver_spark.relational import salted_join

    left = spark.createDataFrame([(1, "a")], "k long, lv string")
    right = spark.createDataFrame([(2, "r")], "k long, rv string")
    for how in ("right", "right_outer", "full", "full_outer", "outer", "cross"):
        with pytest.raises(ValueError, match="salted_join does not support"):
            salted_join(left, right, on="k", how=how)


# --- incremental dedup -------------------------------------------------------


def test_incremental_exact_dedup(spark):
    from swiftbeaver_spark.llm.dedup import incremental_exact_dedup

    seen = spark.createDataFrame(
        [("already ingested",)], "text string"
    ).select(F.md5("text").alias("content_hash"))
    new = spark.createDataFrame(
        [
            (10, "already ingested"),   # collides with seen -> dropped
            (11, "fresh one"),
            (12, "fresh one"),          # batch dup -> collapses to 11
            (13, "another"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["n_batch_copies"]
        for r in incremental_exact_dedup(new, seen).collect()
    }
    assert got == {11: 2, 13: 1}


# --- time-bucket rollup ------------------------------------------------------


def test_time_bucket_rollup_ohlc(spark):
    from swiftbeaver_spark.relational import time_bucket_rollup

    rows = [
        ("a", _ts(0), 1, 10.0),
        ("a", _ts(30), 2, 5.0),
        ("a", _ts(59), 3, 20.0),   # same 60s bucket
        ("a", _ts(61), 4, 7.0),    # next bucket
        ("b", _ts(5), 5, 3.0),
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, eid long, v double")
    out = {
        (r["k"], r["bucket"]): r
        for r in time_bucket_rollup(df, "ts", ["k"], "v", ["eid"], 60).collect()
    }
    first = out[("a", min(b for (k, b) in out if k == "a"))]
    assert first["n_rows"] == 3
    assert first["open_value"] == 10.0 and first["close_value"] == 20.0
    assert first["lo"] == 5.0 and first["hi"] == 20.0
    assert first["sum_value"] == 35.0
    assert first["bucket_start"].second in (0,)  # aligned to bucket edge
    assert len(out) == 3


def test_time_bucket_rollup_partial_agg_plan(spark):
    """The rollup must plan map-side partial aggregation — the shape
    that bounds shuffle volume at one row per (key, bucket) per task."""
    from swiftbeaver_spark.relational import time_bucket_rollup

    df = spark.createDataFrame(
        [("a", _ts(i), i, float(i)) for i in range(100)],
        "k string, ts timestamp, eid long, v double",
    )
    plan = (
        time_bucket_rollup(df, "ts", ["k"], "v", ["eid"], 60)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "partial_count" in plan or "partial" in plan.lower(), plan


# --- funnel ------------------------------------------------------------------


def test_funnel_greedy_earliest(spark):
    from swiftbeaver_spark.relational import funnel

    rows = [
        # u1 completes A->B->C
        (1, _ts(0), "A"), (1, _ts(10), "B"), (1, _ts(20), "C"),
        # u2: B before A only -> depth 1
        (2, _ts(0), "B"), (2, _ts(10), "A"),
        # u3: A then C (no B) -> depth 1
        (3, _ts(0), "A"), (3, _ts(5), "C"),
        # u4: never A -> not in output
        (4, _ts(0), "B"),
        # u5: A,B at same ts -> strict > excludes the tie -> depth 1,
        # then a later B counts
        (5, _ts(0), "A"), (5, _ts(0), "B"), (5, _ts(9), "B"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    got = {r["user_id"]: r for r in funnel(df, ["A", "B", "C"]).collect()}
    assert set(got) == {1, 2, 3, 5}
    assert got[1]["funnel_depth"] == 3 and got[1]["step_3_ts"] == _ts(20)
    assert got[2]["funnel_depth"] == 1 and got[2]["step_2_ts"] is None
    assert got[3]["funnel_depth"] == 1
    assert got[5]["funnel_depth"] == 2 and got[5]["step_2_ts"] == _ts(9)


def test_funnel_greedy_beats_naive(spark):
    """Greedy-earliest chaining: u picks the EARLIEST qualifying B even
    though a later B would also chain to C — depth is maximal."""
    from swiftbeaver_spark.relational import funnel

    rows = [(1, _ts(0), "A"), (1, _ts(5), "B"), (1, _ts(50), "B"), (1, _ts(10), "C")]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    r = funnel(df, ["A", "B", "C"]).collect()[0]
    assert r["step_2_ts"] == _ts(5) and r["step_3_ts"] == _ts(10)


# --- SCD2 --------------------------------------------------------------------


def test_scd2_intervals(spark):
    from swiftbeaver_spark.relational import scd2_intervals

    rows = [
        (1, _ts(0), "bronze"),
        (1, _ts(10), "bronze"),   # no-op change -> collapsed
        (1, _ts(20), "silver"),
        (1, _ts(30), "gold"),
        (2, _ts(5), "silver"),
    ]
    df = spark.createDataFrame(rows, "cust long, ts timestamp, tier string")
    out = scd2_intervals(df, ["cust"], "ts", ["tier"]).collect()
    one = sorted([r for r in out if r["cust"] == 1], key=lambda r: r["valid_from"])
    assert [r["tier"] for r in one] == ["bronze", "silver", "gold"]
    assert one[0]["valid_from"] == _ts(0) and one[0]["valid_to"] == _ts(20)
    assert one[1]["valid_to"] == _ts(30)
    assert one[2]["valid_to"] is None and one[2]["is_current"]
    two = [r for r in out if r["cust"] == 2]
    assert len(two) == 1 and two[0]["is_current"]


# --- bloom filter ------------------------------------------------------------


def test_bloom_no_false_negatives_and_bounded(spark):
    from swiftbeaver_spark.sketch import bloom_build, bloom_probe

    members = spark.createDataFrame([(f"m{i}",) for i in range(200)], "v string")
    bloom = bloom_build(members, "v", k=4, prefix_len=4)
    assert bloom.count() <= 4 * 16**4
    probes = spark.createDataFrame(
        [(f"m{i}",) for i in range(200)] + [(f"x{i}",) for i in range(200)], "v string"
    ).distinct()
    got = {r["v"]: r["maybe_member"] for r in bloom_probe(bloom, probes, "v", k=4, prefix_len=4).collect()}
    # Bloom guarantee: every member reports true
    assert all(got[f"m{i}"] for i in range(200))
    # 200 members in 65536-bucket rows: false-positive rate ~ (200/65536)^4 ~ 1e-10
    assert sum(got[f"x{i}"] for i in range(200)) == 0


def test_bloom_probe_duplicate_probe_values(spark):
    """A probe value appearing r times must test identically to its
    distinct form: members stay true (r*k set rows used to fail the
    ==k count), non-members stay false (r * partial hits used to be
    able to sum to exactly k)."""
    from swiftbeaver_spark.sketch import bloom_build, bloom_probe

    members = spark.createDataFrame([(f"m{i}",) for i in range(50)], "v string")
    bloom = bloom_build(members, "v", k=4, prefix_len=4)
    probes = spark.createDataFrame(
        [("m7",)] * 3 + [("nope",)] * 4 + [("m0",)], "v string"
    )
    got = {
        r["v"]: r["maybe_member"]
        for r in bloom_probe(bloom, probes, "v", k=4, prefix_len=4).collect()
    }
    assert got == {"m7": True, "m0": True, "nope": False}


def test_bloom_probe_broadcasts(spark):
    from swiftbeaver_spark.sketch import bloom_build, bloom_probe

    members = spark.createDataFrame([("a",), ("b",)], "v string")
    probes = spark.createDataFrame([("a",), ("z",)], "v string")
    plan = (
        bloom_probe(bloom_build(members, "v"), probes, "v")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


# --- z-order layout ----------------------------------------------------------


def test_zorder_key_values(spark):
    from swiftbeaver_spark.layout import zorder_key

    df = spark.createDataFrame([(3, 1), (0, 0), (2, 2)], "x long, y long")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.select("x", "y", zorder_key([F.col("x"), F.col("y")], bits=4).alias("z")).collect()
    }
    assert got[(0, 0)] == 0
    assert got[(3, 1)] == 0b0111  # x bits at even positions, y at odd
    assert got[(2, 2)] == 0b1100


def test_zorder_key_width_guard():
    import pytest

    from swiftbeaver_spark.layout import zorder_key

    with pytest.raises(ValueError):
        zorder_key([F.lit(1), F.lit(2), F.lit(3), F.lit(4)], bits=16)


# --- skew profile ------------------------------------------------------------


def test_skew_profile_values(spark):
    from swiftbeaver_spark.relational import skew_profile

    rows = [("hot",)] * 70 + [("warm",)] * 20 + [("a",)] * 5 + [("b",)] * 5
    df = spark.createDataFrame(rows, "k string")
    out = {r["rank"]: r for r in skew_profile(df, ["k"], topn=3).collect()}
    assert len(out) == 3
    assert out[1]["k"] == "hot" and out[1]["cnt"] == 70
    assert out[1]["share_milli"] == 700  # (1000*70) div 100
    assert out[2]["k"] == "warm"
    assert out[3]["k"] == "a"  # tie with b -> key asc
    assert all(r["total_rows"] == 100 and r["n_keys"] == 4 for r in out.values())


def test_skew_profile_take_ordered_plan(spark):
    """Top-n must compile to TakeOrdered — no global sort of the key
    count table."""
    from swiftbeaver_spark.relational import skew_profile

    df = spark.createDataFrame([(i % 50,) for i in range(500)], "k long")
    plan = skew_profile(df, ["k"], topn=5)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan


# --- stratified fixed-k sample ----------------------------------------------


def test_stratified_fixed_k(spark):
    from swiftbeaver_spark.llm.pipeline import stratified_fixed_k

    rows = [(i, "en" if i % 3 else "de") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = stratified_fixed_k(df, 10, strata_col="lang")
    by_lang = {r["lang"]: 0 for r in out.collect()}
    for r in out.collect():
        by_lang[r["lang"]] = by_lang.get(r["lang"], 0) + 1
    assert by_lang == {"en": 10, "de": 10}
    # deterministic: same sample on a rerun
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(r["doc_id"] for r in stratified_fixed_k(df, 10, strata_col="lang").collect())
    assert a == b


def test_stratified_fixed_k_small_stratum_kept_whole(spark):
    from swiftbeaver_spark.llm.pipeline import stratified_fixed_k

    df = spark.createDataFrame(
        [(1, "rare"), (2, "rare")] + [(i, "big") for i in range(10, 110)],
        "doc_id long, lang string",
    )
    out = stratified_fixed_k(df, 5, strata_col="lang").collect()
    assert sum(r["lang"] == "rare" for r in out) == 2
    assert sum(r["lang"] == "big" for r in out) == 5


# --- merge upsert ------------------------------------------------------------


def test_merge_upsert_semantics(spark):
    from swiftbeaver_spark.relational import merge_upsert

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k long, name string, bal double",
    )
    source = spark.createDataFrame(
        [(2, None, 99.0), (4, "d", 40.0)],  # update k=2 (null name wins), insert k=4
        "k long, name string, bal double",
    )
    got = {r["k"]: (r["name"], r["bal"]) for r in merge_upsert(target, source, ["k"]).collect()}
    assert got[1] == ("a", 10.0)        # untouched
    assert got[2] == (None, 99.0)       # updated; source NULL overwrites
    assert got[3] == ("c", 30.0)        # untouched
    assert got[4] == ("d", 40.0)        # inserted
    assert len(got) == 4


def test_merge_upsert_restricted_update_cols(spark):
    from swiftbeaver_spark.relational import merge_upsert

    target = spark.createDataFrame([(1, "a", 10.0)], "k long, name string, bal double")
    source = spark.createDataFrame([(1, "ZZZ", 99.0)], "k long, name string, bal double")
    r = merge_upsert(target, source, ["k"], update_cols=["bal"]).collect()[0]
    assert r["name"] == "a" and r["bal"] == 99.0  # name NOT updated


def test_merge_upsert_validate_rejects_bad_source_keys(spark):
    import pytest

    from swiftbeaver_spark.relational import merge_upsert

    target = spark.createDataFrame([(1, 1.0)], "k long, bal double")
    dup = spark.createDataFrame([(1, 2.0), (1, 3.0)], "k long, bal double")
    with pytest.raises(ValueError, match="non-null and unique"):
        merge_upsert(target, dup, ["k"], validate=True)
    nul = spark.createDataFrame([(None, 2.0)], "k long, bal double")
    with pytest.raises(ValueError, match="non-null and unique"):
        merge_upsert(target, nul, ["k"], validate=True)
    # clean source passes with validation on
    ok = spark.createDataFrame([(1, 9.0)], "k long, bal double")
    got = merge_upsert(target, ok, ["k"], validate=True).collect()
    assert got[0]["bal"] == 9.0


def test_merge_upsert_rejects_unknown_update_col(spark):
    import pytest

    from swiftbeaver_spark.relational import merge_upsert

    target = spark.createDataFrame([(1, 1.0)], "k long, bal double")
    source = spark.createDataFrame([(1, 2.0)], "k long, other double")
    with pytest.raises(ValueError, match="update column"):
        merge_upsert(target, source, ["k"], update_cols=["other"])


# --- pagerank ----------------------------------------------------------------


def test_pagerank_star_graph(spark):
    """Hub with all in-edges outranks leaves; ranks a valid
    distribution-ish (simplified variant, no dangling redistribution)."""
    from swiftbeaver_spark.relational import pagerank

    edges = spark.createDataFrame(
        [(i, 0) for i in range(1, 6)], "src long, dst long"
    )
    pr = {r["node"]: r["pr"] for r in pagerank(edges, iterations=3).collect()}
    assert len(pr) == 6
    assert all(pr[0] > pr[i] for i in range(1, 6))
    leaves = {round(pr[i], 12) for i in range(1, 6)}
    assert len(leaves) == 1  # symmetric leaves tie exactly


def test_pagerank_weights_matter(spark):
    from swiftbeaver_spark.relational import pagerank

    edges = spark.createDataFrame(
        [(1, 2, 9.0), (1, 3, 1.0)], "src long, dst long, w double"
    )
    pr = {
        r["node"]: r["pr"]
        for r in pagerank(edges, weight_col="w", iterations=2).collect()
    }
    assert pr[2] > pr[3]


# --- table profiler ----------------------------------------------------------


def test_profile_table(spark):
    from swiftbeaver_spark.relational import profile_table

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (2, None), (3, "a")], "k long, s string"
    )
    out = {r["column"]: r for r in profile_table(df, ["k", "s"]).collect()}
    assert out["k"]["n_nonnull"] == 4 and out["k"]["n_distinct"] == 3
    assert out["k"]["min_value"] == "1" and out["k"]["max_value"] == "3"
    assert out["s"]["n_nonnull"] == 3 and out["s"]["n_distinct"] == 2
    assert out["s"]["min_value"] == "a" and out["s"]["max_value"] == "b"


def test_profile_table_single_scan(spark):
    from swiftbeaver_spark.relational import profile_table

    df = spark.createDataFrame([(i, f"v{i}") for i in range(100)], "k long, s string")
    plan = profile_table(df, ["k", "s"])._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ExistingRDD") == 1, plan


def test_compaction_plan_invariants(spark):
    """Every closed group (all but the last per partition) must reach
    the target once its last file lands; group ids are contiguous from
    0; files stay in path order within groups."""
    from swiftbeaver_spark.layout import compaction_plan, compaction_summary

    files = spark.createDataFrame(
        [(i % 3, f"f-{i:04d}", 700 + (i * 137) % 900) for i in range(60)],
        "part_key INT, path STRING, size_bytes LONG",
    )
    plan = compaction_plan(files, target_bytes=2000, partition_col="part_key")
    rows = compaction_summary(plan, partition_col="part_key").collect()
    by_part = {}
    for r in rows:
        by_part.setdefault(r.part_key, []).append(r)
    assert set(by_part) == {0, 1, 2}
    for part, groups in by_part.items():
        groups.sort(key=lambda r: r.compaction_group)
        assert [g.compaction_group for g in groups] == list(range(len(groups)))
        # floor-binning covers cumsum range [g*T, (g+1)*T): a group can
        # fall short of T only by less than the largest file (1599 here)
        for g in groups[:-1]:
            assert g.group_bytes + 1599 >= 2000
        # path ordering respected inside each group
        for g in groups:
            assert g.first_path <= g.last_path
    # total bytes conserved
    assert sum(r.group_bytes for r in rows) == sum(
        700 + (i * 137) % 900 for i in range(60)
    )


def test_hll_accuracy_and_mergeability(spark):
    """Estimate within ~3 standard errors (1.04/sqrt(m)) of truth, and
    registers of two halves merged by MAX equal the whole-corpus
    registers — the mergeable-sketch property."""
    from pyspark.sql import functions as F

    from swiftbeaver_spark.sketch import hll_estimate, hll_registers

    n = 20_000
    df = spark.range(n).select((F.col("id") % 7919).alias("v"))  # 7919 distinct
    p = 9
    est = hll_estimate(hll_registers(df, "v", p=p), p=p).collect()[0]
    se = 1.04 / (1 << p) ** 0.5
    assert abs(est.estimate - 7919) / 7919 < 3 * se

    left = hll_registers(df.where(F.col("id") < n // 2), "v", p=p)
    right = hll_registers(df.where(F.col("id") >= n // 2), "v", p=p)
    merged = (
        left.unionByName(right)
        .groupBy("bucket")
        .agg(F.max("max_rho").alias("max_rho"))
    )
    whole = {(r.bucket, r.max_rho) for r in hll_registers(df, "v", p=p).collect()}
    assert {(r.bucket, r.max_rho) for r in merged.collect()} == whole


def test_snapshot_diff_null_semantics(spark):
    """NULL vs '' vs the literal string 'NULL' must all be distinct
    cell states; unchanged rows (including all-NULL ones) emit
    nothing."""
    from swiftbeaver_spark.relational import snapshot_diff

    old = spark.createDataFrame(
        [(1, None), (2, ""), (3, "NULL"), (4, "same"), (5, "gone")],
        "k INT, v STRING",
    )
    new = spark.createDataFrame(
        [(1, ""), (2, "NULL"), (3, None), (4, "same"), (6, "fresh")],
        "k INT, v STRING",
    )
    got = {(r.k, r.change_type) for r in snapshot_diff(old, new, ["k"]).collect()}
    assert got == {
        (1, "updated"),
        (2, "updated"),
        (3, "updated"),
        (5, "deleted"),
        (6, "inserted"),
    }


def test_hilbert_key_matches_reference_exhaustive(spark):
    from swiftbeaver_spark.layout import with_hilbert_key

    from tests.oracles.layout import hilbert_xy2d

    bits, n = 4, 16
    grid = spark.createDataFrame(
        [(x, y) for x in range(n) for y in range(n)], ["x", "y"]
    )
    keyed = with_hilbert_key(grid, F.col("x"), F.col("y"), bits=bits)
    got = {(r.x, r.y): r.h for r in keyed.collect()}
    for x in range(n):
        for y in range(n):
            assert got[(x, y)] == hilbert_xy2d(n, x, y)
    # bijection onto [0, n^2)
    assert sorted(got.values()) == list(range(n * n))


def test_hilbert_unit_step_locality():
    """The property Z-order lacks: consecutive curve positions are
    ALWAYS grid neighbours (Manhattan distance 1)."""
    from tests.oracles.layout import hilbert_xy2d

    n = 16
    by_d = {}
    for x in range(n):
        for y in range(n):
            by_d[hilbert_xy2d(n, x, y)] = (x, y)
    for d in range(n * n - 1):
        (x1, y1), (x2, y2) = by_d[d], by_d[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1


def test_kmv_set_ops_estimates_known_overlap(spark):
    from swiftbeaver_spark.sketch import kmv_pairwise_set_ops

    # A = 0..3999, B = 2000..5999 -> inter 2000, union 6000, J = 1/3
    rows = [("A", v) for v in range(4000)] + [("B", v) for v in range(2000, 6000)]
    df = spark.createDataFrame(rows, ["grp", "val"])
    out = kmv_pairwise_set_ops(df, "grp", "val", k=256).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.group_a, r.group_b) == ("A", "B")
    # k=256 -> ~1/sqrt(k) ~ 6% relative error; allow 3 sigma
    assert abs(r.est_union - 6000) / 6000 < 0.2
    assert abs(r.est_inter - 2000) / 2000 < 0.3
    assert abs(r.jaccard_milli - 333) < 100


def test_kmv_set_ops_exact_when_small(spark):
    from swiftbeaver_spark.sketch import kmv_pairwise_set_ops

    # both groups fewer than k distinct -> theta = space, estimates exact
    rows = [("A", v) for v in range(30)] + [("B", v) for v in range(20, 50)]
    df = spark.createDataFrame(rows, ["grp", "val"])
    r = kmv_pairwise_set_ops(df, "grp", "val", k=64).collect()[0]
    assert r.est_inter == 10 and r.est_union == 50
    assert r.jaccard_milli == 200  # floor(1000*10/50)


def test_grouped_weighted_median_exact(spark):
    from swiftbeaver_spark.relational import grouped_weighted_median

    # group g: values 1(w3), 2(w1), 3(w1): total 5, half-point inside
    # value 1's mass (cum 3, 2*3 >= 5) -> weighted median 1
    # group h: values 10(w1), 20(w1): 2*1 >= 2 at the first row -> 10
    df = spark.createDataFrame(
        [("g", 1, 3, 1), ("g", 2, 1, 2), ("g", 3, 1, 3),
         ("h", 10, 1, 1), ("h", 20, 1, 2)],
        ["grp", "val", "wt", "tb"],
    )
    rows = {
        r.grp: r
        for r in grouped_weighted_median(df, "grp", "val", "wt", ["tb"]).collect()
    }
    assert rows["g"].weighted_median == 1 and rows["g"].total_weight == 5
    assert rows["h"].weighted_median == 10
    # contrast: the UNWEIGHTED median of g's values would be 2


def test_grouped_weighted_median_block_prefix_matches_single_window(spark):
    """The two-level block prefix sum (block_width set) must return
    rows identical to the single-window path for every block width —
    including widths that split ties' blocks awkwardly, a width larger
    than the whole value range (one block = degenerate single window),
    negative values (floor-division blocks), and heavy skew onto one
    value."""
    import random

    from swiftbeaver_spark.relational import grouped_weighted_median

    rng = random.Random(14)
    rows = []
    for grp in ("a", "b", "c"):
        for i in range(200):
            # skew: half the rows of group a share value 7
            val = 7 if (grp == "a" and i % 2 == 0) else rng.randint(-50, 50)
            rows.append((grp, val, rng.randint(0, 5), i))
    df = spark.createDataFrame(rows, ["grp", "val", "wt", "tb"])
    base = sorted(
        map(tuple, grouped_weighted_median(df, "grp", "val", "wt", ["tb"]).collect())
    )
    for width in (1, 3, 10, 1000):
        got = sorted(
            map(
                tuple,
                grouped_weighted_median(
                    df, "grp", "val", "wt", ["tb"], block_width=width
                ).collect(),
            )
        )
        assert got == base, (width, got, base)


def test_from_json_malformed_yields_null_not_failure(spark):
    """The q133 JSON path must tolerate damaged sidecar metadata: Spark
    from_json returns NULL for unparseable rows (PERMISSIVE), it never
    fails the task."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    df = spark.createDataFrame(
        [('{"k": 7}',), ("{broken",), (None,), ('{"k": "notint"}',)], ["props"]
    )
    schema = StructType([StructField("k", IntegerType())])
    rows = df.select(F.from_json("props", schema)["k"].alias("k")).collect()
    assert [r.k for r in rows] == [7, None, None, None]


def test_bfs_distances_chain_and_unreachable(spark):
    from swiftbeaver_spark.relational import bfs_distances

    # 1 -> 2 -> 3 -> 4 -> 5, island 9 -> 10; seed = 1
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (9, 10)], ["src", "dst"]
    )
    seeds = spark.createDataFrame([(1,)], ["node"])
    got = {r.node: r.dist for r in bfs_distances(edges, seeds, max_dist=3).collect()}
    # cut off at max_dist: 5 (dist 4) and the island never appear
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}


def test_bfs_distances_min_over_multiple_paths(spark):
    from swiftbeaver_spark.relational import bfs_distances

    # two paths to 4: 1->2->3->4 (3 hops) and 1->4 (1 hop) -> min wins
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 4)], ["src", "dst"]
    )
    seeds = spark.createDataFrame([(1,)], ["node"])
    got = {r.node: r.dist for r in bfs_distances(edges, seeds, max_dist=4).collect()}
    assert got[4] == 1 and got[3] == 2


def test_bfs_distances_cycle_and_early_exit(spark):
    """r15 union+min rewrite: re-reaching settled nodes through a cycle
    must keep the earlier level (the retired anti-join's job), and the
    traversal must stop early when a level settles nothing new even
    with max_dist slack left."""
    from swiftbeaver_spark.relational import bfs_distances

    # 1 -> 2 -> 3 -> 1 cycle plus a spur 3 -> 4; seed = 1; max_dist has
    # slack (10) so the result only terminates via the empty frontier
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], ["src", "dst"]
    )
    seeds = spark.createDataFrame([(1,)], ["node"])
    got = {
        r.node: r.dist for r in bfs_distances(edges, seeds, max_dist=10).collect()
    }
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}


def test_pagerank_matches_unrolled_reference(spark):
    """r15 union-zeros rewrite: the one-exchange-per-round shape must
    reproduce the textbook per-node iteration (computed in Python) on
    a graph with dangling nodes, a hub, and weighted multi-edges —
    to float tolerance far tighter than the q80 oracle's 6dp canon."""
    from swiftbeaver_spark.relational import pagerank

    raw = [
        (1, 2, 3.0),
        (1, 3, 1.0),
        (2, 3, 1.0),
        (3, 1, 2.0),
        (4, 1, 1.0),
        (4, 5, 1.0),
        # node 5 is dangling (no out-edges); node 4 has no in-edges
    ]
    edges = spark.createDataFrame(raw, "src long, dst long, w double")
    got = {
        r["node"]: r["pr"]
        for r in pagerank(edges, weight_col="w", iterations=4).collect()
    }

    nodes = sorted({s for s, _, _ in raw} | {d for _, d, _ in raw})
    outw = {}
    for s, _, w in raw:
        outw[s] = outw.get(s, 0.0) + w
    d, n = 0.85, float(len(nodes))
    pr = {v: 1.0 / n for v in nodes}
    for _ in range(4):
        contrib = {v: 0.0 for v in nodes}
        for s, t, w in raw:
            contrib[t] += pr[s] * (w / outw[s])
        pr = {v: (1.0 - d) / n + d * contrib[v] for v in nodes}
    assert set(got) == set(pr)
    for v in nodes:
        assert abs(got[v] - pr[v]) < 1e-12, (v, got[v], pr[v])
