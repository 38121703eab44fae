"""Heavy-family scale measurement (VERDICT r5 item 6): run the dedup /
ANN / bitext heavy hitters at sf0.1 AND at the 10x sf1-equivalent
dataset (tools/gen_scale10.py), recording wall time and verifying the
PLAN SHAPE is unchanged across the scale-up — no broadcast flips into
cartesians, no new nested-loop joins. This is the cheapest measurable
evidence that the written 100 TB designs hold: a plan whose join
strategy and candidate generation survive 10x unchanged is bounded by
the same asymptotics at 1000x.

Usage: python tools/bench_scale.py  -> one JSON line per query.
"""
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E
from swiftbeaver_spark.session import get_spark
from tools.hostinfo import host_snapshot

SF01 = "/root/testdata/sf0.1"
SF1 = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   ".scale", "sf1")

HEAVY = [
    "q26_minhash_neardup",
    "q27_simhash_neardup",
    "q136_substring_dedup",
    "q122_semantic_dedup",
    "q157_bitext_mining",
    "q160_mmr_rerank",
    "q88_ivfpq_topk",
    "q120_ivfpq_residual",
    # round-6 extension: the scan/relational/events side over 10x FACTS
    # with verbatim dims (the real cluster shape — facts grow, dims
    # don't; gen_scale10 strides o_orderkey/l_orderkey consistently so
    # the join structure replicates)
    "q02_chunked_scan",
    "q24_pricing_summary",
    "q96_star_join",
    "q102_retention_cohorts",
    # round-7 extension (VERDICT r6 items 1+2): the carve engine —
    # q30-q33 synthesize one file per document, so the 10x documents
    # table drives a 10x carve workload through scan -> overlap dedup ->
    # state-machine carve -> hash finalize (the chunk-equi-join access
    # strategy; the positioned-reads A/B is SCALE.md's round-7 record)
    "q30_carve_roundtrip",
    "q31_carve_declared",
    "q32_carve_structured",
    "q33_carve_remaining",
    # ... and the strings/entropy family: q35 is the byte-level span
    # scanner (mapInPandas per-byte state machines — the one family
    # where 10x could still surprise), q04/q05 the entropy/sessionize
    # merge analogs over 10x events
    "q35_string_spans",
    "q04_entropy",
    "q05_sessionize",
    # round-7 late addition: the fastText family (weight build + subword
    # unit expansion + broadcast classify) over 10x documents
    "q171_fasttext_classify",
    "q172_fasttext_subword",
]

FORBIDDEN = ("CartesianProduct", "BroadcastNestedLoopJoin")
STRATS = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")


def plan_profile(df, executed: bool) -> dict:
    """Join-strategy counts from the formatted plan. Two views, both
    recorded: the PLANNED view (before the action — the full logical
    tree, since persist()ed subtrees are not yet cached) drives the
    cross-scale shape comparison; the EXECUTED view (after the action,
    isFinalPlan=true, asserted) exposes AQE runtime re-optimizations —
    broadcast demotion from observed shuffle sizes, skew splits — that
    the planned view cannot show, at the cost of cached subtrees
    collapsing to InMemoryTableScan and hiding their joins. Forbidden
    joins fail the run in EITHER view."""
    txt = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )
    if executed:
        assert "isFinalPlan=false" not in txt, "profiled before execution"
    return {s: len(re.findall(s, txt)) for s in STRATS + FORBIDDEN}


def main() -> None:
    # self-adjudication (VERDICT r11 task 3): every sweep records host
    # load at start/end so ±30-50% hypervisor-spike swings are visible
    # in the artifact instead of re-litigated by hand next round
    print(json.dumps({"host_start": host_snapshot()}))
    spark = get_spark(app_name="swiftbeaver-bench-scale")
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()
    results = {}
    # optional argv prefixes filter which measurements re-run (partial
    # re-measure after a targeted change; merge rows by hand). A filter
    # that matches nothing is a hard error, not a silent full sweep.
    only = tuple(sys.argv[1:])
    heavy = [n for n in HEAVY if not only or n.startswith(only)]
    run_arrow = not only or "q122_arrow_kernel".startswith(only)
    if not heavy and not run_arrow:
        raise SystemExit(f"no measurement matches {only!r}")
    # warm-up (bench.py's discipline): session start-up (executor
    # threads, python worker pool, kernel jar build + first C2 JIT) is
    # ~5s that otherwise lands entirely on the FIRST measured row — in
    # a full sweep that's one distorted row, but a filtered partial
    # re-measure charges it all to the query under study (a round-8
    # q172-only re-measure read 9.9s cold vs 4.7s in-sweep). Each
    # selected query also pre-runs once at sf0.001 to compile its plan.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.range(256, numPartitions=32).mapInPandas(
        lambda it: (pdf for pdf in it), schema="id long"
    ).count()
    from swiftbeaver_spark.jvm import ensure_kernel

    ensure_kernel(spark)
    for name in heavy:
        try:
            qs[name](spark, "/root/testdata/sf0.001").count()
        except Exception as exc:  # pragma: no cover - warmup best-effort
            print(f"# warmup {name} skipped: {exc}", file=sys.stderr)
    for name in heavy:
        fn = qs[name]
        row = {}
        for label, sf_dir in (("sf0.1", SF01), ("sf1", SF1)):
            # ONE dataset is planned, timed via collect(), and
            # re-profiled executed. NOT count(): a count aggregate lets
            # Catalyst ELIMINATE cardinality-preserving joins (measured:
            # q122's whole join tree optimized away under count), so it
            # times a degenerate plan; collect() executes the query's
            # own queryExecution, which also finalizes AQE on the same
            # object for the executed profile. Result sets here are
            # small (pairs/top-k/aggregates), so driver transfer is
            # noise.
            df = fn(spark, sf_dir)
            planned = plan_profile(df, executed=False)
            t0 = time.time()
            n = len(df.collect())
            wall = round(time.time() - t0, 3)
            executed = plan_profile(df, executed=True)
            bad = {k: v for k, v in planned.items() if k in FORBIDDEN and v}
            bad_exec = {k: v for k, v in executed.items() if k in FORBIDDEN and v}
            spark.catalog.clearCache()  # queries persist() internally
            row[label] = {"wall_sec": wall, "rows": n, "plan": planned,
                          "plan_executed": executed,
                          "forbidden": {**bad, **bad_exec}}
            print(f"# {name} @{label}: {wall}s, {n} rows, planned={planned}"
                  f" executed={executed}", file=sys.stderr)
        p0 = {k: row["sf0.1"]["plan"][k] for k in STRATS}
        p1 = {k: row["sf1"]["plan"][k] for k in STRATS}
        if p0 == p1:
            row["plan_shape"] = "stable"
        elif sum(p0.values()) == sum(p1.values()) and p1["BroadcastHashJoin"] <= p0[
            "BroadcastHashJoin"
        ]:
            # broadcast -> shuffle join once the build side outgrows the
            # 10 MB threshold: the SAFE adaptive direction (asymptotics
            # unchanged — equi-join either way, never nested-loop)
            row["plan_shape"] = "safe_flip"
        else:
            row["plan_shape"] = "unstable"
        row["plan_shape_stable"] = row["plan_shape"] != "unstable"
        row["ratio"] = round(
            row["sf1"]["wall_sec"] / max(row["sf0.1"]["wall_sec"], 1e-9), 2
        )
        results[name] = row
        print(json.dumps({name: row}))
    # q122's operator alone (Arrow matmul assignment + in-cell Arrow
    # gram, no planted rows) at the oracle-pinned nlist=16, measured at
    # both scales: pair work is quadratic in cell occupancy. Skipped
    # under an argv filter that doesn't name it (a partial re-measure
    # should run only what it asked for).
    if run_arrow:
        from swiftbeaver_spark.llm.similarity import md5_centroids, semantic_dedup

        cents = md5_centroids(16, 64, tag="semdedup")
        row = {}
        for label, sf_dir in (("sf0.1", SF01), ("sf1", SF1)):
            emb = E._t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
            df = semantic_dedup(emb, cents, threshold=0.95)
            t0 = time.time()
            n = len(df.collect())
            wall = round(time.time() - t0, 3)
            spark.catalog.clearCache()
            row[label] = {"wall_sec": wall, "rows": n}
            print(f"# q122_arrow_kernel @{label}: {wall}s, {n} rows", file=sys.stderr)
        row["ratio"] = round(
            row["sf1"]["wall_sec"] / max(row["sf0.1"]["wall_sec"], 1e-9), 2
        )
        print(json.dumps({"q122_arrow_kernel": row}))

    ok = all(
        not r["sf0.1"]["forbidden"] and not r["sf1"]["forbidden"]
        for r in results.values()
    )
    print(json.dumps({"all_plans_clean": ok,
                      "shape_stable": {k: r["plan_shape_stable"]
                                       for k, r in results.items()}}))
    print(json.dumps({"host_end": host_snapshot()}))


if __name__ == "__main__":
    main()
