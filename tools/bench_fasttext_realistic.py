"""fastText at the REAL-model shape: ~200k vocab / 300 dim / 150
labels (VERDICT r8 task 4).

The `_LABEL_LITERAL_BUDGET` broadcast-join fallback in
token_label_weights was plan-pinned by test but never TIMED at
production shape, and classify_documents' forced weight broadcast was
only ever exercised at toy vocab x 4 labels. This tool:

  1. generates a synthetic 200k-word / 150-label / 300-dim `.vec`
     DISTRIBUTED (printf'd hash-derived components — the text-parse
     path is part of the measured build),
  2. builds token x label weights through token_label_weights and
     ASSERTS the plan took the BroadcastHashJoin fallback (150 x 300
     = 45000 literals >> 4096 budget), never the literal explode /
     BroadcastNestedLoopJoin,
  3. persists the 30M-row weight table to parquet and
     scores the sf0.1 corpus against it twice — broadcast_weights=True
     (the historical forced broadcast) vs False (shuffle join) — so
     the flag's crossover is measured, not asserted,
  4. runs the subword variant once at the same shape (2e5-bucket
     table) with broadcast_weights=False.

Usage: python tools/bench_fasttext_realistic.py
  -> one JSON line {"fasttext_realistic_shape": {...}}
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from swiftbeaver_spark.llm.weights import (
    classify_documents,
    classify_documents_subword,
    parse_fasttext_vec_lines,
    token_label_weights,
)
from swiftbeaver_spark.session import get_spark

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".scale", "fasttext")
VOCAB, DIM, LABELS = 200_000, 300, 150
N_BUCKETS = 200_000  # subword bucket table (fastText production: 2M)


def vec_lines(spark, corpus_vocab, n_words: int, n_labels: int):
    """Distributed synthetic .vec lines: 'word v0 v1 ... v299' with
    xxhash64-derived components in [-1, 1] at 4 dp. The vocabulary is
    the CORPUS vocabulary padded to n_words with synthetic tokens —
    a disjoint all-synthetic vocab would make the scoring join match
    nothing and time an empty aggregate (the first cut of this tool
    did exactly that: runtime filters pruned the whole weight scan
    and 'scoring' took 0.25 s)."""
    comps = (
        f"array_join(transform(sequence(0, {DIM - 1}), j -> "
        "printf('%.4f', (cast(pmod(xxhash64(word, j), 2001) as double)"
        " - 1000.0) / 1000.0)), ' ')"
    )
    # pad by COUNT, not .limit(n): GlobalLimit collapses the plan to
    # one partition and the whole 200k x 150 x 300 dot build then runs
    # in a single task (measured: a 10+ min straggler)
    n_corpus = corpus_vocab.count()
    pad = spark.range(max(n_words - n_corpus, 0), numPartitions=32).selectExpr(
        "printf('tok%06d', id) as word"
    )
    words = corpus_vocab.unionByName(pad)
    labels = spark.range(n_labels).selectExpr(
        "printf('__label__L%03d', id) as word"
    )
    return (
        words.unionByName(labels)
        .selectExpr(f"concat(word, ' ', {comps}) as value"),
        labels.selectExpr(f"concat(word, ' ', {comps}) as value"),
    )


def main() -> None:
    spark = get_spark(app_name="swiftbeaver-fasttext-realistic")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(WORK, exist_ok=True)
    sys.path.insert(0, ROOT)
    import __spark_entry__ as entry

    # warm-up: session/python-pool start-up must not be charged to build
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    docs = entry._t(spark, "/root/testdata/sf0.1", "documents").select(
        "doc_id", "text"
    ).persist()
    docs.count()

    corpus_vocab = entry._fasttext_vocab(docs, ("__label__",))
    all_lines, label_lines = vec_lines(spark, corpus_vocab, VOCAB, LABELS)
    wpath = os.path.join(WORK, "weights_realistic.parquet")

    t0 = time.time()
    vecs = parse_fasttext_vec_lines(all_lines, DIM)
    weights = token_label_weights(
        vecs, labels=parse_fasttext_vec_lines(label_lines, DIM)
    )
    plan = weights._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        weights._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastNestedLoopJoin" not in plan, "label fallback degraded to BNLJ"
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan, "expected the broadcast-join fallback"
    weights.write.mode("overwrite").parquet(wpath)
    build_wall = round(time.time() - t0, 3)
    persisted = spark.read.schema(
        "token string, label string, weight_micro long"
    ).parquet(wpath)
    n_weights = persisted.count()
    print(f"# build: {build_wall}s, {n_weights} weight rows, fallback plan OK",
          file=sys.stderr)

    out = {
        "vocab": VOCAB,
        "dim": DIM,
        "labels": LABELS,
        "weight_rows": n_weights,
        "build_wall_sec": build_wall,
        "fallback_plan": "BroadcastHashJoin",
    }
    # force FULL evaluation with a value hash over every output column:
    # a bare .count() of classify_documents gets optimizer-ELIMINATED
    # (count over the final left join with unique right keys drops the
    # whole scoring subtree — the first cut of this tool "measured"
    # 0.25 s of counting doc ids)
    def drive(df):
        # bit_xor, not sum: ANSI mode long-overflows a 5000-doc
        # xxhash64 sum
        return df.select(
            F.bit_xor(F.xxhash64("doc_id", "label", "score_micro", "n_tokens"))
        ).collect()[0][0]

    for mode in (False, True):
        walls = []
        for _ in range(2):
            t0 = time.time()
            h = drive(classify_documents(docs, persisted, broadcast_weights=mode))
            walls.append(round(time.time() - t0, 3))
        key = "score_broadcast_sec" if mode else "score_shuffle_sec"
        out[key] = walls
        print(f"# score broadcast={mode}: {walls} (hash {h})", file=sys.stderr)

    # subword shape: word table + dense bucket table, shuffle join
    bucket_w = (
        spark.range(N_BUCKETS)
        .selectExpr("cast(id as int) as bucket")
        .crossJoin(spark.range(LABELS).selectExpr("printf('L%03d', id) as label"))
        .selectExpr(
            "bucket",
            "label",
            "cast(pmod(xxhash64(bucket, label), 2001) - 1000 as long) as weight_micro",
        )
    )
    word_w = persisted.persist()
    word_w.count()
    bucket_w = bucket_w.persist()
    bucket_w.count()
    t0 = time.time()
    sub = classify_documents_subword(
        docs, word_w, bucket_w, n_buckets=N_BUCKETS, broadcast_weights=False
    )
    n = sub.select(
        F.bit_xor(F.xxhash64("doc_id", "label", "score_micro", "n_units"))
    ).collect()[0][0]
    out["subword_score_shuffle_sec"] = round(time.time() - t0, 3)
    out["subword_unit_rows"] = n_weights + N_BUCKETS * LABELS
    print(f"# subword shuffle: {out['subword_score_shuffle_sec']}s ({n} docs)",
          file=sys.stderr)
    print(json.dumps({"fasttext_realistic_shape": out}))


if __name__ == "__main__":
    main()
