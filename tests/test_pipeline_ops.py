"""Training-data pipeline operator tests (llm/pipeline.py): packing,
sampling, scrubbing, vocabulary, decontamination."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from swiftbeaver_spark.llm.pipeline import (
    decontaminate,
    hash_sample,
    line_dedup,
    pack_sequences,
    pii_scrub,
    repetition_metrics,
    token_count,
    vocab_topk,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def documents(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


# --- pack_sequences ----------------------------------------------------------


def test_pack_conservation_and_fullness(spark, documents):
    """Every token lands in exactly one sequence: per-doc piece sums
    equal the doc's token count, and every sequence except the last is
    exactly full."""
    L = 128
    packed = pack_sequences(documents, seq_len=L, block=64).cache()
    per_doc = packed.groupBy("doc_id").agg(F.sum("piece_tokens").alias("got"))
    toks = documents.select(
        F.col("doc_id"), token_count(F.col("text")).alias("want")
    ).where(F.col("want") > 0)
    bad = per_doc.join(toks, "doc_id").where(F.col("got") != F.col("want")).count()
    assert bad == 0

    per_seq = (
        packed.groupBy("seq_id").agg(F.sum("piece_tokens").alias("n")).collect()
    )
    last = max(r["seq_id"] for r in per_seq)
    for r in per_seq:
        if r["seq_id"] != last:
            assert r["n"] == L, (r["seq_id"], r["n"])
        else:
            assert 1 <= r["n"] <= L
    packed.unpersist()


def test_pack_block_size_invariance(spark, documents):
    """The two-level prefix sum is an implementation detail: any block
    size yields the identical packing."""
    a = pack_sequences(documents, seq_len=256, block=16)
    b = pack_sequences(documents, seq_len=256, block=100_000)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_pack_no_global_window_over_docs(spark, documents):
    """The corpus-sized window must be partitioned (by blk); only the
    tiny block-offset window may be global."""
    plan = (
        pack_sequences(documents, seq_len=256, block=64)
        ._jdf.queryExecution()
        .toString()
    )
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    global_specs = [s for s in specs if "blk" not in s.split(",")[0]]
    blk_parted = [s for s in specs if s.strip().startswith("blk")]
    assert len(blk_parted) >= 1, plan
    # the only unpartitioned window is the block-offset cumsum
    assert len(global_specs) <= 1, plan


def test_pack_empty_docs_emit_nothing(spark):
    df = spark.createDataFrame(
        [(0, "one two three"), (1, ""), (2, None), (3, "  "), (4, "x")],
        "doc_id long, text string",
    )
    rows = pack_sequences(df, seq_len=2, block=10).orderBy("doc_id", "seq_id").collect()
    assert [(r["doc_id"], r["seq_id"], r["piece_tokens"]) for r in rows] == [
        (0, 0, 2),
        (0, 1, 1),
        (4, 1, 1),
    ]


# --- hash_sample -------------------------------------------------------------


def test_hash_sample_deterministic_subset(spark, documents):
    s1 = hash_sample(documents, rates={"en": 128}, default_rate=64)
    s2 = hash_sample(documents, rates={"en": 128}, default_rate=64)
    assert s1.exceptAll(s2).count() == 0 and s2.exceptAll(s1).count() == 0
    # lowering a rate can only shrink the stratum's sample (prefix property)
    narrow = hash_sample(documents, rates={"en": 32}, default_rate=64)
    wide_en = {r["doc_id"] for r in s1.where("lang='en'").select("doc_id").collect()}
    narrow_en = {r["doc_id"] for r in narrow.where("lang='en'").select("doc_id").collect()}
    assert narrow_en <= wide_en


def test_hash_sample_boundary_rates(spark, documents):
    """rate=256 must keep EVERY row (the naive f'{256:02x}' == '100'
    threshold silently kept ~7%); rate<=0 must keep none."""
    n = documents.count()
    assert hash_sample(documents, rates={}, default_rate=256).count() == n
    assert hash_sample(documents, rates={}, default_rate=0).count() == 0
    assert hash_sample(documents, rates={}, default_rate=-5).count() == 0
    en = documents.where("lang='en'").count()
    got = hash_sample(documents, rates={"en": 256}, default_rate=0)
    assert got.count() == en and got.where("lang != 'en'").count() == 0


def test_token_count_null_is_zero(spark):
    df = spark.createDataFrame(
        [(0, None), (1, ""), (2, "a b")], "id long, text string"
    )
    got = {
        r["id"]: r["n"]
        for r in df.select("id", token_count(F.col("text")).alias("n")).collect()
    }
    assert got == {0: 0, 1: 0, 2: 2}


def test_hash_sample_rate_in_ballpark(spark, documents):
    n = documents.count()
    got = hash_sample(documents, rates={}, default_rate=128).count()
    assert 0.35 * n < got < 0.65 * n, (got, n)


# --- pii_scrub ---------------------------------------------------------------


def test_pii_scrub_counts_and_text(spark):
    df = spark.createDataFrame(
        [
            (0, "mail a.b-c%d@host.org or 12-345-678-9012 now"),
            (1, "no pii here"),
            (2, "x@y.io and z@w.co plus 99-000-111-2222 and 11-222-333-4444"),
            (3, "almost 1-234-567-8901 not a phone: 123-45"),
        ],
        "id long, text string",
    )
    rows = {r["id"]: r for r in pii_scrub(df).collect()}
    assert rows[0]["scrubbed"] == "mail <EMAIL> or <PHONE> now"
    assert (rows[0]["n_emails"], rows[0]["n_phones"]) == (1, 1)
    assert (rows[1]["n_emails"], rows[1]["n_phones"]) == (0, 0)
    assert rows[2]["scrubbed"] == "<EMAIL> and <EMAIL> plus <PHONE> and <PHONE>"
    # 1-234-... has only 1 leading digit; 34-567-8901 can't complete the shape
    assert rows[3]["n_phones"] == 0


def test_pii_regex_parity_spark_vs_duckdb_fuzz(spark):
    """The q40 gate hangs on Spark's Java regex and DuckDB's RE2
    producing identical matches. Fuzz the parity on adversarial
    near-miss strings (emails inside words, phones with wrong group
    widths, doubled @, trailing dots)."""
    import random

    import duckdb

    from swiftbeaver_spark.llm.pipeline import EMAIL_RE, PHONE_RE

    rng = random.Random(7)
    frags = [
        "a@b.co", "x.y@z.org", "no-at-here", "a@@b.com", "@b.com", "a@b",
        "a@b.c", "1@2.33", "user+tag@host.io", "a@-b.com", "a@b-.com",
        "12-345-678-9012", "1-345-678-9012", "123-45-678-9012",
        "12-345-678-901", "12-345-678-90123", "99-999-999-9999",
        "tel:12-345-678-9012.", "(12-345-678-9012)", "a.b@c.d.e.fg",
        "dot.@host.com", ".dot@host.com", "%x@y.zz", "end.", " ",
    ]
    texts = [
        " ".join(rng.choice(frags) for _ in range(rng.randint(1, 8)))
        for _ in range(200)
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, text string")
    got = {
        r["id"]: (r["scrubbed"], r["n_emails"], r["n_phones"])
        for r in pii_scrub(df).collect()
    }
    con = duckdb.connect()
    for i, t in enumerate(texts):
        want = con.execute(
            """
            SELECT regexp_replace(regexp_replace(?, ?, '<EMAIL>', 'g'), ?, '<PHONE>', 'g'),
                   len(regexp_extract_all(?, ?)),
                   len(regexp_extract_all(regexp_replace(?, ?, '<EMAIL>', 'g'), ?))
            """,
            [t, EMAIL_RE, PHONE_RE, t, EMAIL_RE, t, EMAIL_RE, PHONE_RE],
        ).fetchone()
        assert got[i] == (want[0], want[1], want[2]), (i, t, got[i], want)


# --- vocab_topk --------------------------------------------------------------


def test_vocab_topk_order_and_ties(spark):
    df = spark.createDataFrame(
        [(0, "b b b a a c"), (1, "a c d")], "doc_id long, text string"
    )
    got = [(r["token"], r["freq"]) for r in vocab_topk(df, k=3).collect()]
    assert got == [("a", 3), ("b", 3), ("c", 2)]


def test_vocab_topk_empty_tokens_dropped(spark):
    df = spark.createDataFrame([(0, "  x   y  "), (1, "")], "doc_id long, text string")
    got = dict(
        (r["token"], r["freq"]) for r in vocab_topk(df, k=10).collect()
    )
    assert got == {"x": 1, "y": 1}


# --- line_dedup --------------------------------------------------------------


def test_line_dedup_first_occurrence_wins(spark):
    df = spark.createDataFrame(
        [
            (0, "alpha\nshared\nbeta"),
            (1, "shared\ngamma"),
            (2, "shared"),  # every line claimed earlier -> page drops
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in line_dedup(df).collect()}
    assert set(rows) == {0, 1}
    assert rows[0]["deduped_text"] == "alpha\nshared\nbeta"
    assert rows[0]["n_kept_lines"] == 3
    assert rows[1]["deduped_text"] == "gamma"
    assert rows[1]["n_kept_lines"] == 1


def test_line_dedup_within_doc_repeats(spark):
    df = spark.createDataFrame(
        [(0, "x\ny\nx\nz")], "doc_id long, text string"
    )
    r = line_dedup(df).collect()[0]
    # the second 'x' inside the SAME doc is also a repeat
    assert r["deduped_text"] == "x\ny\nz"


def test_line_dedup_preserves_order(spark):
    df = spark.createDataFrame(
        [(5, "c\nb\na"), (6, "q\nb\np")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r["deduped_text"] for r in line_dedup(df).collect()}
    assert rows[5] == "c\nb\na"
    assert rows[6] == "q\np"


# --- repetition_metrics ------------------------------------------------------


def test_line_dedup_hot_line_in_every_doc(spark):
    """Skew case: one boilerplate line planted in EVERY document must
    survive only in the lowest (doc_id, pos) and every other doc keeps
    its unique lines — and the plan must contain no Window over the
    line key (the first-occurrence pick is a partial aggregate, so the
    hot line combines map-side instead of funneling one partition)."""
    from swiftbeaver_spark.llm.pipeline import line_dedup

    boiler = "subscribe to our newsletter"
    docs = spark.createDataFrame(
        [(i, f"unique line {i}\n{boiler}") for i in range(500)],
        "doc_id long, text string",
    )
    out = line_dedup(docs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    got = {r["doc_id"]: (r["deduped_text"], r["n_kept_lines"]) for r in out.collect()}
    assert got[0] == (f"unique line 0\n{boiler}", 2)
    for i in range(1, 500):
        assert got[i] == (f"unique line {i}", 1)


def test_repetition_metrics_values(spark):
    df = spark.createDataFrame(
        [
            (0, "a a a b"),      # top token 3/4; bigrams: aa,aa,ab -> 1 dup of 3
            (1, "u v w x"),      # no repetition
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in repetition_metrics(df).collect()}
    assert rows[0]["n_tokens"] == 4
    assert rows[0]["top_token_frac"] == 0.75
    assert abs(rows[0]["dup_bigram_frac"] - round(1 / 3, 6)) < 1e-9
    assert rows[1]["top_token_frac"] == 0.25
    assert rows[1]["dup_bigram_frac"] == 0.0


def test_repetition_metrics_single_token(spark):
    df = spark.createDataFrame([(0, "solo")], "doc_id long, text string")
    r = repetition_metrics(df).collect()[0]
    assert (r["n_tokens"], r["top_token_frac"], r["dup_bigram_frac"]) == (1, 1.0, 0.0)


# --- session_window / KMV semantics (q45/q46 assumptions) --------------------


def test_session_window_gap_boundary_starts_new_session(spark):
    """q45's oracle uses diff > gap for the new-session rule (same as
    q05): Spark's session_window MERGES events separated by exactly
    the gap duration. Pin that semantic so a Spark behavior change
    breaks loudly here, not in the driver gate."""
    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:30:00")],
        "user_id long, ts string",
    ).select("user_id", F.col("ts").cast("timestamp").alias("ts"))
    merged = (
        df.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .count()
        .count()
    )
    assert merged == 1  # exactly-30min gap merges
    df2 = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:30:00.000001")],
        "user_id long, ts string",
    ).select("user_id", F.col("ts").cast("timestamp").alias("ts"))
    split = (
        df2.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .count()
        .count()
    )
    assert split == 2  # one microsecond past the gap starts a new session


def test_kmv_estimate_within_error_bound(spark):
    """KMV with k=64 estimates distinct counts within ~1/sqrt(k-2)
    relative error (with margin) on the events table."""
    import __spark_entry__ as E

    got = {
        r["event_type"]: r["est_distinct"]
        for r in E.q46_kmv_sketch(spark, "/root/testdata/sf0.001").collect()
    }
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    exact = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for et, est in got.items():
        rel = abs(est - exact[et]) / max(exact[et], 1)
        assert rel < 0.5, (et, est, exact[et])


# --- decontaminate -----------------------------------------------------------


def test_decontaminate_planted_overlap(spark):
    bench = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta eta theta iota")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            # shares the full 8-gram window twice (9 tokens -> 2 grams, 1 shared)
            (100, "alpha beta gamma delta epsilon zeta eta theta KAPPA"),
            (101, "totally unrelated text with no overlap at all here"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in decontaminate(train, bench, ngram_n=8).collect()}
    assert set(rows) == {100}
    assert rows[100]["n_shared_ngrams"] == 1
    assert rows[100]["n_bench_docs"] == 1


def test_decontaminate_broadcasts_bench(spark, documents):
    plan = decontaminate(
        documents.where("doc_id >= 20"), documents.where("doc_id < 20")
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan


def test_contamination_scores_matches_two_pass_reference(spark, documents):
    """The r15 single-exchange shape (broadcast flag -> per-doc partial
    counters, no gram-scale shuffle) must emit the exact frame of the
    retired r13 two-pass formulation (semi-join + two count_distinct
    aggregations + join), inlined here as the reference — on real text
    and on the edge cases: a doc with zero hits, a fully contaminated
    doc, duplicate grams inside one doc (the distinct semantics), and
    the short-doc sentinel gram."""
    from pyspark.sql import functions as F

    from swiftbeaver_spark.llm.dedup import word_ngrams
    from swiftbeaver_spark.llm.pipeline import contamination_scores

    def two_pass_reference(tr, be, n):
        egrams = be.select(
            F.explode(word_ngrams(F.col("text"), n)).alias("ng")
        ).distinct()
        tgrams = tr.select(
            "doc_id", F.explode(word_ngrams(F.col("text"), n)).alias("ng")
        )
        hits = (
            tgrams.join(F.broadcast(egrams), "ng", "left_semi")
            .groupBy("doc_id")
            .agg(F.count_distinct("ng").cast("long").alias("n_contaminated"))
        )
        totals = tgrams.groupBy("doc_id").agg(
            F.count_distinct("ng").cast("long").alias("n_ngrams")
        )
        per_doc = totals.join(hits, "doc_id", "left").select(
            "doc_id",
            "n_ngrams",
            F.coalesce("n_contaminated", F.lit(0))
            .cast("long")
            .alias("n_contaminated"),
        )
        return per_doc.withColumn(
            "contamination_bp",
            F.floor(
                10000
                * F.col("n_contaminated")
                / F.greatest(F.col("n_ngrams"), F.lit(1))
            ).cast("long"),
        )

    bench = documents.where("doc_id < 20")
    train = documents.where("doc_id >= 20 AND doc_id < 300")
    for tr, be, n in [
        (train, bench, 8),
        (
            spark.createDataFrame(
                [
                    (1, "a b c d e f g h i"),  # grams overlap bench fully
                    (2, "x y z w v u t s r"),  # zero hits
                    (3, "a b c d e f g h a b c d e f g h"),  # dup grams
                    (4, "too short"),  # sentinel gram path
                    (5, ""),  # empty text
                ],
                "doc_id long, text string",
            ),
            spark.createDataFrame(
                [(0, "a b c d e f g h")], "doc_id long, text string"
            ),
            8,
        ),
    ]:
        ref = two_pass_reference(tr, be, n).orderBy("doc_id")
        got = contamination_scores(tr, be, ngram_n=n).orderBy("doc_id")
        assert ref.columns == got.columns
        assert ref.collect() == got.collect()


# --- weighted_sample ---------------------------------------------------------


def test_weighted_sample_deterministic_and_sized(spark, documents):
    from swiftbeaver_spark.llm.pipeline import weighted_sample

    a = sorted(r["doc_id"] for r in weighted_sample(documents, k=40).collect())
    b = sorted(r["doc_id"] for r in weighted_sample(documents, k=40).collect())
    assert a == b and len(a) == 40
    # repartitioning must not change membership (pure function of id)
    c = sorted(
        r["doc_id"]
        for r in weighted_sample(documents.repartition(7), k=40).collect()
    )
    assert a == c


def test_weighted_sample_prefers_heavy_rows(spark):
    """With weights 1000:1, the k-of-2k sample should be dominated by
    heavy rows (A-ES inclusion probability scales with weight)."""
    from swiftbeaver_spark.llm.pipeline import weighted_sample

    rows = [(i, 1000 if i < 100 else 1) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, n_chars long")
    got = weighted_sample(df, k=100).collect()
    heavy = sum(1 for r in got if r["n_chars"] == 1000)
    assert heavy >= 90


# --- crossdoc_dup_ngrams -----------------------------------------------------


def test_crossdoc_dup_exact_copies(spark):
    from swiftbeaver_spark.llm.pipeline import crossdoc_dup_ngrams

    text = "one two three four five six seven eight"
    df = spark.createDataFrame(
        [(1, text), (2, text), (3, "totally different words here now ok fine")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in crossdoc_dup_ngrams(df, ngram_n=5).collect()}
    # doc 1 owns every gram's first occurrence; doc 2 is 100% dup
    assert got[1]["dup_frac"] == 0.0
    assert got[2]["dup_frac"] == 1.0
    assert got[3]["dup_frac"] == 0.0
    assert got[1]["n_ngrams"] == 8 - 5 + 1


def test_crossdoc_dup_within_doc_repeat(spark):
    """A gram repeated INSIDE one doc counts its later instances as
    duplicated too."""
    from swiftbeaver_spark.llm.pipeline import crossdoc_dup_ngrams

    text = "a b c d e a b c d e"  # "a b c d e" occurs at pos 0 and 5
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    r = crossdoc_dup_ngrams(df, ngram_n=5).collect()[0]
    assert r["n_ngrams"] == 6
    assert r["n_dup"] == 1  # the pos-5 repeat of "a b c d e"


def test_crossdoc_dup_short_docs_excluded(spark):
    from swiftbeaver_spark.llm.pipeline import crossdoc_dup_ngrams

    df = spark.createDataFrame(
        [(1, "only four tokens here"), (2, ""), (3, "a b c d e")],
        "doc_id long, text string",
    )
    got = {r["doc_id"] for r in crossdoc_dup_ngrams(df, ngram_n=5).collect()}
    assert got == {3}


def test_pack_tar_parses_with_stdlib_tarfile():
    """The hand-built USTAR bytes must be a valid archive to an
    independent parser: names, sizes, payloads, and fixed metadata all
    survive; output is byte-deterministic."""
    import io
    import tarfile

    from swiftbeaver_spark.llm.webdataset import pack_tar

    members = [
        ("00000001.txt", b"hello world"),
        ("00000001.json", b'{"doc_id":1}'),
        ("00000002.txt", b"x" * 513),  # crosses a 512 block boundary
        ("empty.bin", b""),
    ]
    blob = pack_tar(members)
    assert blob == pack_tar(members)  # deterministic
    assert len(blob) % 512 == 0
    with tarfile.open(fileobj=io.BytesIO(blob)) as tf:
        got = []
        for m in tf:
            assert m.isfile() and m.mtime == 0 and m.uid == 0 and m.mode == 0o644
            got.append((m.name, tf.extractfile(m).read()))
    assert got == members


def test_pack_tar_rejects_long_names():
    import pytest

    from swiftbeaver_spark.llm.webdataset import pack_tar

    with pytest.raises(ValueError, match="too long"):
        pack_tar([("x" * 101, b"")])


def test_tar_shards_roundtrip(spark):
    """Writer -> reader round trip: every member comes back with its
    payload intact, keyed and grouped per shard; one tar per shard."""
    from pyspark.sql import functions as FF

    from swiftbeaver_spark.llm.webdataset import tar_shards, untar_members

    rows = [
        (f"shard-{i % 3}.tar", f"{i:05d}.txt", f"payload {i}".encode())
        for i in range(30)
    ]
    members = spark.createDataFrame(
        rows, "shard string, name string, payload binary"
    )
    archives = tar_shards(members)
    assert archives.count() == 3
    back = untar_members(archives)
    got = {
        (r["shard"], r["sample_key"], r["ext"]): bytes(r["payload"])
        for r in back.collect()
    }
    assert len(got) == 30
    for shard, name, payload in rows:
        key, ext = name.split(".", 1)
        assert got[(shard, key, ext)] == payload


def test_shard_assign_deterministic_spans(spark):
    """Equal-width spans over a dense key: balanced, contiguous,
    non-overlapping, and a pure function of the data (stable across
    repartitionings)."""
    from swiftbeaver_spark.llm.pipeline import shard_assign

    df = spark.createDataFrame([(i,) for i in range(100)], "seq_id long")
    a = {r["seq_id"]: r["shard_id"] for r in shard_assign(df, 4).collect()}
    assert set(a.values()) == {0, 1, 2, 3}
    for i in range(100):
        assert a[i] == i // 25  # dense ids: equal width == equal count
    b = {
        r["seq_id"]: r["shard_id"]
        for r in shard_assign(df.repartition(7), 4).collect()
    }
    assert a == b


def test_write_assigned_shards_directory_layout(spark, tmp_path):
    """Real files: one shard_id=N dir per shard, each holding exactly
    its assigned id span, nothing lost or duplicated."""
    from pyspark.sql import functions as FF

    from swiftbeaver_spark.llm.pipeline import write_assigned_shards

    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(200)], "doc_id long, text string"
    )
    out = str(tmp_path / "assigned")
    write_assigned_shards(df, out, num_shards=5, order_col="doc_id")
    back = spark.read.parquet(out)
    spans = {
        r["shard_id"]: (r["lo"], r["hi"], r["n"])
        for r in back.groupBy("shard_id")
        .agg(
            FF.min("doc_id").alias("lo"),
            FF.max("doc_id").alias("hi"),
            FF.count("*").alias("n"),
        )
        .collect()
    }
    assert set(spans) == {0, 1, 2, 3, 4}
    assert all(spans[s] == (40 * s, 40 * s + 39, 40) for s in spans)
    assert back.count() == 200 and back.select("doc_id").distinct().count() == 200


def test_corpus_mixture_proportions(spark):
    """A weight-5 corpus appears ~5x the rate of weight-1 corpora in
    the mixture prefix, regardless of its (equal) size; deterministic
    across runs."""
    from swiftbeaver_spark.llm.pipeline import corpus_mixture

    rows = [(c * 1000 + i, f"c{c}") for c in range(4) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = corpus_mixture(df, {"c0": 5.0}, k=160)
    got = out.groupBy("source").count().collect()
    by = {r["source"]: r["count"] for r in got}
    # expected c0 share = 5/8 of 160 = 100; allow hash noise
    assert by["c0"] > 70
    assert all(by.get(f"c{c}", 0) < 40 for c in (1, 2, 3))
    a = [r["doc_id"] for r in out.collect()]
    b = [r["doc_id"] for r in corpus_mixture(df, {"c0": 5.0}, k=160).collect()]
    assert a == b


def test_corpus_mixture_size_independent(spark):
    """Equal weights -> equal prefix share even when one corpus is 10x
    larger (the n_corpus factor cancels size)."""
    from swiftbeaver_spark.llm.pipeline import corpus_mixture

    rows = [(i, "big") for i in range(1000)] + [(10_000 + i, "small") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = corpus_mixture(df, {}, k=100)
    by = {r["source"]: r["count"] for r in out.groupBy("source").count().collect()}
    assert abs(by.get("big", 0) - by.get("small", 0)) < 40  # ~50/50


def test_chunk_documents_offsets_and_overlap(spark):
    from swiftbeaver_spark.llm.pipeline import chunk_documents

    text = "".join(chr(ord("a") + i % 26) for i in range(300))
    df = spark.createDataFrame([(1, text), (2, "short")], ["doc_id", "text"])
    rows = sorted(
        chunk_documents(df, window_chars=128, overlap_chars=32).collect(),
        key=lambda r: (r.doc_id, r.chunk_idx),
    )
    doc1 = [r for r in rows if r.doc_id == 1]
    # ceil((300-32)/96) = 3 chunks at starts 0, 96, 192
    assert [r.char_start for r in doc1] == [0, 96, 192]
    for r in doc1:
        assert r.chunk_text == text[r.char_start : r.char_start + 128]
    # consecutive chunks share exactly the 32-char overlap
    assert doc1[0].chunk_text[96:] == doc1[1].chunk_text[:32]
    # full coverage: concatenating steps reconstructs the doc
    rebuilt = doc1[0].chunk_text + doc1[1].chunk_text[32:] + doc1[2].chunk_text[32:]
    assert rebuilt == text
    short = [r for r in rows if r.doc_id == 2]
    assert len(short) == 1 and short[0].chunk_text == "short"


def test_boilerplate_removal_thresholds(spark):
    from swiftbeaver_spark.llm.pipeline import boilerplate_line_removal

    docs = spark.createDataFrame(
        [
            (1, "unique one\nbanner\nrare"),
            (2, "unique two\nbanner\nrare"),
            (3, "unique three\nbanner"),
            (4, "all mine"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in boilerplate_line_removal(docs, min_doc_freq=3).collect()}
    # 'banner' in 3 docs -> dropped; 'rare' in only 2 -> kept
    assert out[1].clean_text == "unique one\nrare"
    assert out[1].n_boilerplate_lines == 1
    assert out[3].clean_text == "unique three" and out[3].n_boilerplate_lines == 1
    assert out[4].clean_text == "all mine" and out[4].n_boilerplate_lines == 0
    # a line repeated WITHIN one doc counts once for doc-frequency
    docs2 = spark.createDataFrame(
        [(1, "x\nx\nx"), (2, "y")], ["doc_id", "text"]
    )
    out2 = {r.doc_id: r for r in boilerplate_line_removal(docs2, min_doc_freq=2).collect()}
    assert out2[1].clean_text == "x\nx\nx"  # df('x') == 1, survives


def test_crc32c_spec_vectors():
    """Pin crc32c to the RFC 3720 check value and the masking formula
    — the implementation is verified against the SPEC, not itself."""
    from swiftbeaver_spark.llm.tfrecord import crc32c, masked_crc32c

    assert crc32c(b"123456789") == 0xE3069283
    assert crc32c(b"") == 0x0
    assert crc32c(b"\x00" * 32) == 0x8A9136AA  # RFC 3720 all-zeros vector
    c = crc32c(b"123456789")
    assert masked_crc32c(b"123456789") == (((c >> 15) | (c << 17)) + 0xA282EAD8) & 0xFFFFFFFF


def test_tfrecord_pack_unpack_and_corruption():
    from swiftbeaver_spark.llm.tfrecord import pack_tfrecord, unpack_tfrecords

    recs = [b"alpha", b"", b"x" * 1000]
    blob = pack_tfrecord(recs)
    out = unpack_tfrecords(blob)
    assert [r for r, _ in out] == recs
    assert all(ok for _, ok in out)
    # flip a payload byte -> that record's crc fails, others survive
    pos = blob.index(b"alpha")
    bad = blob[:pos] + b"Alpha" + blob[pos + 5 :]
    out2 = unpack_tfrecords(bad)
    assert [ok for _, ok in out2] == [False, True, True]
    # truncated tail stops cleanly
    assert len(unpack_tfrecords(blob[: len(blob) - 3])) == 2


def test_tfrecord_spark_roundtrip(spark):
    from pyspark.sql import functions as F

    from swiftbeaver_spark.llm.tfrecord import tfrecord_members, tfrecord_shards

    members = spark.createDataFrame(
        [("s0", f"{i:04d}", bytes([i]) * (i + 1)) for i in range(10)],
        "shard STRING, name STRING, payload BINARY",
    )
    shards = tfrecord_shards(members)
    back = tfrecord_members(shards).orderBy("record_idx").collect()
    assert [r.size for r in back] == list(range(1, 11))
    assert all(r.crc_ok for r in back)
    assert bytes(back[3].payload) == bytes([3]) * 4


def test_split_stability_and_fractions(spark):
    """A doc's split never changes when the corpus grows; fractions
    land near the requested percentages."""
    from pyspark.sql import functions as F

    from swiftbeaver_spark.llm.pipeline import train_val_test_split

    small = spark.range(2000).withColumnRenamed("id", "doc_id")
    big = spark.range(10000).withColumnRenamed("id", "doc_id")
    s_small = {r.doc_id: r.split for r in train_val_test_split(small).collect()}
    s_big = {r.doc_id: r.split for r in train_val_test_split(big).collect()}
    assert all(s_big[d] == s for d, s in s_small.items())  # growth-stable
    counts = (
        train_val_test_split(big)
        .groupBy("split")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    frac = {r.split: r.n / 10000 for r in counts}
    assert 0.07 < frac["val"] < 0.13 and 0.07 < frac["test"] < 0.13
    assert frac["train"] > 0.74


def test_equidepth_histogram_depths_and_coverage(spark):
    """Bucket depths are equal up to heavy-hitter granularity, buckets
    tile the value range in order, and counts cover every row."""
    from pyspark.sql import functions as F

    from swiftbeaver_spark.sketch import equidepth_histogram

    li = (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .select(F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"))
    )
    n = li.count()
    rows = equidepth_histogram(li, "cents", nbuckets=8).collect()
    assert [r.bucket_id for r in rows] == list(range(8))
    assert sum(r.n_rows for r in rows) == n
    # ordered, non-overlapping ranges
    for a, b in zip(rows, rows[1:]):
        assert a.hi < b.lo
    # equal depth up to one distinct value's worth of rows: each bucket
    # holds >= floor(n/8) - max_single_value_count and <= ceil plus it
    max_cnt = (
        li.groupBy("cents").count().agg(F.max("count")).collect()[0][0]
    )
    for r in rows:
        assert r.n_rows >= n // 8 - max_cnt
        assert r.n_rows <= n // 8 + max_cnt + 1


def test_equidepth_histogram_skewed_input(spark):
    """A heavy hitter (half the rows) occupies its buckets alone and
    never splits across buckets."""
    from pyspark.sql import functions as F

    from swiftbeaver_spark.sketch import equidepth_histogram

    vals = [(500,)] * 100 + [(v,) for v in range(1000, 1100)]
    df = spark.createDataFrame(vals, ["v"])
    rows = equidepth_histogram(df, "v", nbuckets=4, block_width=50).collect()
    heavy = [r for r in rows if r.lo <= 500 <= r.hi]
    assert len(heavy) == 1  # the hitter sits in exactly one bucket
    assert heavy[0].n_rows >= 100
    assert sum(r.n_rows for r in rows) == 200
