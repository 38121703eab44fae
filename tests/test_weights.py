"""fastText .vec weight loading + weighted model-shaped operators
(llm/weights.py): format parsing, dot/fold determinism, and the
VERDICT r6 item-3 contract — swapping the md5 stand-in weights in
linear_quality_score for real broadcast weights is config-only."""

import pytest
from pyspark.sql import functions as F

from swiftbeaver_spark.llm.weights import (
    classify_documents,
    load_fasttext_vec,
    parse_fasttext_vec_lines,
    token_label_weights,
    weighted_quality_score,
)

VEC_TEXT = """4 3
the 0.1 0.2 -0.3
und -1.0 0.0 0.5
__label__en 1.0 0.5 0.0
__label__de -0.5 1.0 0.25
"""


def test_parse_fasttext_vec_lines(spark):
    lines = spark.createDataFrame(
        [
            ("the 0.1 0.2 -0.3",),
            ("short 0.1 0.2",),  # wrong arity -> dropped
            ("bad 0.1 x -0.3",),  # non-numeric -> dropped
            ("  padded 1 2 3  ",),  # whitespace-tolerant
        ],
        "value string",
    )
    rows = {r.word: r.vector for r in parse_fasttext_vec_lines(lines, 3).collect()}
    assert set(rows) == {"the", "padded"}
    assert rows["the"] == [0.1, 0.2, -0.3]
    assert rows["padded"] == [1.0, 2.0, 3.0]


def test_load_fasttext_vec_file(spark, tmp_path):
    p = tmp_path / "model.vec"
    p.write_text(VEC_TEXT)
    rows = {r.word: r.vector for r in load_fasttext_vec(spark, str(p)).collect()}
    assert len(rows) == 4
    assert rows["__label__en"] == [1.0, 0.5, 0.0]
    bad = tmp_path / "bad.vec"
    bad.write_text("not a vec file at all\n")
    with pytest.raises(ValueError):
        load_fasttext_vec(spark, str(bad))


def test_token_label_weights_dots(spark, tmp_path):
    p = tmp_path / "model.vec"
    p.write_text(VEC_TEXT)
    w = token_label_weights(load_fasttext_vec(spark, str(p)))
    got = {(r.token, r.label): r.weight_micro for r in w.collect()}
    # 2 tokens x 2 labels; dots by hand, micro-quantized
    assert got[("the", "en")] == round((0.1 * 1.0 + 0.2 * 0.5 + -0.3 * 0.0) * 1e6)
    assert got[("the", "de")] == round((0.1 * -0.5 + 0.2 * 1.0 + -0.3 * 0.25) * 1e6)
    assert got[("und", "en")] == round(-1.0 * 1e6)
    assert len(got) == 4


def test_classify_documents_argmax_ties_und(spark):
    docs = spark.createDataFrame(
        [
            (1, "aa aa bb"),  # en 2*10+5=25 vs de 2*1+0=2 -> en
            (2, "bb cc"),  # de 7 > en 5 -> de
            (3, "zz zz"),  # OOV only -> und, score 0
            (4, ""),  # empty -> und, n_tokens 0
            (5, "tie tie"),  # en == de == 4 -> lexicographically first label
            (6, "neg"),  # all labels <= 0 -> und
        ],
        "doc_id long, text string",
    )
    weights = spark.createDataFrame(
        [
            ("aa", "en", 10), ("aa", "de", 1),
            ("bb", "en", 5), ("bb", "de", 0),
            ("cc", "de", 7),
            ("tie", "en", 2), ("tie", "de", 2),
            ("neg", "en", -3), ("neg", "de", -1),
        ],
        "token string, label string, weight_micro long",
    )
    out = {r.doc_id: r for r in classify_documents(docs, weights).collect()}
    assert len(out) == 6
    assert (out[1].label, out[1].score_micro) == ("en", 25)
    assert (out[2].label, out[2].score_micro) == ("de", 7)
    assert (out[3].label, out[3].score_micro, out[3].n_tokens) == ("und", 0, 2)
    assert (out[4].label, out[4].n_tokens) == ("und", 0)
    assert (out[5].label, out[5].score_micro) == ("de", 4)
    assert (out[6].label, out[6].score_micro) == ("und", 0)


def test_quality_weight_swap_is_config_only(spark):
    """The item-3 gate: linear_quality_score(docs, weights=...) with a
    weights table that replays the md5 stand-in formula must produce
    IDENTICAL (doc_id, n_tokens, quality_score_micro) rows — proving
    the stand-in -> real-model path is one argument, with score_sum
    related by the documented 1000x micro-scale factor."""
    from swiftbeaver_spark.llm.dedup import normalized_text
    from swiftbeaver_spark.llm.text import linear_quality_score

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .limit(200)
    )
    vocab = docs.select(
        F.explode(
            F.filter(F.split(normalized_text(F.col("text")), " "), lambda t: t != "")
        ).alias("token")
    ).distinct()
    bucket = F.substring(F.md5(F.concat(F.lit("f:"), F.col("token"))), 1, 3)
    standin_w = (
        F.conv(F.substring(F.md5(F.concat(F.lit("w:"), bucket)), 1, 8), 16, 10)
        .cast("long")
        % 2001
        - 1000
    )
    weights = vocab.select(
        "token",
        F.lit("quality").alias("label"),
        (standin_w * 1000).cast("long").alias("weight_micro"),
    )
    base = linear_quality_score(docs).orderBy("doc_id").collect()
    real = linear_quality_score(docs, weights=weights).orderBy("doc_id").collect()
    assert len(base) == len(real) > 0
    for b, r in zip(base, real):
        assert (b.doc_id, b.n_tokens, b.quality_score_micro) == (
            r.doc_id, r.n_tokens, r.quality_score_micro,
        )
        assert r.score_sum == b.score_sum * 1000


def test_weighted_quality_oov_zero_and_length_normalizer(spark):
    docs = spark.createDataFrame(
        [(1, "known unknown unknown unknown")], "doc_id long, text string"
    )
    weights = spark.createDataFrame(
        [("known", "quality", 4_000_000)], "token string, label string, weight_micro long"
    )
    r = weighted_quality_score(docs, weights).collect()[0]
    # OOV tokens weigh 0 but still count toward the length normalizer
    assert (r.n_tokens, r.score_sum, r.quality_score_micro) == (4, 4_000_000, 1_000_000)


def test_load_fasttext_vec_crlf(spark, tmp_path):
    """CRLF-terminated (Windows-saved) .vec: the trailing \\r must not
    shift field counts and silently drop every row (round-7 review —
    Spark trim() strips only 0x20, and \\s+ split keeps a trailing
    empty field)."""
    p = tmp_path / "crlf.vec"
    p.write_bytes(VEC_TEXT.replace("\n", "\r\n").encode())
    rows = {r.word: r.vector for r in load_fasttext_vec(spark, str(p)).collect()}
    assert len(rows) == 4
    assert rows["the"] == [0.1, 0.2, -0.3]


def test_load_fasttext_vec_dim1_and_empty(spark, tmp_path):
    """dim == 1 is the one layout where header and body rows share the
    2-field shape: the header must be removed positionally, and a body
    line textually identical to the header must SURVIVE (the old
    string-equality filter deleted it). An empty file raises ValueError
    instead of IndexError/empty model."""
    d1 = tmp_path / "d1.vec"
    d1.write_text("3 1\nfoo 0.5\n3 1\nbar -2\n")
    rows = {r.word: r.vector for r in load_fasttext_vec(spark, str(d1)).collect()}
    assert rows == {"foo": [0.5], "3": [1.0], "bar": [-2.0]}
    e = tmp_path / "empty.vec"
    e.write_text("")
    with pytest.raises(ValueError, match="empty"):
        load_fasttext_vec(spark, str(e))


def test_classify_documents_null_text(spark):
    """NULL text counts as 0 tokens (not size(NULL) = -1) and labels
    'und' with score 0 — the q171 oracle's COALESCE(c.n, 0) contract
    (round-7 review finding)."""
    weights = spark.createDataFrame(
        [("hello", "en", 5_000_000)],
        "token string, label string, weight_micro long",
    )
    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "hello")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in classify_documents(docs, weights).collect()}
    assert (out[1].label, out[1].score_micro, out[1].n_tokens) == ("und", 0, 0)
    assert (out[2].label, out[2].score_micro, out[2].n_tokens) == ("und", 0, 0)
    assert (out[3].label, out[3].n_tokens) == ("en", 1)


def _pyfnv(s: str) -> int:
    h = 2166136261
    for ch in s:
        h = ((h ^ ord(ch)) * 16777619) % 4294967296
    return h


def _pyngrams(w: str, minn: int, maxn: int) -> list[str]:
    """fastText subword expansion: all n-grams of '<w>' for n in
    [minn, maxn], n ascending then position ascending, duplicates kept."""
    s = f"<{w}>"
    return [s[i : i + n] for n in range(minn, maxn + 1) for i in range(len(s) - n + 1)]


_MAX_BUCKETS = 2**31 - 1


def _sb_subword(spark, words, minn: int, maxn: int, nb: int = _MAX_BUCKETS) -> dict:
    df = spark.createDataFrame([(w,) for w in words], "w string")
    spec = F.lit(f"{minn};{maxn};{nb}")
    return {
        r.w: list(r.b)
        for r in df.select("w", F.call_udf("sb_subword", F.col("w"), spec).alias("b")).collect()
    }


def test_subword_ngrams_pinned(spark):
    """fastText subword expansion: all n-grams of '<word>' for n in
    [minn, maxn], duplicates kept (fastText Dictionary::computeSubwords
    keeps them) — pinned through sb_subword's bucket stream."""
    from swiftbeaver_spark.jvm import ensure_kernel

    ensure_kernel(spark)
    out = _sb_subword(spark, ["ab", "aa", "x"], 2, 3)
    want = {
        "ab": ["<a", "ab", "b>", "<ab", "ab>"],
        "aa": ["<a", "aa", "a>", "<aa", "aa>"],  # duplicates kept
        "x": ["<x", "x>", "<x>"],
    }
    for w, grams in want.items():
        assert grams == _pyngrams(w, 2, 3)
        assert out[w] == [_pyfnv(g) % _MAX_BUCKETS for g in grams], w


def test_fnv1a32_matches_reference(spark):
    """sb_subword's FNV-1a fold must equal the public FNV-1a spec over
    codepoints (offset 2166136261, prime 16777619), including multi-byte
    codepoints — DuckDB ord() also returns codepoints, so the oracle
    replays it exactly. One n-gram per word: n = len('<word>')."""
    from swiftbeaver_spark.jvm import ensure_kernel

    ensure_kernel(spark)
    for w in ["", "a", "<ab", "hello", "é€", "zzz>"]:
        n = len(w) + 2
        assert _sb_subword(spark, [w], n, n) == {w: [_pyfnv(f"<{w}>") % _MAX_BUCKETS]}, w


def test_classify_documents_subword(spark):
    """OOV tokens score via their n-gram buckets (the point of the
    subword model); in-vocab tokens contribute word + n-gram units;
    n_units counts matched units; unit-less docs get 'und'."""
    from swiftbeaver_spark.llm.weights import classify_documents_subword

    # n_buckets=1: every ngram lands in bucket 0 -> hand-computable
    word_w = spark.createDataFrame(
        [("hello", "en", 4_000_000), ("hello", "de", -1_000_000)],
        "token string, label string, weight_micro long",
    )
    bucket_w = spark.createDataFrame(
        [(0, "en", 1_000_000), (0, "de", 2_000_000)],
        "bucket long, label string, weight_micro long",
    )
    docs = spark.createDataFrame(
        [(1, "hello"), (2, "zzzz"), (3, None)], "doc_id long, text string"
    )
    out = {
        r.doc_id: r
        for r in classify_documents_subword(
            docs, word_w, bucket_w, n_buckets=1, minn=3, maxn=4
        ).collect()
    }
    # doc 1: '<hello>' has 5 3-grams + 4 4-grams = 9 bucket units + 1
    # word unit = 10 units; en = 4e6 + 9*1e6 = 13e6 -> div 10 = 1.3e6;
    # de = -1e6 + 18e6 = 17e6 -> 1.7e6 -> argmax de
    assert (out[1].label, out[1].score_micro, out[1].n_units) == ("de", 1_700_000, 10)
    # doc 2: OOV word, 4+3 = 7 ngram units only; en 7e6/7=1e6, de 2e6
    assert (out[2].label, out[2].score_micro, out[2].n_units) == ("de", 2_000_000, 7)
    # doc 3: NULL text -> no units
    assert (out[3].label, out[3].score_micro, out[3].n_units) == ("und", 0, 0)


def test_classify_subword_unit_weights_matches_union(spark):
    """The pre-merged unit_weights fast path (one evaluation of a
    shared weights subtree instead of one per word/bucket branch) must
    return rows identical to the default union build."""
    from pyspark.sql import functions as F

    from swiftbeaver_spark.llm.weights import classify_documents_subword

    word_w = spark.createDataFrame(
        [("hello", "en", 4_000_000), ("hello", "de", -1_000_000)],
        "token string, label string, weight_micro long",
    )
    bucket_w = spark.createDataFrame(
        [(0, "en", 1_000_000), (0, "de", 2_000_000)],
        "bucket long, label string, weight_micro long",
    )
    docs = spark.createDataFrame(
        [(1, "hello"), (2, "zzzz"), (3, None)], "doc_id long, text string"
    )
    merged = word_w.select(
        F.concat(F.lit("w:"), "token").alias("unit"), "label", "weight_micro"
    ).unionByName(
        bucket_w.select(
            F.concat(F.lit("b:"), F.col("bucket").cast("string")).alias("unit"),
            "label",
            "weight_micro",
        )
    )
    base = classify_documents_subword(
        docs, word_w, bucket_w, n_buckets=1, minn=3, maxn=4
    )
    fast = classify_documents_subword(
        docs, word_w, bucket_w, n_buckets=1, minn=3, maxn=4, unit_weights=merged
    )
    assert sorted(map(tuple, base.collect())) == sorted(map(tuple, fast.collect()))


def test_token_label_weights_join_fallback_matches_explode(spark, tmp_path, monkeypatch):
    """ADVICE r7: past the literal budget (labels x dim) the weight
    build must switch from plan-literal explode to a broadcast hash
    join — identical rows, and never a BroadcastNestedLoopJoin (the
    plan a literal-key cross would fold into)."""
    import swiftbeaver_spark.llm.weights as W

    p = tmp_path / "model.vec"
    p.write_text(VEC_TEXT)
    vecs = load_fasttext_vec(spark, str(p))
    want = sorted(map(tuple, token_label_weights(vecs).collect()))

    monkeypatch.setattr(W, "_LABEL_LITERAL_BUDGET", 1)
    joined = token_label_weights(vecs)
    plan = joined._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        joined._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert sorted(map(tuple, joined.collect())) == want


def test_subword_label_density_guard_raises(spark):
    """ADVICE r7: a pruned (non-label-dense) weight table must raise —
    n_units is read off per-(doc,label) rows and silently skews scores
    otherwise."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from swiftbeaver_spark.llm.weights import classify_documents_subword

    word_w = spark.createDataFrame(
        # 'hello' carries en but NOT de -> not label-dense
        [("hello", "en", 4_000_000)],
        "token string, label string, weight_micro long",
    )
    bucket_w = spark.createDataFrame(
        [(0, "en", 1_000_000), (0, "de", 2_000_000)],
        "bucket long, label string, weight_micro long",
    )
    docs = spark.createDataFrame([(1, "hello")], "doc_id long, text string")
    out = classify_documents_subword(docs, word_w, bucket_w, n_buckets=1)
    with pytest.raises(SparkRuntimeException, match="label-dense"):
        out.collect()


def test_persisted_weights_round_trip(spark, tmp_path):
    """VERDICT r8 task 3: the weight build runs once per model; scoring
    reads the persisted parquet (q147 index-persistence convention) and
    classifies identically to the freshly-built table."""
    from swiftbeaver_spark.llm.weights import (
        load_token_label_weights,
        save_token_label_weights,
    )

    p = tmp_path / "model.vec"
    p.write_text(VEC_TEXT)
    weights = token_label_weights(load_fasttext_vec(spark, str(p)))
    wpath = str(tmp_path / "weights.parquet")
    save_token_label_weights(weights, wpath)

    docs = spark.createDataFrame(
        [(1, "the the und"), (2, "nothing known")], "doc_id long, text string"
    )
    want = sorted(map(tuple, classify_documents(docs, weights).collect()))
    got = sorted(
        map(
            tuple,
            classify_documents(
                docs, load_token_label_weights(spark, wpath)
            ).collect(),
        )
    )
    assert got == want
    assert len(got) == 2


def test_subword_kernel_matches_catalyst(spark):
    """The compiled JVM subword kernel (sb_subword) must emit the exact
    bucket stream of the Python reference (n-grams of '<token>' ->
    FNV-1a over codepoints % n_buckets): same order (n ascending,
    position ascending), duplicates kept, codepoint fold (CJK + non-BMP
    emoji pinned), null -> null."""
    from swiftbeaver_spark.jvm import ensure_kernel

    ensure_kernel(spark)
    tokens = [
        "hello", "a", "ab", "abc", "abcd", "übermäßig", "東京都庁",
        "x" * 50, "naïve", "<weird>", "", "🙂emoji🙂",
    ]
    for minn, maxn, nb in [(3, 4, 256), (1, 1, 7), (2, 5, 1000003)]:
        got = _sb_subword(spark, tokens, minn, maxn, nb)
        for t in tokens:
            want = [_pyfnv(g) % nb for g in _pyngrams(t, minn, maxn)]
            assert got[t] == want, (minn, maxn, nb, t)
    null_row = (
        spark.createDataFrame([(None,)], "token string")
        .select(F.call_udf("sb_subword", F.col("token"), F.lit("3;4;256")).alias("j"))
        .collect()[0]
    )
    assert null_row.j is None


def test_classify_documents_broadcast_flag_plans_and_matches(spark):
    """broadcast_weights=False must drop the broadcast hint (the
    real-model escape: ~30M weight rows must shuffle, not ship to
    every executor) without changing results. With auto-broadcast
    disabled, only the hint can produce a broadcast join — so the
    flag's effect is visible in the static plan."""
    weights = spark.createDataFrame(
        [("hello", "en", 2_000_000), ("hello", "de", -1_000_000),
         ("welt", "de", 3_000_000), ("welt", "en", 100)],
        "token string, label string, weight_micro long",
    )
    docs = spark.createDataFrame(
        [(1, "hello hello"), (2, "hallo welt"), (3, "zzz")],
        "doc_id long, text string",
    )
    want = sorted(map(tuple, classify_documents(docs, weights).collect()))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        hinted = classify_documents(docs, weights, broadcast_weights=True)
        plain = classify_documents(docs, weights, broadcast_weights=False)
        explain = lambda df: df._sc._jvm.PythonSQLUtils.explainString(  # noqa: E731,SLF001
            df._jdf.queryExecution(), "formatted"
        )
        assert "BroadcastHashJoin" in explain(hinted)
        assert "BroadcastHashJoin" not in explain(plain)
        assert sorted(map(tuple, plain.collect())) == want
        assert sorted(map(tuple, hinted.collect())) == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
