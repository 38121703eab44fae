"""Property-based tests (hypothesis): randomized semantics checks of
the relational operators against brute-force Python references. Each
property runs a bounded number of examples (Spark job latency), but
hypothesis explores the corner regions a hand-written fixture misses —
empty sides, all-ties, single-key, boundary-straddling timestamps.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

BASE = dt.datetime(2024, 1, 1)


def _ts(s: int) -> dt.datetime:
    return BASE + dt.timedelta(seconds=s)


_settings = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

keys = st.sampled_from(["a", "b", "c"])
secs = st.integers(min_value=0, max_value=120)


@_settings
@given(
    left=st.lists(st.tuples(keys, secs), min_size=1, max_size=12),
    right=st.lists(st.tuples(keys, secs, st.floats(1, 9)), max_size=12),
    span=st.integers(min_value=1, max_value=60),
)
def test_asof_join_matches_bruteforce(spark, left, right, span):
    """Backward as-of (plain AND bucketed) == per-row brute force:
    the latest right row at-or-before, ties broken by union-sort order
    (right side pre-deduped here to make the reference well-defined)."""
    rdedup = {}
    for k, s, v in right:
        rdedup[(k, s)] = max(v, rdedup.get((k, s), float("-inf")))
    right_rows = [(k, _ts(s), v) for (k, s), v in sorted(rdedup.items())]
    ldf = spark.createDataFrame(
        [(k, _ts(s)) for k, s in left], "k string, ts timestamp"
    )
    rdf = spark.createDataFrame(
        right_rows or [("z", _ts(0), 0.0)], "k string, ts timestamp, px double"
    )
    if not right_rows:
        rdf = rdf.where(F.lit(False))

    def brute(k, s):
        cands = [(rs, v) for (rk, rs), v in rdedup.items() if rk == k and rs <= s]
        return max(cands)[1] if cands else None

    from swiftbeaver_spark.relational import asof_join

    for kwargs in ({}, {"bucket_span": span}):
        got = [
            (r["k"], r["ts"], r["px_right"])
            for r in asof_join(ldf, rdf, on="k", **kwargs).collect()
        ]
        assert len(got) == len(left)  # never multiplies or drops rows
        for k, ts_, px in got:
            assert px == brute(k, int((ts_ - BASE).total_seconds())), kwargs


@_settings
@given(
    left=st.lists(st.tuples(keys, secs), min_size=1, max_size=10),
    right=st.lists(st.tuples(keys, secs), min_size=1, max_size=10),
    lo=st.integers(min_value=-30, max_value=29),
    width=st.integers(min_value=1, max_value=40),
)
def test_interval_join_matches_bruteforce(spark, left, right, lo, width):
    hi = lo + width
    ldf = spark.createDataFrame(
        [(k, _ts(s), i) for i, (k, s) in enumerate(left)],
        "k string, lts timestamp, li long",
    )
    rdf = spark.createDataFrame(
        [(k, _ts(s), i) for i, (k, s) in enumerate(right)],
        "k string, rts timestamp, ri long",
    )
    from swiftbeaver_spark.relational import interval_join

    got = {
        (r["li"], r["ri"])
        for r in interval_join(ldf, rdf, "k", "lts", "rts", lo, hi).collect()
    }
    want = {
        (li, ri)
        for li, (lk, ls) in enumerate(left)
        for ri, (rk, rs) in enumerate(right)
        if lk == rk and ls + lo <= rs <= ls + hi
    }
    assert got == want


@_settings
@given(
    left=st.lists(st.tuples(st.integers(0, 5), st.integers(0, 99)), max_size=15),
    right=st.lists(st.tuples(st.integers(0, 5), st.integers(0, 99)), max_size=8),
    how=st.sampled_from(["inner", "left", "left_semi", "left_anti"]),
)
def test_salted_join_equals_plain_join(spark, left, right, how):
    ldf = spark.createDataFrame(left or [(99, 0)], "k long, lv long")
    rdf = spark.createDataFrame(right or [(98, 0)], "k long, rv long")
    if not left:
        ldf = ldf.where(F.lit(False))
    if not right:
        rdf = rdf.where(F.lit(False))
    from swiftbeaver_spark.relational import salted_join

    got = sorted(tuple(r) for r in salted_join(ldf, rdf, on="k", salt=4, how=how).collect())
    want = sorted(tuple(r) for r in ldf.join(rdf, "k", how).collect())
    assert got == want


@_settings
@given(
    pts=st.lists(
        st.tuples(st.integers(0, 255), st.integers(0, 255)),
        min_size=1,
        max_size=20,
    )
)
def test_zorder_key_bijective_and_monotone_blocks(spark, pts):
    """The Morton key decodes back to (x, y) exactly for inputs within
    [0, 2^bits) — interleaving loses nothing."""
    from swiftbeaver_spark.layout import zorder_key

    df = spark.createDataFrame(pts, "x long, y long")
    rows = df.select(
        "x", "y", zorder_key([F.col("x"), F.col("y")], bits=8).alias("z")
    ).collect()

    def decode(z):
        x = y = 0
        for i in range(8):
            x |= ((z >> (2 * i)) & 1) << i
            y |= ((z >> (2 * i + 1)) & 1) << i
        return x, y

    for r in rows:
        assert decode(r["z"]) == (r["x"], r["y"])


@_settings
@given(
    changes=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 50), st.sampled_from("xyz")),
        min_size=1,
        max_size=15,
        unique_by=lambda t: (t[0], t[1]),  # unique (key, ts) as required
    )
)
def test_scd2_intervals_cover_and_collapse(spark, changes):
    """Intervals per key: start at the first change, chain contiguously
    (valid_to == next valid_from), end open; consecutive equal states
    never produce adjacent rows with the same state."""
    from swiftbeaver_spark.relational import scd2_intervals

    df = spark.createDataFrame(
        [(k, _ts(s), v) for k, s, v in changes],
        "k long, ts timestamp, state string",
    )
    out = scd2_intervals(df, ["k"], "ts", ["state"]).collect()
    by_key: dict[int, list] = {}
    for r in out:
        by_key.setdefault(r["k"], []).append(r)
    for k, rows in by_key.items():
        rows.sort(key=lambda r: r["valid_from"])
        ks = sorted((s, v) for kk, s, v in changes if kk == k)
        assert rows[0]["valid_from"] == _ts(ks[0][0])  # starts at first change
        assert rows[-1]["valid_to"] is None and rows[-1]["is_current"]
        for a, b in zip(rows, rows[1:]):
            assert a["valid_to"] == b["valid_from"]  # contiguous chain
            assert a["state"] != b["state"]  # collapsed no-ops


@_settings
@given(
    text=st.text(alphabet="abc \n", min_size=0, max_size=400),
    window=st.integers(min_value=2, max_value=100),
    overlap_frac=st.floats(min_value=0.0, max_value=0.9),
)
def test_chunk_documents_reconstructs(spark, text, window, overlap_frac):
    """For ANY text/window/overlap: chunk offsets step uniformly,
    every chunk equals the substring at its offset, and stitching
    chunk[0] + tails of the rest reproduces the document exactly."""
    from swiftbeaver_spark.llm.pipeline import chunk_documents

    overlap = min(int(window * overlap_frac), window - 1)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = sorted(
        chunk_documents(df, window_chars=window, overlap_chars=overlap).collect(),
        key=lambda r: r.chunk_idx,
    )
    step = window - overlap
    assert [r.char_start for r in rows] == [i * step for i in range(len(rows))]
    for r in rows:
        assert r.chunk_text == text[r.char_start : r.char_start + window]
    rebuilt = rows[0].chunk_text + "".join(r.chunk_text[overlap:] for r in rows[1:])
    assert rebuilt == text
    # coverage: the last chunk reaches the end of the doc
    assert rows[-1].char_start + window >= len(text)


@_settings
@given(
    sizes=st.lists(st.integers(min_value=1, max_value=5000), min_size=1, max_size=40),
    target=st.integers(min_value=100, max_value=4000),
)
def test_compaction_conserves_and_orders(spark, sizes, target):
    """For ANY manifest: bytes are conserved, group ids are contiguous
    from 0 per partition, and each group's files are a contiguous
    path-ordered run (no interleaving across groups)."""
    from swiftbeaver_spark.layout import compaction_plan

    files = spark.createDataFrame(
        [(i % 2, f"f-{i:05d}", s) for i, s in enumerate(sizes)],
        "part_key INT, path STRING, size_bytes LONG",
    )
    rows = compaction_plan(files, target_bytes=target, partition_col="part_key").collect()
    assert sum(r.size_bytes for r in rows) == sum(sizes)
    by_part = {}
    for r in rows:
        by_part.setdefault(r.part_key, []).append(r)
    for part, rs in by_part.items():
        rs.sort(key=lambda r: r.path)
        gids = [r.compaction_group for r in rs]
        # non-decreasing in path order, starting at 0; ids may SKIP
        # when one file spans several target widths (floor binning)
        assert gids[0] == 0
        assert all(b >= a for a, b in zip(gids, gids[1:]))
        # replay the rolling-sum rule
        cum = 0
        for r in rs:
            assert r.compaction_group == cum // target
            cum += r.size_bytes


@_settings
@given(
    records=st.lists(st.binary(min_size=0, max_size=200), min_size=0, max_size=12),
)
def test_tfrecord_roundtrip_any_payloads(spark, records):
    """pack -> unpack is the identity with all CRCs valid, for ANY
    byte payloads including empty records and empty streams."""
    from swiftbeaver_spark.llm.tfrecord import pack_tfrecord, unpack_tfrecords

    out = unpack_tfrecords(pack_tfrecord(records))
    assert [r for r, _ in out] == records
    assert all(ok for _, ok in out)


words = st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff", "gg"])


@_settings
@given(
    docs=st.lists(
        st.lists(words, min_size=1, max_size=8), min_size=2, max_size=8
    ),
    num=st.sampled_from([1, 5, 7, 9]),
)
def test_prefix_filter_join_matches_bruteforce(spark, docs, num):
    """AllPairs prefix filtering is EXACT at any threshold num/10:
    identical pairs to the all-pairs brute force — no loss (blocking
    completeness), no extras (verify correctness)."""
    from swiftbeaver_spark.llm.dedup import prefix_filter_near_dups

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    got = {
        (r.doc_a, r.doc_b)
        for r in prefix_filter_near_dups(
            spark.createDataFrame(rows, ["doc_id", "text"]),
            threshold_num=num,
            threshold_den=10,
        ).collect()
    }
    sets = {i: set(t) for i, t in enumerate(docs)}
    want = {
        (a, b)
        for a in sets
        for b in sets
        if a < b
        and 10 * len(sets[a] & sets[b]) >= num * len(sets[a] | sets[b])
    }
    assert got == want


@_settings
@given(
    payloads=st.lists(
        st.binary(min_size=0, max_size=40), min_size=1, max_size=5
    )
)
def test_warc_roundtrip_random_payloads(spark, payloads):
    """serialize -> parse is the identity for ANY payload bytes,
    including ones embedding the record separator or header magic."""
    from swiftbeaver_spark.llm.warc import parse_warc_bytes, serialize_record

    blob = b"".join(
        serialize_record("response", f"<urn:uuid:{i}>", f"http://x/{i}", p)
        for i, p in enumerate(payloads)
    )
    rows = parse_warc_bytes("a", blob)
    assert [bytes(r[6]) for r in rows] == payloads
    assert all(r[7] is None for r in rows)


@_settings
@given(seed=st.integers(min_value=0, max_value=10_000))
def test_hilbert_bijection_random_bits(spark, seed):
    """with_hilbert_key is a bijection [0,2^b)^2 -> [0,4^b) for small
    grids (driver-side reference; the Spark twin is pinned to it by
    the exhaustive 16x16 test)."""
    from swiftbeaver_spark.layout import hilbert_xy2d

    bits = 3 + seed % 3
    n = 1 << bits
    seen = {hilbert_xy2d(n, x, y) for x in range(n) for y in range(n)}
    assert seen == set(range(n * n))


def test_kmeans_micro_partition_invariant(spark):
    """Distributed determinism: the result is independent of input
    partitioning (the property float means would break)."""
    from swiftbeaver_spark.llm.similarity import kmeans_micro

    rows = [(i, [float((i * 7 + j * 3) % 11) - 5.0 for j in range(8)]) for i in range(60)]
    a = spark.createDataFrame(rows, ["vec_id", "embedding"]).repartition(1)
    b = spark.createDataFrame(rows, ["vec_id", "embedding"]).repartition(16)
    ra = {(r.cell, r.n_members, r.inertia, r.centroid_md5) for r in kmeans_micro(a, k=4, iters=2).collect()}
    rb = {(r.cell, r.n_members, r.inertia, r.centroid_md5) for r in kmeans_micro(b, k=4, iters=2).collect()}
    assert ra == rb


@given(blob=st.binary(min_size=0, max_size=600))
@settings(max_examples=200, deadline=None)
def test_mp3_vorbis_parsers_total_on_noise(blob):
    """The new audio parsers run inside mapInPandas where one escaped
    exception kills a whole task: on arbitrary bytes they must return
    a well-formed value or None, never raise."""
    from swiftbeaver_spark.llm.multimodal import (
        _mp3_duration_ms,
        mp3_frame_header,
        vorbis_stream_meta,
    )

    h = mp3_frame_header(blob[:4])
    assert h is None or (len(h) == 4 and h[0] > 0 and h[2] > 0)
    d = _mp3_duration_ms(blob)
    assert d is None or d >= 0
    v = vorbis_stream_meta(blob)
    assert v is None or (len(v) == 5 and v[0] > 0 and v[1] > 0 and v[3] >= 0)


@given(blob=st.binary(min_size=0, max_size=600), cut=st.integers(0, 600))
@settings(max_examples=100, deadline=None)
def test_mp3_vorbis_parsers_total_on_truncated_structures(blob, cut):
    """Same totality over ADVERSARIAL prefixes: magic bytes spliced in
    front of noise, then truncated anywhere."""
    from swiftbeaver_spark.llm.multimodal import _mp3_duration_ms, vorbis_stream_meta

    for magic in (b"ID3", b"\xff\xfb\x90\x00", b"OggS\x00\x02"):
        frank = (magic + blob)[:cut]
        d = _mp3_duration_ms(frank)
        assert d is None or d >= 0
        v = vorbis_stream_meta(frank)
        assert v is None or (len(v) == 5 and v[3] >= 0)


@given(
    data=st.data(),
    n=st.integers(min_value=0, max_value=200),
    bits=st.sampled_from([8, 12, 16, 20, 24, 32]),
    channels=st.integers(min_value=1, max_value=2),
    block_size=st.sampled_from([16, 64, 192]),
    force=st.sampled_from([None, "verbatim", "fixed0", "lpc"]),
    partition_order=st.integers(min_value=0, max_value=3),
)
@settings(max_examples=60, deadline=None)
def test_flac_roundtrip_property(data, n, bits, channels, block_size, force,
                                 partition_order):
    """encode_flac/decode_flac must be EXACTLY lossless over the whole
    parameter surface — any depth/channel/block/subframe-type/partition
    combination, including empty PCM, full-range samples, and the
    stereo decorrelation modes (hypothesis reaches tail-block ×
    high-order × escape combinations the fixed tests don't)."""
    import numpy as np

    from swiftbeaver_spark.llm.flac import decode_flac, encode_flac

    lo, hi = -(1 << (bits - 1)), (1 << (bits - 1)) - 1
    vals = data.draw(
        st.lists(st.integers(lo, hi), min_size=n * channels,
                 max_size=n * channels)
    )
    pcm = np.array(vals, dtype=np.int64).reshape(n, channels)
    mode = "independent"
    if channels == 2:
        mode = data.draw(st.sampled_from(
            ["independent", "left_side", "right_side", "mid_side"]))
    payload = encode_flac(
        pcm if channels > 1 else pcm[:, 0],
        bits_per_sample=bits,
        block_size=block_size,
        stereo_mode=mode,
        force_subframe=force,
        partition_order=partition_order,
    )
    dec = decode_flac(payload)
    assert dec is not None
    info, out = dec
    assert out.shape == (n, channels)
    assert np.array_equal(out, pcm)
    assert info["bits_per_sample"] == bits and info["channels"] == channels


@given(
    docs=st.lists(
        st.text(alphabet="aab xy.", min_size=0, max_size=24),
        min_size=1,
        max_size=8,
    ),
    num_merges=st.integers(min_value=1, max_value=5),
)
@_settings
def test_bpe_learn_and_tokenize_match_reference(spark, docs, num_merges):
    """bpe_learn + bpe_tokenize over ADVERSARIAL tiny corpora ==
    the independent single-node reference: repeated characters force
    the leftmost-non-overlap merge semantics ('aaaa' + merge (a,a)
    must give 'aa','aa', never three overlapping pairs), tie-heavy
    count tables exercise the lexicographic break, and empty/space
    docs the drop semantics."""
    from pyspark.sql import functions as F

    from swiftbeaver_spark.llm.bpe import bpe_learn, bpe_tokenize, words_table
    from test_bpe import _reference_bpe, _reference_tokenize

    corpus = spark.createDataFrame([(d,) for d in docs], ["text"])
    merges = bpe_learn(corpus, num_merges)
    wc = {r["word"]: r["cnt"] for r in words_table(corpus, "text").collect()}
    assert merges == _reference_bpe(wc, num_merges)

    ids = corpus.withColumn("doc_id", F.monotonically_increasing_id())
    got = {
        r["doc_id"]: list(r["tokens"])
        for r in bpe_tokenize(ids, merges).collect()
    }
    for r in ids.collect():
        want = _reference_tokenize(r["text"], merges)
        if not want:
            assert r["doc_id"] not in got
        else:
            assert got[r["doc_id"]] == want


@given(
    seed=st.integers(min_value=0, max_value=10_000),
    n=st.integers(min_value=2, max_value=40),
    dim=st.sampled_from([4, 8]),
    nlist=st.sampled_from([2, 4]),
)
@_settings
def test_semantic_dedup_arrow_equals_expr_random_vectors(spark, seed, n, dim, nlist):
    """The arrow kernels (matmul assignment + blockwise gram) must
    reproduce the expression forms row-for-row on RANDOM embeddings —
    an active search for HALF_UP knife-edge divergence between BLAS
    and the Catalyst fold beyond the fixed corpora (planted exact
    duplicates included, so the drop policy path is always exercised)."""
    import numpy as np

    from swiftbeaver_spark.llm.similarity import md5_centroids, semantic_dedup

    rng = np.random.default_rng(seed)
    vecs = rng.normal(size=(n, dim)).round(3)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    rows += [(1_000 + i, [float(x) * 2.0 for x in v])
             for i, v in enumerate(vecs[: max(1, n // 4)])]  # scaled dups
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = md5_centroids(nlist, dim, tag="semdedup")
    expr = sorted(map(tuple, semantic_dedup(emb, cents).collect()))
    arrow = sorted(
        map(
            tuple,
            semantic_dedup(emb, cents, kernel="arrow", assign="arrow").collect(),
        )
    )
    assert expr == arrow
    assert any(r[3] for r in arrow)  # the planted dups drop


@given(
    seed=st.integers(min_value=0, max_value=10_000),
    n_docs=st.integers(min_value=3, max_value=14),
    max_hamming=st.sampled_from([1, 2, 3, 4, 5, 8]),
)
@_settings
def test_simhash_near_dups_exact_recall_vs_bruteforce(spark, seed, n_docs, max_hamming):
    """simhash_near_dups must return EXACTLY the pairs whose simhash
    Hamming distance <= k (the pigeonhole + min-block-filter claim):
    compared against popcount brute force over the same kernel-computed
    simhashes, across the keep=3 (k<=4) and keep=1 (k>4) layout regimes
    and corpora seeded with perturbed near-copies."""
    import random

    from swiftbeaver_spark.llm.dedup import simhash, simhash_near_dups

    rng = random.Random(seed)
    vocab = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
             "theta", "web", "data", "spark", "scale"]
    docs = []
    for i in range(n_docs):
        words = [rng.choice(vocab) for _ in range(rng.randint(4, 12))]
        docs.append((i, " ".join(words)))
        if rng.random() < 0.5:  # perturbed near-copy
            w2 = list(words)
            w2[rng.randrange(len(w2))] = rng.choice(vocab)
            docs.append((1000 + i, " ".join(w2)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sims = {r.doc_id: r.simhash for r in simhash(df).collect()}
    ids = sorted(sims)
    want = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if bin((sims[a] ^ sims[b]) & ((1 << 64) - 1)).count("1") <= max_hamming
    }
    got = {
        (min(r.a, r.b), max(r.a, r.b))
        for r in simhash_near_dups(df, max_hamming=max_hamming)
        .selectExpr("least(doc_a, doc_b) AS a", "greatest(doc_a, doc_b) AS b")
        .collect()
    }
    assert got == want


@given(
    seed=st.integers(min_value=0, max_value=10_000),
    n_docs=st.integers(min_value=2, max_value=10),
    threshold=st.sampled_from([0.5, 0.7, 0.9]),
)
@_settings
def test_minhash_near_dups_sound_vs_exact_jaccard(spark, seed, n_docs, threshold):
    """Soundness of the LSH + verify pipeline: every reported pair's
    jaccard must equal the EXACT distinct-char-shingle Jaccard computed
    independently in Python (same normalization: lowercase, collapsed
    whitespace), and clear the threshold. (Recall is probabilistic by
    design — banding — so only soundness is asserted.)"""
    import random

    from swiftbeaver_spark.llm.dedup import minhash_near_dups

    rng = random.Random(seed)
    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = []
    for i in range(n_docs):
        words = base.split()
        for _ in range(rng.randint(0, 3)):
            words[rng.randrange(len(words))] = rng.choice(
                ["cat", "mat", "hat", "SPARK", "  pad  "]
            )
        docs.append((i, " ".join(words)))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    def shingle_set(t, k=9):
        norm = " ".join(t.lower().split())
        if len(norm) <= k:
            return {norm[:k]} if norm else {""}
        return {norm[i : i + k] for i in range(len(norm) - k + 1)}

    texts = dict(docs)
    for r in minhash_near_dups(df, threshold=threshold).collect():
        a, b = shingle_set(texts[r.doc_a]), shingle_set(texts[r.doc_b])
        exact = len(a & b) / len(a | b)
        assert abs(r.jaccard - exact) < 1e-9
        assert exact >= threshold


@given(
    texts=st.lists(
        st.text(alphabet="abc XY.,\n\t", min_size=0, max_size=60),
        min_size=1,
        max_size=6,
    ),
)
@_settings
def test_fingerprint_pinned_matches_python_reference(spark, texts):
    """The engine-pinned winnowing fingerprint == an independent Python
    reference (normalize -> distinct k-shingles with the short-text
    floor -> md5-hex mins -> md5 of the joined mins), over arbitrary
    text including whitespace runs and sub-shingle-length documents."""
    import hashlib

    from swiftbeaver_spark.llm.text import fingerprint_pinned

    K, NS = 16, 8

    def ref(t: str) -> str:
        norm = " ".join(t.split()).lower()
        n = max(len(norm) - (K - 1), 1)
        shingles = {norm[i : i + K] for i in range(n)}
        mins = sorted(hashlib.md5(s.encode()).hexdigest() for s in shingles)[:NS]
        return hashlib.md5(",".join(mins).encode()).hexdigest()

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["i", "t"])
    got = {
        r.i: r.fp
        for r in df.select(
            "i", fingerprint_pinned(F.col("t"), NS, K).alias("fp")
        ).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == ref(t), (i, t)


def _ref_fnv1a32(s: str) -> int:
    """Independent FNV-1a-over-codepoints reference shared by the
    subword property tests (one copy so the references cannot drift)."""
    h = 2166136261
    for ch in s:
        h = ((h ^ ord(ch)) * 16777619) % 4294967296
    return h


@_settings
@given(
    words=st.lists(
        st.text(
            st.characters(min_codepoint=0x21, max_codepoint=0x2FF),
            min_size=1,
            max_size=12,
        ),
        min_size=1,
        max_size=16,
    ),
    minn=st.integers(min_value=1, max_value=4),
    span=st.integers(min_value=0, max_value=3),
)
def test_subword_units_match_reference(spark, words, minn, span):
    """sb_subword (the compiled n-gram expansion + FNV fold) vs an
    independent Python reference over random (incl. multi-byte) words:
    the '<word>' wrapping, duplicates kept, order n-major, and the
    FNV-1a-over-codepoints fold must agree exactly — they are the units
    the q172 oracle replays in SQL."""
    from swiftbeaver_spark.jvm import ensure_kernel

    ensure_kernel(spark)
    maxn = minn + span
    nb = 2**31 - 1

    def ref_ngrams(w: str) -> list[str]:
        s = f"<{w}>"
        return [
            s[i : i + n]
            for n in range(minn, maxn + 1)
            for i in range(len(s) - n + 1)
            if len(s) >= n
        ]

    df = spark.createDataFrame([(w,) for w in set(words)], "w string")
    spec = F.lit(f"{minn};{maxn};{nb}")
    out = {
        r.w: list(r.h)
        for r in df.select("w", F.call_udf("sb_subword", F.col("w"), spec).alias("h")).collect()
    }
    for w in set(words):
        grams = ref_ngrams(w)
        assert out[w] == [_ref_fnv1a32(g) % nb for g in grams], (w, minn, maxn)


@_settings
@given(
    texts=st.lists(
        st.text(
            st.sampled_from("ab <>_"),
            max_size=24,
        ),
        min_size=1,
        max_size=8,
    ),
    n_buckets=st.integers(min_value=1, max_value=4),
)
def test_classify_subword_matches_python_reference(spark, texts, n_buckets):
    """End-to-end classify_documents_subword vs an independent pure-
    Python model over adversarial tiny corpora (tokens that collide
    with '<'/'>' markers, underscores, empty/whitespace docs): word +
    n-gram-bucket units, label-dense integer scoring, truncating-div
    mean, argmax with lexicographic tie-break, 'und' fallback. An
    independent reference catches mutual Spark/oracle semantics bugs
    the hash gate cannot."""
    import re

    from swiftbeaver_spark.llm.weights import classify_documents_subword

    minn, maxn = 2, 3
    labels = ["de", "en"]

    def norm(t):
        return re.sub(r"\s+", " ", (t or "").lower()).strip()

    def ngrams(w):
        s = f"<{w}>"
        return [
            s[i : i + n]
            for n in range(minn, maxn + 1)
            if len(s) >= n
            for i in range(len(s) - n + 1)
        ]

    # deterministic weight tables: word weights for the corpus's even-
    # indexed distinct tokens only (so some tokens are OOV), buckets
    # dense over [0, n_buckets)
    all_tokens = sorted({t for x in texts for t in norm(x).split(" ") if t})
    wvocab = all_tokens[::2]
    wrows = [
        (t, lab, (1 + i * 7 + j * 13) * (1 if (i + j) % 3 else -1) * 1_000)
        for i, t in enumerate(wvocab)
        for j, lab in enumerate(labels)
    ]
    brows = [
        (b, lab, (3 + b * 11 + j * 5) * (-1 if b % 2 else 1) * 1_000)
        for b in range(n_buckets)
        for j, lab in enumerate(labels)
    ]
    wmap = {(t, lab): w for t, lab, w in wrows}
    bmap = {(b, lab): w for b, lab, w in brows}

    def ref_doc(text):
        toks = [t for t in norm(text).split(" ") if t]
        scores, n_units = {lab: 0 for lab in labels}, 0
        for t in toks:
            if t in wvocab:
                n_units += 1
                for lab in labels:
                    scores[lab] += wmap[(t, lab)]
            for g in ngrams(t):
                b = _ref_fnv1a32(g) % n_buckets
                n_units += 1
                for lab in labels:
                    scores[lab] += bmap[(b, lab)]
        if n_units == 0:
            return ("und", 0, 0)
        # truncating div toward zero, argmax then lexicographic label
        div = {lab: int(scores[lab] / n_units) for lab in labels}
        best = min(div, key=lambda lab: (-div[lab], lab))
        if div[best] > 0:
            return (best, div[best], n_units)
        return ("und", 0, n_units)

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    schema_w = "token string, label string, weight_micro long"
    ww = spark.createDataFrame(wrows, schema_w) if wrows else spark.createDataFrame([], schema_w)
    bw = spark.createDataFrame(brows, "bucket long, label string, weight_micro long")
    got = {
        r.doc_id: (r.label, r.score_micro, r.n_units)
        for r in classify_documents_subword(
            docs, ww, bw, n_buckets=n_buckets, minn=minn, maxn=maxn
        ).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == ref_doc(t), (t, got[i], ref_doc(t))
