"""JVM Aho-Corasick kernel equivalence: sb_scan_bytes / sb_scan_all
must produce exactly the Python kernel's hits (overlapping matches,
shared-prefix patterns, window-straddling matches, chunk geometry).

The JVM kernel registers into any session (jvm.ensure_kernel); these
tests hard-require it — the build environment ships a JDK, so a silent
fallback here would mask a real regression.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from swiftbeaver_spark.config import DEFAULT_CONFIG
from swiftbeaver_spark.jvm import ensure_kernel, spec_for
from swiftbeaver_spark.scanner import (
    MAX_HITS_PER_CHUNK,
    compile_patterns,
    find_all,
    scan_and_normalize,
    scan_chunks,
    scan_chunks_jvm,
)

from tests.fixtures import ALL_FIXTURES, scan_all_hits

PATTERNS = compile_patterns(DEFAULT_CONFIG)


def naive(blob: bytes) -> set[tuple[int, str, str]]:
    out = set()
    for pat, pid, ftid in PATTERNS:
        for o in find_all(blob, pat):
            out.add((o, pid, ftid))
    return out


def planted_blob(seed: int, size: int = 200_000) -> bytes:
    rng = random.Random(seed)
    blob = bytearray(rng.randbytes(size - 50_000)) + bytearray(50_000)
    for name, (b, _, _, _) in ALL_FIXTURES.items():
        pos = rng.randrange(0, size - 20_000)
        blob[pos : pos + len(b)] = b
    return bytes(blob)


def jvm_scan_bytes(spark, blob: bytes) -> set[tuple[int, str, str]]:
    spec = spec_for(PATTERNS, MAX_HITS_PER_CHUNK)
    df = spark.createDataFrame([(bytearray(blob),)], "data binary")
    [row] = df.select(
        F.call_udf("sb_scan_bytes", F.col("data"), F.lit(spec)).alias("h")
    ).collect()
    return {
        (int(h) >> 16, PATTERNS[int(h) & 0xFFFF][1], PATTERNS[int(h) & 0xFFFF][2])
        for h in row["h"]
    }


def test_kernel_registers(spark):
    assert ensure_kernel(spark), "JVM kernel failed to build/register"


@pytest.mark.parametrize("seed", [11, 12, 13])
def test_bytes_udf_matches_naive(spark, seed):
    blob = planted_blob(seed)
    assert jvm_scan_bytes(spark, blob) == naive(blob)


def test_bytes_udf_overlap_and_shared_prefix(spark):
    import struct

    riff = b"RIFF" + struct.pack("<I", 20) + b"WAVE" + b"\x00" * 12
    blob = b"\xff\xd8\xff\xd8\xff" + b"\x00" * 40 + riff
    got = jvm_scan_bytes(spark, blob)
    assert got == naive(blob)
    assert {o for (o, pid, _) in got if pid == "jpeg_soi"} == {0, 2}
    assert {ftid for (o, _, ftid) in got if o == 45} == {"webp", "wav", "avi"}


def test_evidence_udf_streams_across_io_windows(spark, tmp_path):
    """A match straddling a sub-chunk or parent-chunk read window must
    be found exactly once: the block's overlap tail covers it, the
    ownership rule drops the repeat."""
    import dataclasses

    from swiftbeaver_spark.fused_scan import scan_all_from_evidence

    assert ensure_kernel(spark)
    win = 1 << 20  # sub-chunk granule; parents are 4 windows
    sig = bytes.fromhex("FFD8FF")
    buf = bytearray(4 * win + 64)
    buf[10:13] = sig
    buf[win - 1 : win + 2] = sig  # sub-chunk edge: 1 byte before, 2 after
    buf[4 * win - 2 : 4 * win + 1] = sig  # parent edge
    path = str(tmp_path / "ev.bin")
    with open(path, "wb") as fh:
        fh.write(bytes(buf))
    cfg = dataclasses.replace(DEFAULT_CONFIG, chunk_size=4 * win, overlap=4096)
    hits = scan_all_from_evidence(spark, path, cfg, granule=win)["hits"]
    offs = [r.global_offset for r in hits.collect() if r.pattern_id == "jpeg_soi"]
    assert sorted(offs) == [10, win - 1, 4 * win - 2]


def _hit_set(df) -> set[tuple[int, str, str]]:
    return {(r.global_offset, r.pattern_id, r.file_type_id) for r in df.collect()}


def test_scan_evidence_jvm_equals_python(spark, tmp_path):
    """Full fused operator: the one-pass JVM scan's hits == the Python
    chunk-table kernel's (the JRE-only path) on the same chunk geometry
    (including overlap dedup at sub-chunk and parent edges), except the
    loose-signature hits the scan-time gates drop."""
    import dataclasses

    from swiftbeaver_spark.chunking import chunks_from_file
    from swiftbeaver_spark.fused_scan import scan_all_from_evidence

    blob = planted_blob(99, size=300_000)
    path = str(tmp_path / "ev.bin")
    with open(path, "wb") as fh:
        fh.write(blob)
    cfg = dataclasses.replace(DEFAULT_CONFIG, chunk_size=64 * 1024, overlap=4096)
    got_jvm = _hit_set(scan_all_from_evidence(spark, path, cfg, granule=16 * 1024)["hits"])
    # force the Python kernel by monkeypatching availability
    import swiftbeaver_spark.jvm as jvm_mod

    saved = getattr(spark, jvm_mod._MARKER, None)
    try:
        setattr(spark, jvm_mod._MARKER, False)
        chunks = chunks_from_file(spark, path, cfg.chunk_size, cfg.overlap)
        got_py = _hit_set(scan_and_normalize(chunks, cfg))
    finally:
        setattr(spark, jvm_mod._MARKER, saved)
    assert got_jvm and got_jvm <= got_py
    gated = {ft.type_id for ft in cfg.file_types if ft.validator in ("mp3", "bmp", "ico")}
    assert {ftid for _, _, ftid in got_py - got_jvm} <= gated


def test_scan_chunks_jvm_equals_python(spark):
    from swiftbeaver_spark.chunking import chunks_from_bytes

    blob = planted_blob(7, size=150_000)
    chunks = chunks_from_bytes(spark, blob, 32 * 1024, 2048)
    assert ensure_kernel(spark)
    got_jvm = {
        (r.chunk_id, r.local_offset, r.pattern_id, r.file_type_id)
        for r in scan_chunks_jvm(chunks, DEFAULT_CONFIG).collect()
    }
    import swiftbeaver_spark.jvm as jvm_mod

    saved = getattr(spark, jvm_mod._MARKER, None)
    try:
        setattr(spark, jvm_mod._MARKER, False)
        got_py = {
            (r.chunk_id, r.local_offset, r.pattern_id, r.file_type_id)
            for r in scan_chunks(chunks, DEFAULT_CONFIG).collect()
        }
    finally:
        setattr(spark, jvm_mod._MARKER, saved)
    assert got_jvm == got_py != set()


def test_evidence_udf_reads_e01_natively(spark, tmp_path):
    """sb_scan_all on an E01 container must yield the same hits as
    on the raw image — chunk-table parse + zlib decompression + scan all
    inside the JVM, matches straddling EWF chunk boundaries included."""
    from swiftbeaver_spark.ewf import write_ewf

    assert ensure_kernel(spark)
    blob = bytearray(planted_blob(42, size=200_000))
    # plant a signature straddling an EWF chunk boundary (32 KiB chunks)
    sig = bytes.fromhex("FFD8FF")
    cs = 64 * 512
    blob[cs - 1 : cs + 2] = sig
    blob = bytes(blob)
    raw_path = str(tmp_path / "ev.raw")
    with open(raw_path, "wb") as fh:
        fh.write(blob)
    e01_path = str(tmp_path / "ev.E01")
    write_ewf(e01_path, blob)

    spec = spec_for(PATTERNS, MAX_HITS_PER_CHUNK)
    got_raw = scan_all_hits(spark, raw_path, len(blob), spec)
    got_e01 = scan_all_hits(spark, e01_path, len(blob), spec)
    assert got_e01 == got_raw != []
    assert ((cs - 1) << 16) in [h & ~0xFFFF for h in got_e01]  # boundary match found


def _minhash_both_ways(spark, rows):
    """Signatures via the JVM kernel and the numpy kernel for the same
    input rows: {doc_id: signature_tuple} for each."""
    import swiftbeaver_spark.jvm as jvm_mod
    from swiftbeaver_spark.llm.dedup import minhash_signatures

    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert ensure_kernel(spark)
    jvm = {r.doc_id: tuple(r.signature) for r in minhash_signatures(df).collect()}
    saved = getattr(spark, jvm_mod._MARKER, None)
    try:
        setattr(spark, jvm_mod._MARKER, False)
        py = {r.doc_id: tuple(r.signature) for r in minhash_signatures(df).collect()}
    finally:
        setattr(spark, jvm_mod._MARKER, saved)
    return jvm, py


def test_minhash_jvm_matches_numpy(spark):
    """The JVM minhash kernel must be BIT-exact with the numpy kernel
    (same CRC32 base, same uint64 affine wrap, same unsigned min) —
    otherwise LSH bucket assignments silently change with the kernel."""
    import random

    rng = random.Random(5)
    words = ["scan", "hash", "join", "table", "row", "WINDOW", "Agg", "data"]
    rows = [
        (i, " ".join(rng.choice(words) for _ in range(rng.randrange(3, 60))))
        for i in range(200)
    ]
    jvm, py = _minhash_both_ways(spark, rows)
    assert jvm == py and len(jvm) == 200


def test_minhash_jvm_edge_cases(spark):
    rows = [
        (1, ""),  # empty -> dropped by both kernels
        (2, "   \t\n  "),  # whitespace-only -> dropped
        (3, "short"),  # shorter than shingle_k -> one shingle
        (4, "ALL   UPPER\tCASE  text"),  # normalization parity
        (5, "héllo wörld ünïcode çafé naïve " * 4),  # multibyte codepoints
        (6, "tab\there and  double  spaces"),
        (7, None),  # null text -> dropped by both kernels
        (8, "neland nbsp separators here"),  # exotic whitespace
    ]
    jvm, py = _minhash_both_ways(spark, rows)
    assert jvm == py
    assert set(jvm) == {3, 4, 5, 6, 8}  # 1, 2, 7 dropped by both


def test_jaccard_jvm_matches_python_sets(spark):
    """sb_jaccard must be BIT-exact with the Python shingle-set verify
    (same normalize, codepoint slicing, max(n-k+1,1) floor, IEEE
    division) — the near-dup verdicts cannot depend on which engine
    verified the candidate pair."""
    import random

    from swiftbeaver_spark.jvm import ensure_kernel

    assert ensure_kernel(spark)

    def py_jaccard(a: str, b: str, k: int = 9) -> float:
        def sh(t):
            norm = " ".join(t.lower().split())
            upper = max(len(norm) - k + 1, 1)
            return {norm[i : i + k] for i in range(upper)}

        sa, sb = sh(a), sh(b)
        union = len(sa | sb)
        return len(sa & sb) / union if union else 0.0

    rng = random.Random(11)
    words = ["near", "dup", "shingle", "öä", "verify", "jaccard", "x"]
    cases = []
    for i in range(60):
        a = " ".join(rng.choice(words) for _ in range(rng.randrange(1, 40)))
        mut = a + " tail" if i % 2 else a.replace("dup", "DUP  ", 1)
        cases.append((a, mut))
    cases += [("short", "short"), ("a", "b"), ("héllo wörld", "héllo wörld x")]
    df = spark.createDataFrame(cases, "ta string, tb string")
    from pyspark.sql import functions as FF

    got = df.select(
        "ta", "tb", FF.call_udf("sb_jaccard", "ta", "tb", FF.lit(9)).alias("j")
    ).collect()
    for r in got:
        assert r["j"] == py_jaccard(r["ta"], r["tb"]), (r["ta"], r["tb"])


def test_fuzz_random_patterns_vs_naive(spark):
    """Property fuzz: arbitrary pattern sets (shared prefixes, nested,
    self-overlapping, 1-byte) over adversarial data must match the
    naive per-pattern find on every seed."""
    import random

    assert ensure_kernel(spark)
    from swiftbeaver_spark.jvm import spec_for

    for seed in range(8):
        rng = random.Random(seed)
        alphabet = bytes(range(4))  # tiny alphabet -> dense overlaps
        pats = []
        for i in range(rng.randrange(1, 8)):
            plen = rng.randrange(1, 6)
            pats.append(
                (bytes(rng.choice(alphabet) for _ in range(plen)), f"p{i}", f"t{i}")
            )
        data = bytes(rng.choice(alphabet) for _ in range(5000))
        expected = set()
        for pat, pid, ftid in pats:
            for o in find_all(data, pat):
                expected.add((o, pid, ftid))
        spec = spec_for(pats, MAX_HITS_PER_CHUNK)
        df = spark.createDataFrame([(bytearray(data),)], "data binary")
        [row] = df.select(
            F.call_udf("sb_scan_bytes", F.col("data"), F.lit(spec)).alias("h")
        ).collect()
        got = {
            (int(h) >> 16, pats[int(h) & 0xFFFF][1], pats[int(h) & 0xFFFF][2])
            for h in row["h"]
        }
        assert got == expected, f"seed {seed}"


def test_scan_plan_stays_jvm_side(spark, tmp_path):
    """The JVM fused scan's physical plan must contain no Python
    evaluation node — the whole pipeline is JVM-side."""
    blob = b"\x00" * 100_000
    path = str(tmp_path / "ev.bin")
    with open(path, "wb") as fh:
        fh.write(blob)
    import dataclasses

    from swiftbeaver_spark.fused_scan import scan_all_from_evidence

    cfg = dataclasses.replace(DEFAULT_CONFIG, chunk_size=32 * 1024, overlap=1024)
    df = scan_all_from_evidence(spark, path, cfg)["hits"]
    jexec = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = jexec.explainString(mode)
    assert "EvalPython" not in plan, plan
    assert "sb_scan_all" in plan


def test_simhash_jvm_matches_numpy(spark):
    """The JVM simhash kernel must be BIT-exact with the numpy kernel
    (crc32 + splitmix64 + bit votes), nulls and whitespace included."""
    import random

    import swiftbeaver_spark.jvm as jvm_mod
    from swiftbeaver_spark.llm.dedup import simhash

    rng = random.Random(17)
    words = ["scan", "hash", "join", "TABLE", "row", "wïndow", "agg"]
    rows = [
        (i, " ".join(rng.choice(words) for _ in range(rng.randrange(0, 40))))
        for i in range(150)
    ] + [(900, None), (901, ""), (902, "one one one two")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert ensure_kernel(spark)
    jvm = {r.doc_id: r.simhash for r in simhash(df).collect()}
    saved = getattr(spark, jvm_mod._MARKER, None)
    try:
        setattr(spark, jvm_mod._MARKER, False)
        py = {r.doc_id: r.simhash for r in simhash(df).collect()}
    finally:
        setattr(spark, jvm_mod._MARKER, saved)
    assert jvm == py and len(jvm) == 153
    assert jvm[900] == 0 and jvm[901] == 0


def test_vec_kernels_match_catalyst_folds(spark):
    """sb_dot / sb_sqdists / sb_dots / sb_adc must be bit-exact twins
    of the Catalyst zip_with/aggregate folds they replace (same IEEE
    order, same null algebra: null array / null element / dim mismatch
    -> null (per entry for the table kernels), empty arrays -> the 0.0
    init)."""
    from swiftbeaver_spark.llm.similarity import _centroid_lit, _centroid_spec

    assert ensure_kernel(spark)
    rows = [
        ([1.0, 2.0, 3.0], [4.0, 5.0, 6.0]),
        ([0.1] * 64, [0.3] * 64),
        ([], []),
        ([1.0, 2.0], [1.0, 2.0, 3.0]),  # dim mismatch -> null
        (None, [1.0]),
        ([1.0, None, 3.0], [1.0, 2.0, 3.0]),  # null element -> null
    ]
    df = spark.createDataFrame(rows, "a array<double>, b array<double>")
    cat_dot = F.aggregate(
        F.zip_with("a", "b", lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v
    )
    for r in df.select(F.call_udf("sb_dot", "a", "b").alias("j"), cat_dot.alias("c")).collect():
        assert r.j == r.c or (r.j is None and r.c is None)

    cents = [
        [1.0, 0.0, 2.5],
        [0.5, 0.5, 0.5],
        [-1.0, 2.0, 1e-17],
        [0.1, -0.30000000000000004, 123456789.123456],
    ]
    cl = _centroid_lit(cents)
    spec = F.lit(_centroid_spec(cents))
    cat_sq = F.transform(
        cl,
        lambda c: F.aggregate(
            F.zip_with("a", c, lambda v, cc: (v - cc) * (v - cc)),
            F.lit(0.0),
            lambda s, x: s + x,
        ),
    )
    cat_dots = F.transform(
        cl,
        lambda c: F.aggregate(
            F.zip_with("a", c, lambda v, cc: v * cc), F.lit(0.0), lambda s, x: s + x
        ),
    )
    vdf = spark.createDataFrame(
        [([1.0, 2.0, 3.0],), ([0.1, 0.2, 0.30000000000000004],), (None,),
         ([1.0, None, 2.0],), ([1.0, 2.0],)],
        "a array<double>",
    )
    out = vdf.select(
        F.call_udf("sb_sqdists", "a", spec).alias("js"), cat_sq.alias("cs"),
        F.call_udf("sb_dots", "a", spec).alias("jd"), cat_dots.alias("cd"),
    ).collect()
    for r in out:
        assert list(r.js or []) == list(r.cs or [])
        assert list(r.jd or []) == list(r.cd or [])

    lut = [float(i) * 1.25 for i in range(8)]
    cdf = spark.createDataFrame(
        [([0, 3],), ([1, 2],), ([3, 3],), (None,), ([None, 1],)], "code array<int>"
    ).withColumn("_lut", F.array(*[F.lit(x) for x in lut]))
    cat_adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(1)),
        F.lit(0.0),
        lambda s, j: s
        + F.element_at(
            F.col("_lut"), (j * 4 + F.element_at(F.col("code"), j + 1) + 1).cast("int")
        ),
    )
    for r in cdf.select(
        F.call_udf("sb_adc", "_lut", "code", F.lit(4)).alias("j"), cat_adc.alias("c")
    ).collect():
        assert r.j == r.c or (r.j is None and r.c is None)


def test_ann_results_identical_kernel_on_off(spark, monkeypatch):
    """End-to-end: IVF cell assignment + PQ encode + brute-force top-k
    return IDENTICAL rows with the vec kernels on and off (the
    SPARK_GRAFT_NO_VEC_KERNEL escape hatch is also the JRE-only path)."""
    import random

    from swiftbeaver_spark.llm.similarity import (
        brute_force_topk,
        ivf_cell,
        md5_centroids,
        pq_encode,
    )

    assert ensure_kernel(spark)
    rng = random.Random(23)
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(200)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    cents = md5_centroids(8, 16, tag="kerneltest")
    books = [md5_centroids(4, 4, tag=f"bk{j}") for j in range(4)]
    queries = df.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )

    def run():
        cell = {
            r.vec_id: r.c
            for r in df.select(
                "vec_id", ivf_cell(F.col("embedding"), cents, round_dp=6).alias("c")
            ).collect()
        }
        codes = {
            r.vec_id: list(r.pq_code)
            for r in pq_encode(df, books, round_dp=6).select("vec_id", "pq_code").collect()
        }
        topk = sorted(
            map(tuple, brute_force_topk(df, queries, k=5).collect())
        )
        return cell, codes, topk

    want = run()
    monkeypatch.setenv("SPARK_GRAFT_NO_VEC_KERNEL", "1")
    got = run()
    assert got == want
