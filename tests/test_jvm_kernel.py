"""JVM kernel equivalence: sb_scan_all_bytes / sb_scan_all must produce
exactly the naive per-pattern find's hits (overlapping matches,
shared-prefix patterns, window-straddling matches, chunk geometry), and
the minhash / simhash / Jaccard / vector kernels must be bit-exact with
their oracles in tests/oracles/.

The JVM kernel is required (jvm.ensure_kernel raises when it cannot
build or register); the build-failure path is pinned here too.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from swiftbeaver_spark.config import DEFAULT_CONFIG
from swiftbeaver_spark.fused_scan import scan_all_from_chunks
from swiftbeaver_spark.jvm import ensure_kernel, spec_for
from swiftbeaver_spark.scanner import MAX_HITS_PER_CHUNK, compile_patterns

from tests.fixtures import ALL_FIXTURES, bytes_scan, scan_all_hits
from tests.oracles import dedup as dedup_oracle
from tests.oracles import vec as vec_oracle
from tests.oracles.scan import blob_hits, chunk_hits, find_all, normalized_hits

PATTERNS = compile_patterns(DEFAULT_CONFIG)


def naive(blob: bytes) -> set[tuple[int, str, str]]:
    return blob_hits(blob, PATTERNS)


def planted_blob(seed: int, size: int = 200_000) -> bytes:
    rng = random.Random(seed)
    blob = bytearray(rng.randbytes(size - 50_000)) + bytearray(50_000)
    for name, (b, _, _, _) in ALL_FIXTURES.items():
        pos = rng.randrange(0, size - 20_000)
        blob[pos : pos + len(b)] = b
    return bytes(blob)


def jvm_scan_bytes(spark, blob: bytes, patterns=PATTERNS) -> set[tuple[int, str, str]]:
    """The hit leg of ONE sb_scan_all_bytes call over the whole blob."""
    spec = spec_for(patterns, MAX_HITS_PER_CHUNK)
    df = spark.createDataFrame(
        [(0, len(blob), bytearray(blob))], "start long, valid_length long, data binary"
    )
    [row] = bytes_scan(df, spec).collect()
    return {
        (int(h) >> 16, patterns[int(h) & 0xFFFF][1], patterns[int(h) & 0xFFFF][2])
        for h in row.r.hits
    }


def test_kernel_registers(spark):
    assert ensure_kernel(spark) is True


def test_broken_source_build_raises(tmp_path, monkeypatch):
    """A failed javac build is loud: kernel_jar raises RuntimeError
    carrying javac's own `error:` diagnostics instead of degrading."""
    import shutil

    import swiftbeaver_spark.jvm as jvm_mod

    java_dir = tmp_path / "java"
    shutil.copytree(jvm_mod._JAVA_DIR + "/src", java_dir / "src")
    broken = java_dir / "src" / "sbspark" / "Ac.java"
    broken.write_text(broken.read_text() + "\nthis is not java\n")
    monkeypatch.setattr(jvm_mod, "_JAVA_DIR", str(java_dir))
    with pytest.raises(RuntimeError, match="error:"):
        jvm_mod.kernel_jar()
    assert not (java_dir / jvm_mod._JAR_NAME).exists()


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


def test_bytes_udf_zero_region_and_pattern_at_end(spark):
    assert jvm_scan_bytes(spark, b"\x00" * 100_000) == set()
    blob = b"\x00" * 100 + bytes.fromhex("FFD8FF")
    got = jvm_scan_bytes(spark, blob)
    assert got == naive(blob)
    assert {o for (o, pid, _) in got if pid == "jpeg_soi"} == {100}


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
    """Full fused operator: the one-pass JVM scan's hits == the naive
    find over the chunk table's bytes on the same chunk geometry
    (including overlap dedup at sub-chunk and parent edges), except the
    loose-signature hits the scan-time gates drop."""
    import dataclasses

    from tests.oracles.chunk_run import chunks_from_file
    from swiftbeaver_spark.fused_scan import scan_all_from_evidence

    blob = planted_blob(99, size=300_000)
    path = str(tmp_path / "ev.bin")
    with open(path, "wb") as fh:
        fh.write(blob)
    cfg = dataclasses.replace(DEFAULT_CONFIG, chunk_size=64 * 1024, overlap=4096)
    got_jvm = _hit_set(scan_all_from_evidence(spark, path, cfg, granule=16 * 1024)["hits"])
    chunks = chunks_from_file(spark, path, cfg.chunk_size, cfg.overlap)
    rows = chunks.select("start", "valid_length", "data").collect()
    want = normalized_hits(rows, compile_patterns(cfg))
    assert _hit_set(scan_all_from_chunks(chunks, cfg)["hits"]) == want
    assert got_jvm and got_jvm <= want
    gated = {ft.type_id for ft in cfg.file_types if ft.validator in ("mp3", "bmp", "ico")}
    assert {ftid for _, _, ftid in want - got_jvm} <= gated


def test_scan_chunks_jvm_equals_python(spark):
    """Chunk-table scan: the bytes entry's raw per-row hits (overlap
    tails included) equal the naive find per row, and the hits table
    keeps exactly the owned ones."""
    from tests.oracles.chunk_run import chunks_from_bytes

    blob = planted_blob(7, size=150_000)
    chunks = chunks_from_bytes(spark, blob, 32 * 1024, 2048)
    spec = spec_for(PATTERNS, MAX_HITS_PER_CHUNK)
    got_jvm = {
        (r.start, int(h) >> 16, *PATTERNS[int(h) & 0xFFFF][1:])
        for r in bytes_scan(chunks, spec).collect()
        for h in r.r.hits
    }
    want = chunk_hits(chunks.select("start", "data").collect(), PATTERNS)
    assert got_jvm == want != set()
    rows = chunks.select("start", "valid_length", "data").collect()
    hits = scan_all_from_chunks(chunks, DEFAULT_CONFIG)["hits"]
    assert _hit_set(hits) == normalized_hits(rows, PATTERNS) != set()


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
    """Signatures via the JVM kernel and the numpy oracle for the same
    input rows: {doc_id: signature_tuple} for each."""
    from swiftbeaver_spark.llm.dedup import minhash_signatures

    df = spark.createDataFrame(rows, "doc_id long, text string")
    jvm = {r.doc_id: tuple(r.signature) for r in minhash_signatures(df).collect()}
    py = {
        did: sig
        for did, text in rows
        if (sig := dedup_oracle.minhash_signature(text)) is not None
    }
    return jvm, py


def test_minhash_jvm_matches_numpy(spark):
    """The JVM minhash kernel must be BIT-exact with the numpy oracle
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
        assert jvm_scan_bytes(spark, data, pats) == expected, f"seed {seed}"


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
    """The JVM simhash kernel must be BIT-exact with the numpy oracle
    (crc32 + splitmix64 + bit votes), nulls and whitespace included."""
    import random

    from swiftbeaver_spark.llm.dedup import simhash

    rng = random.Random(17)
    words = ["scan", "hash", "join", "TABLE", "row", "wïndow", "agg"]
    rows = [
        (i, " ".join(rng.choice(words) for _ in range(rng.randrange(0, 40))))
        for i in range(150)
    ] + [(900, None), (901, ""), (902, "one one one two")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    jvm = {r.doc_id: r.simhash for r in simhash(df).collect()}
    py = {did: dedup_oracle.simhash(text) for did, text in rows}
    assert jvm == py and len(jvm) == 153
    assert jvm[900] == 0 and jvm[901] == 0


def test_vec_kernels_match_catalyst_folds(spark):
    """sb_dot / sb_sqdists / sb_dots / sb_adc must be bit-exact twins
    of the Catalyst zip_with/aggregate folds in tests/oracles/vec.py
    (same IEEE order, same null algebra: null array / null element /
    dim mismatch -> null (per entry for the table kernels), empty
    arrays -> the 0.0 init)."""
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
    cat_dot = vec_oracle.dot("a", "b")
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
    vdf = spark.createDataFrame(
        [([1.0, 2.0, 3.0],), ([0.1, 0.2, 0.30000000000000004],), (None,),
         ([1.0, None, 2.0],), ([1.0, 2.0],)],
        "a array<double>",
    )
    out = vdf.select(
        F.call_udf("sb_sqdists", "a", spec).alias("js"),
        vec_oracle.sq_dists("a", cl).alias("cs"),
        F.call_udf("sb_dots", "a", spec).alias("jd"),
        vec_oracle.dots("a", cl).alias("cd"),
    ).collect()
    for r in out:
        assert list(r.js or []) == list(r.cs or [])
        assert list(r.jd or []) == list(r.cd or [])

    lut = [float(i) * 1.25 for i in range(8)]
    cdf = spark.createDataFrame(
        [([0, 3],), ([1, 2],), ([3, 3],), (None,), ([None, 1],)], "code array<int>"
    ).withColumn("_lut", F.array(*[F.lit(x) for x in lut]))
    for r in cdf.select(
        F.call_udf("sb_adc", "_lut", "code", F.lit(4)).alias("j"),
        vec_oracle.adc("_lut", "code", 2, 4).alias("c"),
    ).collect():
        assert r.j == r.c or (r.j is None and r.c is None)
