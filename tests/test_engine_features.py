"""Engine features: checkpoint/resume, sinks, limits."""

from __future__ import annotations

import dataclasses
import os

import pytest

from swiftbeaver_spark.checkpoint import CheckpointState
from swiftbeaver_spark.config import DEFAULT_CONFIG
from swiftbeaver_spark.engine import Engine, make_run_id, write_tables

from tests.fixtures import ALL_FIXTURES, insert_bytes
from tests.oracles.chunk_run import chunk_run, summary_row

CFG = dataclasses.replace(
    DEFAULT_CONFIG,
    chunk_size=16 * 1024,
    overlap=4096,
    file_types=tuple(
        dataclasses.replace(ft, min_size=5)
        for ft in DEFAULT_CONFIG.file_types
        if ft.type_id in ("jpeg", "png", "sqlite")
    ),
)


def _evidence_with_jpegs(n: int, spacing: int = 16 * 1024) -> tuple[bytes, list[int]]:
    blob = ALL_FIXTURES["jpeg"][0]
    buf = bytearray(b"\x00" * (spacing * (n + 1)))
    offsets = []
    for i in range(n):
        off = spacing * i + 512
        insert_bytes(buf, off, blob)
        offsets.append(off)
    return bytes(buf), offsets


def test_checkpoint_roundtrip(tmp_path):
    path = str(tmp_path / "cp.json")
    st = CheckpointState(
        chunk_size=1024, overlap=64, next_offset=4096, evidence_len=65536, run_id="r1"
    )
    st.save(path)
    loaded = CheckpointState.load(path)
    assert loaded is not None
    assert (loaded.chunk_size, loaded.overlap, loaded.next_offset) == (1024, 64, 4096)
    assert loaded.created_at  # stamped on save
    loaded.validate(1024, 64, 65536)
    with pytest.raises(ValueError):
        loaded.validate(2048, 64, 65536)
    with pytest.raises(ValueError):
        loaded.validate(1024, 64, 1)
    assert CheckpointState.load(str(tmp_path / "missing.json")) is None


def test_resume_skips_scanned_chunks(spark, tmp_path):
    """Engine.run(resume_from=) scans, carves and counts only the parent
    chunks starting at or after the checkpoint offset; a mid-chunk
    offset rounds up to the next chunk start."""
    evidence, offsets = _evidence_with_jpegs(4)
    path = str(tmp_path / "ev.raw")
    with open(path, "wb") as fh:
        fh.write(evidence)
    engine = Engine(spark, CFG)
    resume_offset = CFG.chunk_size * 2
    runs = [
        engine.run(evidence_path=path),
        engine.run(evidence_path=path, resume_from=resume_offset),
        engine.run(evidence_path=path, resume_from=CFG.chunk_size + 1),
    ]
    try:
        full, resumed, mid = (
            {h.global_offset for h in r["hits"].collect()} for r in runs
        )
        assert full == set(offsets)
        assert resumed == mid == {o for o in offsets if o >= resume_offset}
        carved = {c.global_start for c in runs[1]["carved_files"].collect()}
        assert carved == resumed
        summary = write_tables(runs[1], os.devnull, fmt="dryrun")
        assert summary["bytes_scanned"] == len(evidence) - resume_offset
        # chunks 2, 3 and 4 of five; the mid-chunk resume skips chunk 1
        assert summary["chunks_processed"] == 3
        assert (runs[2].bytes_scanned, runs[2].chunks_processed) == (
            summary["bytes_scanned"],
            3,
        )
        assert (runs[0].bytes_scanned, runs[0].chunks_processed) == (len(evidence), 5)
    finally:
        for r in runs:
            r.unpersist()


def test_run_unpersist_frees_caches(spark, tmp_path):
    """RunResult.unpersist() frees every cache a run made: with
    cache_intermediates and sqlite among the types, the raw scan frame,
    the stage frames, the carve and the browser parse frame."""
    evidence, _ = _evidence_with_jpegs(2)
    path = str(tmp_path / "ev.raw")
    with open(path, "wb") as fh:
        fh.write(evidence)
    cfg = dataclasses.replace(
        CFG, enable_string_scan=True, enable_entropy_detection=True
    )
    # earlier tests' localCheckpoint blocks are persistent RDDs too:
    # count only the ones this run adds
    rdds = spark.sparkContext._jsc.sc().getPersistentRDDs
    before = rdds().size()
    res = Engine(spark, cfg).run(evidence_path=path, cache_intermediates=True)
    for df in res.tables.values():  # materialize every cache
        df.count()
    assert res["carved_files"].count() == 2
    stages = ("hits", "carved_files", "string_artefacts", "entropy_regions")
    assert all(res[name].is_cached for name in stages)
    # raw frame + four stage frames + the browser parse frame
    assert len(res.persisted) == 6 and all(df.is_cached for df in res.persisted)
    assert rdds().size() >= before + 6
    res.unpersist()
    assert not any(df.is_cached for df in res.tables.values())
    assert rdds().size() == before


@pytest.mark.parametrize("mode", ["evidence_bytes", "chunk_join"])
def test_chunk_table_run_unpersist_frees_caches(spark, tmp_path, mode):
    """RunResult.unpersist() frees every cache a chunk-table run made
    (the chunk_run oracle, with its chunk table built from in-memory
    bytes or fetched from the file): the raw scan frame AND the chunk
    cache."""
    evidence, _ = _evidence_with_jpegs(2)
    path = str(tmp_path / "ev.raw")
    with open(path, "wb") as fh:
        fh.write(evidence)
    data = evidence if mode == "evidence_bytes" else None
    # earlier tests' localCheckpoint blocks are persistent RDDs too:
    # count only the ones this run adds
    rdds = spark.sparkContext._jsc.sc().getPersistentRDDs
    before = rdds().size()
    res = chunk_run(spark, path, CFG, data)
    assert res["carved_files"].count() == 2
    chunks = res.persisted[1]
    assert "data" in chunks.columns and chunks.is_cached
    assert rdds().size() >= before + 2  # at least the raw frame and the chunks
    res.unpersist()
    assert not any(df.is_cached for df in res.tables.values())
    assert rdds().size() == before


def test_write_tables_all_formats(spark, tmp_path):
    evidence, offsets = _evidence_with_jpegs(2)
    path = str(tmp_path / "ev.raw")
    with open(path, "wb") as fh:
        fh.write(evidence)
    engine = Engine(spark, CFG)
    result = engine.run(evidence_path=path)
    for fmt in ("parquet", "jsonl", "csv"):
        out = str(tmp_path / fmt)
        write_tables(result, out, fmt=fmt, run_id="testrun")
        assert os.path.isdir(f"{out}/carved_files")
        assert os.path.isdir(f"{out}/run_summary")
    carved = spark.read.parquet(str(tmp_path / "parquet/carved_files"))
    rows = carved.collect()
    assert {r.global_start for r in rows} == set(offsets)
    assert all(r.run_id == "testrun" for r in rows)
    # csv flattened the errors array into a single error column
    csv = spark.read.option("header", True).csv(str(tmp_path / "csv/carved_files"))
    assert "error" in csv.columns and "errors" not in csv.columns


def test_run_id_format():
    rid = make_run_id()
    date, rand = rid.split("_")
    assert len(date) == 16 and date.endswith("Z") and "T" in date
    assert len(rand) == 16
    int(rand, 16)


def test_max_files_limit(spark, tmp_path):
    evidence, offsets = _evidence_with_jpegs(5)
    path = str(tmp_path / "ev.raw")
    with open(path, "wb") as fh:
        fh.write(evidence)
    cfg = dataclasses.replace(CFG, max_files=2)
    result = Engine(spark, cfg).run(evidence_path=path)
    carved = result["carved_files"].collect()
    assert len(carved) == 2
    # deterministic: the earliest offsets win
    assert {c.global_start for c in carved} == set(sorted(offsets)[:2])


def test_with_types_filter():
    cfg = DEFAULT_CONFIG.with_types(["jpeg", "docx", "xls"])
    ids = {ft.type_id for ft in cfg.file_types}
    assert ids == {"jpeg", "zip", "ole"}
    assert cfg.zip_allowed_kinds == ("docx",)
    assert cfg.ole_allowed_kinds == ("xls",)
    with pytest.raises(ValueError):
        DEFAULT_CONFIG.with_types(["nope"])


def test_sessionize_stream_stateful(spark, tmp_path):
    """Streaming sessionizer (native session_window): gap-based sessions
    split on an in-stream gap and emit once a later batch advances the
    watermark past their last event + gap. A gap of exactly 30 min
    merges; 30 min + 1 us splits."""
    import datetime as dt

    from swiftbeaver_spark.streaming import sessionize_stream

    def ts(minute):
        return dt.datetime(2026, 1, 1, minute // 60, minute % 60)

    src = str(tmp_path / "events")
    os.makedirs(src)
    # batch 1: user 1 has two sessions split by a 40-min gap; user 2
    # has one; users 3/4 sit on the gap boundary
    spark.createDataFrame(
        [
            (1, ts(0)), (1, ts(5)), (1, ts(10)),   # session A: 0-10, 3 events
            (1, ts(50)), (1, ts(55)),              # session B: 50-55
            (2, ts(7)),                            # session C: 7-7
            (3, ts(100)), (3, ts(130)),            # exactly gap: one session
            (4, ts(200)),                          # gap + 1 us: two sessions
            (4, ts(230) + dt.timedelta(microseconds=1)),
        ],
        "user_id long, ts timestamp",
    ).coalesce(1).write.mode("append").parquet(src)
    # batch 2: far-future events push the watermark past every batch-1
    # session's last event + gap -> they all emit
    spark.createDataFrame(
        [(1, ts(600)), (2, ts(600))], "user_id long, ts timestamp"
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sessions = sessionize_stream(stream, gap_minutes=30, watermark="10 minutes")
    out = str(tmp_path / "sessions")
    q = (
        sessions.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.session_start.minute + 60 * r.session_start.hour,
         r.session_end.minute + 60 * r.session_end.hour, r.n_events)
        for r in spark.read.parquet(out).collect()
    }
    assert (1, 0, 10, 3) in got          # split by an in-batch gap
    assert (1, 50, 55, 2) in got         # emitted once the watermark passed
    assert (2, 7, 7, 1) in got
    # exact gap merges, and session_end is the last event (not
    # 130 + gap); a gap exceeded by 1 us splits
    assert {g for g in got if g[0] in (3, 4)} == {
        (3, 100, 130, 2), (4, 200, 200, 1), (4, 230, 230, 1)
    }


def test_sessionize_stream_rocksdb_state_store(spark, tmp_path):
    """VERDICT r6 item 6: the streaming sessionizer (native
    session_window state) must be semantics-identical under the RocksDB
    state-store provider (the 100 TB
    configuration — state spills to local disk instead of living in
    executor heap; session.get_spark(rocksdb_state=True) /
    SPARK_GRAFT_ROCKSDB=1 wire it at session build, and because it is
    a plain SQL conf it can also flip per query, as here)."""
    import datetime as dt

    from swiftbeaver_spark.session import ROCKSDB_PROVIDER
    from swiftbeaver_spark.streaming import sessionize_stream

    def ts(minute):
        return dt.datetime(2026, 1, 1, minute // 60, minute % 60)

    src = str(tmp_path / "events")
    os.makedirs(src)
    spark.createDataFrame(
        [
            (1, ts(0)), (1, ts(5)), (1, ts(10)),
            (1, ts(50)), (1, ts(55)),
            (2, ts(7)),
            (3, ts(100)), (3, ts(130)),
            (4, ts(200)), (4, ts(230) + dt.timedelta(microseconds=1)),
        ],
        "user_id long, ts timestamp",
    ).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(
        [(1, ts(600)), (2, ts(600))], "user_id long, ts timestamp"
    ).coalesce(1).write.mode("append").parquet(src)

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, ROCKSDB_PROVIDER)
    try:
        stream = (
            spark.readStream.schema("user_id long, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        sessions = sessionize_stream(stream, gap_minutes=30, watermark="10 minutes")
        out = str(tmp_path / "sessions")
        q = (
            sessions.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # the provider actually engaged: the RocksDB store publishes
        # rocksdb* custom metrics on the state operator (the HDFS store
        # publishes none of these)
        ops = (q.lastProgress or {}).get("stateOperators") or [{}]
        metrics = ops[0].get("customMetrics", {})
        assert any(k.startswith("rocksdb") for k in metrics), metrics
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    got = {
        (r.user_id, r.session_start.minute + 60 * r.session_start.hour,
         r.session_end.minute + 60 * r.session_end.hour, r.n_events)
        for r in spark.read.parquet(out).collect()
    }
    # identical session set to the default-provider run above
    assert (1, 0, 10, 3) in got
    assert (1, 50, 55, 2) in got
    assert (2, 7, 7, 1) in got
    assert {g for g in got if g[0] in (3, 4)} == {
        (3, 100, 130, 2), (4, 200, 200, 1), (4, 230, 230, 1)
    }
    assert len({g for g in got if g[1] != 600}) >= 3


def test_spread_partition_count_memo(spark):
    """spread's partition-count probe memoizes by analyzed-plan
    semanticHash: two FRESH plan objects for the same query share one
    .rdd replan, and the memoized count steers the same repartition
    decision the direct probe would."""
    from swiftbeaver_spark.parallel import _cached_partition_count, spread

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    direct = docs.rdd.getNumPartitions()
    n1 = _cached_partition_count(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
            "doc_id", "text"
        )
    )
    memo = spark._sb_partition_count_memo
    assert n1 == direct
    before = dict(memo)
    n2 = _cached_partition_count(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
            "doc_id", "text"
        )
    )
    assert n2 == direct
    assert dict(memo) == before  # second fresh plan hit the memo
    # the spread decision matches the direct-probe decision
    target = spark.sparkContext.defaultParallelism
    out = spread(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
            "doc_id", "text"
        )
    )
    want_repartition = direct < target
    assert ("Repartition" in out._jdf.queryExecution().logical().toString()) == (
        want_repartition
    )


def test_run_cache_intermediates_same_tables(spark, tmp_path):
    """cache_intermediates must change evaluation count, never results:
    every table identical to the uncached run, and the stage frames
    really are persisted (storage level set)."""
    import dataclasses

    from tests.fixtures import mk_jpeg
    from tests.test_pipeline import TEST_CFG
    from swiftbeaver_spark.engine import Engine

    evidence = bytearray(b"\x00" * 4096)
    blob = mk_jpeg()
    evidence[1024 : 1024 + len(blob)] = blob
    path = str(tmp_path / "ev.raw")
    with open(path, "wb") as fh:
        fh.write(bytes(evidence))
    cfg = dataclasses.replace(
        TEST_CFG,
        file_types=tuple(ft for ft in TEST_CFG.file_types if ft.type_id == "jpeg"),
        enable_string_scan=True,
        enable_entropy_detection=True,
    )
    eng = Engine(spark, cfg)
    plain = eng.run(evidence_path=path)
    cached = eng.run(evidence_path=path, cache_intermediates=True)
    try:
        for name in plain.tables:
            a = sorted(map(tuple, plain[name].collect()))
            b = sorted(map(tuple, cached[name].collect()))
            assert a == b, name
        # every tracked frame is persisted with a disk component (the
        # stage caches and the raw scan frame are all MEMORY_AND_DISK)
        assert cached.persisted and all(
            df.storageLevel.useDisk for df in cached.persisted
        )
        assert any(df.storageLevel.useMemory for df in cached.persisted)
        # the handed-out stage tables are the persisted frames themselves
        assert all(
            cached[name].is_cached
            for name in ("hits", "carved_files", "string_artefacts", "entropy_regions")
        )
        # (no negative assertion on `plain`: Spark's cache manager
        # matches by LOGICAL PLAN equality, so the logically-identical
        # uncached frame reports — and reuses — the same cache entry)
    finally:
        for name in ("hits", "carved_files", "string_spans",
                     "string_artefacts", "entropy_regions"):
            if name in cached.tables:
                cached[name].unpersist()


def test_observed_summary_matches_run_summary(spark, tmp_path):
    """The run_summary row write_tables returns (built from its own
    write counts and the run's driver-side scan counters) equals the
    chunk-table oracle's row (summed chunk table, one count() per
    table) and the row it wrote; and the cached-run unpersist() helper
    frees the tracked frames."""
    import dataclasses

    from tests.fixtures import mk_jpeg
    from tests.test_pipeline import TEST_CFG
    from swiftbeaver_spark.engine import Engine, write_tables

    evidence = bytearray(b"\x00" * 4096)
    evidence[100:130] = b"text with https://example.com "
    blob = mk_jpeg()
    evidence[1024 : 1024 + len(blob)] = blob
    path = str(tmp_path / "ev.raw")
    with open(path, "wb") as fh:
        fh.write(bytes(evidence))
    cfg = dataclasses.replace(
        TEST_CFG,
        file_types=tuple(ft for ft in TEST_CFG.file_types if ft.type_id == "jpeg"),
        enable_string_scan=True,
    )
    oracle = chunk_run(spark, path, cfg)
    try:
        expected = summary_row(oracle)
    finally:
        oracle.unpersist()
    assert expected["bytes_scanned"] == len(evidence)
    assert expected["hits_found"] >= 1 and expected["string_spans"] >= 1
    run = Engine(spark, cfg).run(evidence_path=path, cache_intermediates=True)
    out = str(tmp_path / "out")
    try:
        written = write_tables(run, out, run_id="r1")
        assert written == expected
    finally:
        run.unpersist()
    assert not run.persisted
    got = spark.read.parquet(f"{out}/run_summary").drop("run_id").collect()
    assert [r.asDict() for r in got] == [expected]


def test_write_tables_summary_immune_to_partial_predrive(spark, tmp_path):
    """ADVICE r10 medium: a partial pre-drive between run() and
    write_tables (take/limit short-circuits the scan) must not change
    the run_summary row write_tables writes — it builds the row from
    row counts its own write actions produced. The expected row is the
    chunk-table oracle's (summed chunk table, one count() per table)."""
    import dataclasses

    from tests.fixtures import mk_jpeg
    from tests.test_pipeline import TEST_CFG
    from swiftbeaver_spark.engine import Engine, write_tables

    evidence = bytearray(b"\x00" * (1 << 16))
    blob = mk_jpeg()
    for off in (1024, 8192, 16384, 32768):
        evidence[off : off + len(blob)] = blob
    path = str(tmp_path / "ev.raw")
    with open(path, "wb") as fh:
        fh.write(bytes(evidence))
    cfg = dataclasses.replace(
        TEST_CFG,
        chunk_size=4096,
        overlap=512,
        file_types=tuple(ft for ft in TEST_CFG.file_types if ft.type_id == "jpeg"),
    )
    oracle = chunk_run(spark, path, cfg)
    try:
        expected = summary_row(oracle)
    finally:
        oracle.unpersist()
    assert expected["hits_found"] == 4 and expected["chunks_processed"] == 16
    run = Engine(spark, cfg).run(evidence_path=path)
    # poison: limit(1) short-circuits -> a count taken from this drive
    # would hold however many rows the first tasks saw
    assert len(run["hits"].take(1)) == 1
    out = str(tmp_path / "out")
    write_tables(run, out, fmt="parquet", run_id="poisoned")
    got = spark.read.parquet(f"{out}/run_summary").drop("run_id").collect()[0].asDict()
    assert got == expected
