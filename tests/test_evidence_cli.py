"""Evidence provenance helpers + CLI end-to-end."""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

from swiftbeaver_spark.evidence import evidence_sha256_local

from tests.fixtures import ALL_FIXTURES, convert_ewf_to_raw, insert_bytes, verify_against_manifest


def test_evidence_sha256_local(tmp_path):
    data = bytes(range(256)) * 500
    p = str(tmp_path / "ev.bin")
    with open(p, "wb") as fh:
        fh.write(data)
    assert evidence_sha256_local(p) == hashlib.sha256(data).hexdigest()


def test_verify_against_manifest(spark):
    carved = spark.createDataFrame(
        [(100, 50, "aa"), (200, 60, "bb")],
        "global_start LONG, size LONG, sha256 STRING",
    )
    manifest = spark.createDataFrame(
        [(100, 50, "aa", "f1"), (300, 10, "cc", "f2")],
        "offset LONG, size LONG, sha256 STRING, name STRING",
    )
    rows = {r.name: r.recovered for r in verify_against_manifest(carved, manifest).collect()}
    assert rows == {"f1": True, "f2": False}


def test_ewf_convert_missing_file_raises():
    with pytest.raises(FileNotFoundError):
        convert_ewf_to_raw("/nonexistent.E01", "/tmp/out.raw")


def _cli(args: list[str]) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "-m", "swiftbeaver_spark", *args],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )


@pytest.mark.slow
def test_cli_end_to_end(tmp_path):
    blob = ALL_FIXTURES["jpeg"][0]
    buf = bytearray(b"\x00" * 65536)
    insert_bytes(buf, 4096, blob)
    ev = str(tmp_path / "ev.raw")
    with open(ev, "wb") as fh:
        fh.write(bytes(buf))
    out = str(tmp_path / "out")
    cp = str(tmp_path / "cp.json")

    def run_cli():
        return _cli(
            [
                "--input", ev, "--output", out,
                "--types", "jpeg", "--chunk-size", "16384", "--overlap", "4096",
                "--format", "parquet", "--master", "local[2]",
                "--evidence-sha256", "--checkpoint", cp,
            ]
        )

    proc = run_cli()
    assert proc.returncode == 0, proc.stderr[-2000:]
    report = json.loads(proc.stdout.strip().splitlines()[-1])
    assert report["files_carved"] == 1
    assert report["bytes_scanned"] == 65536
    assert report["evidence_sha256"] == hashlib.sha256(bytes(buf)).hexdigest()
    assert json.load(open(cp))["next_offset"] == 65536

    # re-running over the completed checkpoint is a no-op: it must not
    # overwrite the finished run's tables with an empty resume
    proc = run_cli()
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "checkpoint complete, nothing to resume" in proc.stderr
    assert pq.read_table(os.path.join(out, "carved_files")).num_rows == 1


@pytest.mark.slow
def test_cli_resume_from_partial_checkpoint(tmp_path):
    """A checkpoint at 2 of 4 chunks: the resumed run writes the same
    table set as a fresh run, carves only the files at or after the
    offset and scans exactly the rest of the evidence."""
    from swiftbeaver_spark.checkpoint import CheckpointState

    blob = ALL_FIXTURES["jpeg"][0]
    buf = bytearray(b"\x00" * 65536)
    insert_bytes(buf, 4096, blob)  # chunk 0: already scanned
    insert_bytes(buf, 40000, blob)  # chunk 2: after the offset
    buf[20000:20040] = b"mail bob@example.org https://example.com"
    buf[50000:50040] = b"mail eve@example.org https://example.net"
    ev = str(tmp_path / "ev.raw")
    with open(ev, "wb") as fh:
        fh.write(bytes(buf))
    offset = 2 * 16384
    cp = str(tmp_path / "cp.json")
    CheckpointState(
        chunk_size=16384, overlap=4096, next_offset=offset,
        evidence_len=len(buf), run_id="partial",
    ).save(cp)
    common = [
        "--input", ev, "--types", "jpeg,sqlite", "--chunk-size", "16384",
        "--overlap", "4096", "--master", "local[2]",
        "--enable-string-scan", "--enable-entropy",
    ]
    fresh_out, resumed_out = str(tmp_path / "fresh"), str(tmp_path / "resumed")
    fresh = _cli([*common, "--output", fresh_out])
    resumed = _cli([*common, "--output", resumed_out, "--checkpoint", cp])
    for proc in (fresh, resumed):
        assert proc.returncode == 0, proc.stderr[-2000:]
    assert f"resuming from offset {offset}" in resumed.stderr
    tables = sorted(os.listdir(fresh_out))
    assert "string_artefacts" in tables and "browser_history" in tables
    assert sorted(os.listdir(resumed_out)) == tables
    carved = pq.read_table(os.path.join(resumed_out, "carved_files")).column("global_start")
    assert carved.to_pylist() == [40000]
    arts = pq.read_table(os.path.join(resumed_out, "string_artefacts")).column("content")
    assert sorted(arts.to_pylist()) == ["eve@example.org", "https://example.net"]
    report = json.loads(resumed.stdout.strip().splitlines()[-1])
    assert report["bytes_scanned"] == len(buf) - offset
    assert report["chunks_processed"] == 2
    assert json.load(open(cp))["next_offset"] == len(buf)


@pytest.mark.slow
def test_cli_limited_runs_checkpoint_what_they_scanned(tmp_path):
    """A --max-bytes / --max-chunks run checkpoints the end of the last
    chunk it scanned, not the evidence end, so resuming without a limit
    carves exactly the files the limited runs left, and the runs'
    bytes_scanned sum to the evidence length."""
    chunk = 16384
    blob = ALL_FIXTURES["jpeg"][0]
    buf = bytearray(b"\x00" * (4 * chunk))
    offsets = [i * chunk + 512 for i in range(4)]  # one jpeg per chunk
    for off in offsets:
        insert_bytes(buf, off, blob)
    ev = str(tmp_path / "ev.raw")
    with open(ev, "wb") as fh:
        fh.write(bytes(buf))
    cp = str(tmp_path / "cp.json")
    common = [
        "--input", ev, "--types", "jpeg", "--chunk-size", str(chunk),
        "--overlap", "4096", "--master", "local[2]", "--checkpoint", cp,
    ]
    scanned, carved = 0, []
    for i, (limit, next_offset) in enumerate(
        ((["--max-bytes", str(chunk)], chunk),
         (["--max-chunks", "2"], 2 * chunk),
         ([], len(buf)))
    ):
        out = str(tmp_path / f"out{i}")
        proc = _cli([*common, *limit, "--output", out])
        assert proc.returncode == 0, proc.stderr[-2000:]
        assert json.load(open(cp))["next_offset"] == next_offset
        scanned += json.loads(proc.stdout.strip().splitlines()[-1])["bytes_scanned"]
        starts = pq.read_table(os.path.join(out, "carved_files")).column("global_start")
        carved.append(sorted(starts.to_pylist()))
    assert carved == [offsets[:1], offsets[1:2], offsets[2:]]
    assert scanned == len(buf)
