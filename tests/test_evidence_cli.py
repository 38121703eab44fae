"""Evidence provenance helpers + CLI end-to-end."""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

from swiftbeaver_spark.chunking import chunks_from_bytes
from swiftbeaver_spark.evidence import (
    chunk_digests,
    evidence_digest_of_digests,
    evidence_sha256_local,
    verify_against_manifest,
)

from tests.fixtures import ALL_FIXTURES, insert_bytes


def test_evidence_sha256_local(tmp_path):
    data = bytes(range(256)) * 500
    p = str(tmp_path / "ev.bin")
    with open(p, "wb") as fh:
        fh.write(data)
    assert evidence_sha256_local(p) == hashlib.sha256(data).hexdigest()


def test_chunk_digests_compose(spark):
    data = bytes(range(256)) * 100
    chunks = chunks_from_bytes(spark, data, chunk_size=4096, overlap=512)
    rows = chunk_digests(chunks).orderBy("chunk_id").collect()
    # each digest covers exactly the valid region
    for r in rows:
        expected = hashlib.sha256(data[r.start : r.start + r.valid_length]).hexdigest()
        assert r.chunk_sha256 == expected
    # digest-of-digests is deterministic
    d1 = evidence_digest_of_digests(chunks)
    d2 = evidence_digest_of_digests(chunks)
    assert d1 == d2 and len(d1) == 64


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
    from swiftbeaver_spark.evidence import convert_ewf_to_raw

    with pytest.raises(FileNotFoundError):
        convert_ewf_to_raw("/nonexistent.E01", "/tmp/out.raw")


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
        return subprocess.run(
            [
                sys.executable, "-m", "swiftbeaver_spark",
                "--input", ev, "--output", out,
                "--types", "jpeg", "--chunk-size", "16384", "--overlap", "4096",
                "--format", "parquet", "--master", "local[2]",
                "--evidence-sha256", "--checkpoint", cp,
            ],
            capture_output=True,
            text=True,
            timeout=300,
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
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
