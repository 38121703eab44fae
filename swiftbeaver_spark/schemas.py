"""Explicit schemas for every table the engine produces.

Parity: reference JSONL tables (docs/metadata_jsonl.md, 7 tables) and
Parquet-enriched artefact tables (src/metadata/parquet.rs:891-1065).
No schema inference anywhere — fixed code-declared schemas, like the
reference's Rust structs + Arrow schemas.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def _s(*fields: StructField) -> StructType:
    return StructType(list(fields))


def _f(name: str, dtype, nullable: bool = True) -> StructField:
    return StructField(name, dtype, nullable)


# normalized signature hit (reference src/scanner/mod.rs:17-22)
HITS = _s(
    _f("global_offset", LongType(), False),
    _f("file_type_id", StringType(), False),
    _f("pattern_id", StringType(), False),
)

# carved file output (reference src/carve/mod.rs:70-85)
CARVED_FILES = _s(
    _f("file_type", StringType(), False),
    _f("path", StringType(), False),
    _f("extension", StringType(), False),
    _f("global_start", LongType(), False),
    _f("global_end", LongType(), False),
    _f("size", LongType(), False),
    _f("md5", StringType()),
    _f("sha256", StringType()),
    _f("validated", BooleanType(), False),
    _f("truncated", BooleanType(), False),
    _f("errors", ArrayType(StringType()), False),
    _f("pattern_id", StringType()),
)

# string artefact (reference src/strings/mod.rs:107-115)
STRING_ARTEFACTS = _s(
    _f("artefact_kind", StringType(), False),  # Url | Email | Phone | GenericString
    _f("content", StringType(), False),
    _f("encoding", StringType(), False),  # ascii | utf-8 | utf-16le | utf-16be
    _f("global_start", LongType(), False),
    _f("global_end", LongType(), False),
)

# raw string span, pre-artefact (reference StringSpan, src/strings/mod.rs:9-15)
STRING_SPANS = _s(
    _f("global_start", LongType(), False),
    _f("byte_length", IntegerType(), False),
    _f("content", StringType(), False),
    _f("encoding", StringType(), False),
    _f("url_like", BooleanType(), False),
    _f("email_like", BooleanType(), False),
    _f("phone_like", BooleanType(), False),
)

BROWSER_HISTORY = _s(
    _f("browser", StringType(), False),  # chrome | firefox | sqlite_page
    _f("profile", StringType(), False),
    _f("url", StringType(), False),
    _f("title", StringType()),
    _f("visit_time", TimestampType()),
    _f("visit_source", StringType()),
    _f("source_file", StringType(), False),
)

BROWSER_COOKIES = _s(
    _f("host", StringType(), False),
    _f("name", StringType(), False),
    _f("value", StringType()),
    _f("path", StringType()),
    _f("expires_utc", TimestampType()),
    _f("last_access_utc", TimestampType()),
    _f("creation_utc", TimestampType()),
    _f("is_secure", BooleanType()),
    _f("is_http_only", BooleanType()),
    _f("browser", StringType(), False),
    _f("profile", StringType(), False),
    _f("source_file", StringType(), False),
)

BROWSER_DOWNLOADS = _s(
    _f("url", StringType()),
    _f("target_path", StringType()),
    _f("start_time", TimestampType()),
    _f("end_time", TimestampType()),
    _f("total_bytes", LongType()),
    _f("state", StringType()),
    _f("browser", StringType(), False),
    _f("profile", StringType(), False),
    _f("source_file", StringType(), False),
)

ENTROPY_REGIONS = _s(
    _f("global_start", LongType(), False),
    _f("global_end", LongType(), False),
    _f("entropy", DoubleType(), False),
    _f("window_size", LongType(), False),
)

RUN_SUMMARY = _s(
    _f("bytes_scanned", LongType(), False),
    _f("chunks_processed", LongType(), False),
    _f("hits_found", LongType(), False),
    _f("files_carved", LongType(), False),
    _f("string_spans", LongType(), False),
    _f("artefacts_extracted", LongType(), False),
)
