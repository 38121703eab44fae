"""String span scan + artefact extraction (URLs / emails / phones).

Reference parity: src/strings/cpu.rs (ascii/utf8/utf16 span scans,
hint flags), src/strings/mod.rs:100-322 (regexes, normalizers,
decode_span, artefact building).

Spark design: on evidence runs the span scan is the JVM Strs kernel
inside the one-pass scan (fused_scan.py), sharing each sub-chunk read
with the signature and entropy scans. Over a chunk table it is one pass
per chunk — the JVM bytes kernel, or the Python kernel below on hosts
without it. Artefact extraction is *gated by the
cheap hint flags* exactly like the reference (predicate gating,
SURVEY §4): the regex only runs on spans whose flag is set, expressed
as a DataFrame `where` before the extraction UDF so Catalyst prunes
early.
"""

from __future__ import annotations

import functools
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from swiftbeaver_spark import schemas
from swiftbeaver_spark.config import EngineConfig
from swiftbeaver_spark.parallel import spread

_ASCII_RE_TMPL = rb"[\t\x20-\x7E]{%d,}"

URL_RE = re.compile(r"\b(?:https?://|www\.)[^\s\"'<>]+", re.IGNORECASE)
EMAIL_RE = re.compile(r"\b[A-Z0-9._%+-]+@[A-Z0-9.-]+\.[A-Z]{2,}\b", re.IGNORECASE)
# verbatim reference regex (src/strings/mod.rs:122-123) INCLUDING the
# \b-before-\+? quirk: after a space there is no word boundary before
# '+', so E.164 numbers match from their first digit (no '+' captured).
# Intentional parity — do not "fix" without diverging from the reference.
PHONE_RE = re.compile(r"\b\+?\d[\d\s().-]{6,}\d\b")

_TRAILING_PUNCT = ".,;:)]}\"'><"


def trim_trailing_punct(value: str) -> str:
    return value.rstrip(_TRAILING_PUNCT)


def normalize_url(value: str) -> str | None:
    """Scheme/host validation (reference src/strings/mod.rs:261-290)."""
    trimmed = trim_trailing_punct(value)
    if not (8 <= len(trimmed) <= 2048):
        return None
    lower = trimmed.lower()
    if lower.startswith("http://"):
        rest = trimmed[7:]
    elif lower.startswith("https://"):
        rest = trimmed[8:]
    elif lower.startswith("www."):
        rest = trimmed[4:]
    else:
        return None
    host_port = rest.split("/", 1)[0]
    host = host_port.split(":", 1)[0]
    if not host or len(host) > 253 or "." not in host:
        return None
    for part in host.split("."):
        if not part or len(part) > 63:
            return None
    return trimmed


def normalize_email(value: str) -> str | None:
    """Local/domain validation (reference src/strings/mod.rs:292-313)."""
    trimmed = trim_trailing_punct(value)
    if not (6 <= len(trimmed) <= 254):
        return None
    if "@" not in trimmed:
        return None
    local, domain = trimmed.split("@", 1)
    if not local or len(local) > 64:
        return None
    if len(domain) > 253 or "." not in domain:
        return None
    if not any(c.isalpha() for c in domain):
        return None
    for part in domain.split("."):
        if not part or len(part) > 63:
            return None
    return trimmed


def is_plausible_phone(value: str) -> bool:
    """10..15 digits with >=4 unique (reference src/strings/mod.rs:194-210)."""
    digits = [c for c in value if c.isdigit()]
    return 10 <= len(digits) <= 15 and len(set(digits)) >= 4


def _flags(content: bytes) -> tuple[bool, bool, bool]:
    low = content.lower()
    url_like = b"http" in low or b"www." in low
    email_like = b"@" in content
    phone_like = sum(1 for b in content if 0x30 <= b <= 0x39) >= 10
    return url_like, email_like, phone_like


def _scan_ascii(data: bytes, min_len: int, max_len: int) -> list[tuple[int, bytes]]:
    """Printable runs [\\t\\x20-\\x7E], split at max_len
    (reference src/strings/cpu.rs:42-80)."""
    out = []
    for m in re.finditer(_ASCII_RE_TMPL % 1, data):
        s, e = m.start(), m.end()
        pos = s
        while pos < e:
            piece = data[pos : min(pos + max_len, e)]
            if len(piece) >= min_len:
                out.append((pos, piece))
            pos += max_len
    return out


_UTF8_MB = rb"(?:[\xC2-\xDF][\x80-\xBF]|[\xE0-\xEF][\x80-\xBF]{2}|[\xF0-\xF4][\x80-\xBF]{3})"
_UTF8_RUN = re.compile(rb"(?:[\t\x20-\x7E]|%s)+" % _UTF8_MB)
_HAS_MB = re.compile(_UTF8_MB)


def _scan_utf8(data: bytes, min_len: int, max_len: int) -> list[tuple[int, bytes]]:
    """Validated UTF-8 printable runs containing >=1 multibyte char;
    min/max are char counts (reference src/strings/cpu.rs:82-141)."""
    out = []
    for m in _UTF8_RUN.finditer(data):
        raw = m.group(0)
        if not _HAS_MB.search(raw):
            continue
        try:
            text = raw.decode("utf-8")
        except UnicodeDecodeError:
            continue
        if not all(c == "\t" or c.isprintable() for c in text):
            continue
        # split at max_len chars
        pos_chars = 0
        byte_pos = m.start()
        while pos_chars < len(text):
            piece = text[pos_chars : pos_chars + max_len]
            piece_bytes = piece.encode("utf-8")
            if len(piece) >= min_len and _HAS_MB.search(piece_bytes):
                out.append((byte_pos, piece_bytes))
            byte_pos += len(piece_bytes)
            pos_chars += max_len
    return out


_UTF16LE_RUN = re.compile(rb"(?:[\t\x20-\x7E]\x00)+")
_UTF16BE_RUN = re.compile(rb"(?:\x00[\t\x20-\x7E])+")


def _scan_utf16(
    data: bytes, min_len: int, max_len: int, little_endian: bool
) -> list[tuple[int, bytes]]:
    """Byte-pair runs at both alignments; span bytes = 2x chars
    (reference src/strings/cpu.rs:143-216).

    One regex pass replaces the earlier per-byte Python state machine
    (round-7 10x measurement: q35 ran ~1.5 MB/s with the loop — the
    whole strings family's bottleneck). Equivalence to the two-
    alignment state machine is structural: within ONE endianness two
    runs can never overlap across alignments (an LE pair ends in 0x00
    and 0x00 is not printable, so no byte can simultaneously end one
    pair and start the next; mirror argument for BE), hence maximal
    regex matches over the whole blob are exactly the union of the
    even- and odd-alignment maximal runs. Long runs split into
    consecutive max_len-char segments, each emitted iff >= min_len —
    the same segmentation the loop produced (pytest + the q35 oracle
    pin it)."""
    out = []
    pat = _UTF16LE_RUN if little_endian else _UTF16BE_RUN
    step = 2 * max_len
    for m in pat.finditer(data):
        s, e = m.start(), m.end()
        pos = s
        while pos < e:
            piece = data[pos : min(pos + step, e)]
            if len(piece) // 2 >= min_len:
                out.append((pos, piece))
            pos += step
    return out


def _decode_span(raw: bytes, encoding: str) -> str:
    if encoding == "utf-16le":
        return raw[0::2].decode("utf-8", "replace")
    if encoding == "utf-16be":
        return raw[1::2].decode("utf-8", "replace")
    return raw.decode("utf-8", "replace")


@functools.lru_cache(maxsize=1)
def _printable_intervals() -> str:
    """Python's str.isprintable() truth for codepoints >= 0x80, as hex
    'lo-hi' ranges — exported to the JVM kernel in the spec string so
    UTF-8 printability parity can never drift with JVM Unicode versions
    (ASCII and \\t are handled structurally on both sides)."""
    parts = []
    lo = None
    for cp in range(0x80, 0x110000):
        if chr(cp).isprintable():
            if lo is None:
                lo = cp
        elif lo is not None:
            parts.append(f"{lo:x}-{cp - 1:x}")
            lo = None
    if lo is not None:
        parts.append(f"{lo:x}-{0x10FFFF:x}")
    return ",".join(parts)


def _strings_spec(cfg: EngineConfig) -> str:
    """JVM kernel spec (see java/src/sbspark/Strs.java)."""
    return (
        f"{cfg.string_min_len};{cfg.string_max_len};"
        f"{1 if cfg.string_scan_utf16 else 0};{cfg.chunk_size};{cfg.overlap};"
        f"{_printable_intervals()}"
    )


def scan_string_spans(chunks: DataFrame, cfg: EngineConfig) -> DataFrame:
    """chunks -> string spans with hint flags, overlap-deduped.

    Dispatches to the JVM span kernel when it registers into this
    session (chunk bytes never cross into Python; ~an order of
    magnitude over the Python kernel — see SCALE.md r10); the Python
    mapInPandas pass below is the pinned fallback
    (SPARK_GRAFT_NO_VEC_KERNEL=1 forces it)."""
    from swiftbeaver_spark.jvm import vec_kernel_active

    min_len, max_len = cfg.string_min_len, cfg.string_max_len
    scan_utf16 = cfg.string_scan_utf16
    if vec_kernel_active(chunks.sparkSession):
        rows = F.call_udf(
            "sb_scan_strings_bytes",
            F.col("data"),
            F.col("start").cast("long"),
            F.col("valid_length").cast("long"),
            F.lit(_strings_spec(cfg)),
        )
        return spread(chunks).select(F.inline(rows))
    # spread the compute-dense scan across cores when the chunk source
    # collapsed to fewer input splits than the cluster has slots
    # (measured 2 of 32 cores busy on the 10x q35 corpus, whose 100 MB
    # of synthesized chunks arrive as 2 file splits); a no-op at scale
    # where splits >> cores
    chunks = spread(chunks)

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for start, vlen, data in zip(pdf["start"], pdf["valid_length"], pdf["data"]):
                rows.extend(
                    _blob_spans(bytes(data), int(start), int(vlen), min_len, max_len, scan_utf16)
                )
            yield pd.DataFrame(rows, columns=_SPAN_COLUMNS)

    return chunks.mapInPandas(scan, schemas.STRING_SPANS)


_SPAN_COLUMNS = [
    "global_start",
    "byte_length",
    "content",
    "encoding",
    "url_like",
    "email_like",
    "phone_like",
]


def _blob_spans(
    blob: bytes, start: int, vlen: int, min_len: int, max_len: int, scan_utf16: bool
) -> list[tuple]:
    """All span rows for one chunk blob — the Python chunk-table kernel
    and the reference rows the JVM kernels are differential-tested
    against."""
    found: list[tuple[int, bytes, str]] = []
    for pos, raw in _scan_ascii(blob, min_len, max_len):
        found.append((pos, raw, "ascii"))
    for pos, raw in _scan_utf8(blob, min_len, max_len):
        found.append((pos, raw, "utf-8"))
    if scan_utf16:
        for pos, raw in _scan_utf16(blob, min_len, max_len, True):
            found.append((pos, raw, "utf-16le"))
        for pos, raw in _scan_utf16(blob, min_len, max_len, False):
            found.append((pos, raw, "utf-16be"))
    rows = []
    for pos, raw, enc in found:
        if pos >= vlen:  # overlap dedup, same rule as hits
            continue
        rows.append(_span_row(start + pos, raw, enc))
    return rows


def _span_row(global_start: int, raw: bytes, enc: str) -> tuple:
    """One STRING_SPANS row: decode + hint flags."""
    if enc.startswith("utf-16"):
        flag_src = raw[0::2] if enc == "utf-16le" else raw[1::2]
    else:
        flag_src = raw
    url_like, email_like, phone_like = _flags(flag_src)
    return (
        global_start,
        len(raw),
        _decode_span(raw, enc),
        enc,
        url_like,
        email_like,
        phone_like,
    )


_ARTEFACT_COLUMNS = [f.name for f in schemas.STRING_ARTEFACTS.fields]


def _extract_kind(pdf: pd.DataFrame, kind: str) -> list[tuple]:
    rows = []
    for gstart, content, encoding in zip(pdf["global_start"], pdf["content"], pdf["encoding"]):
        text = str(content)
        if kind == "Url":
            matches = ((m, normalize_url(m.group(0))) for m in URL_RE.finditer(text))
        elif kind == "Email":
            matches = ((m, normalize_email(m.group(0))) for m in EMAIL_RE.finditer(text))
        else:
            matches = (
                (m, m.group(0) if is_plausible_phone(m.group(0)) else None)
                for m in PHONE_RE.finditer(text)
            )
        for m, value in matches:
            if value is None:
                continue
            # byte offset of the match within the decoded text (reference
            # uses the Rust &str byte offset, src/strings/mod.rs:137-146)
            off = len(text[: m.start()].encode("utf-8"))
            a_start = int(gstart) + off
            blen = len(value.encode("utf-8"))
            a_end = a_start if blen == 0 else a_start + blen - 1
            rows.append((kind, value, str(encoding), a_start, a_end))
    return rows


def scan_string_artefacts(spans: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Hint-gated regex extraction over spans -> string_artefacts.

    ONE pass: every enabled kind extracts inside a single mapInPandas
    over the flag-filtered spans. The earlier form built one
    filter+mapInPandas branch PER KIND and unioned them — three
    branches each re-evaluating the whole spans subtree, which for an
    uncached evidence scan means three full evidence scans (measured:
    the 64 MiB full-pipeline stress spent ~3x its span-scan cost
    here; same pathology classify_documents_subword's four-branch
    weight union had in round 8). Row content is identical — the
    per-kind extraction loops are unchanged and output order was
    never part of the contract (union semantics)."""
    kinds = [
        (kind, flag)
        for kind, flag, enabled in (
            ("Url", "url_like", cfg.enable_url_scan),
            ("Email", "email_like", cfg.enable_email_scan),
            ("Phone", "phone_like", cfg.enable_phone_scan),
        )
        if enabled
    ]
    if not kinds:
        return spans.sparkSession.createDataFrame([], schemas.STRING_ARTEFACTS)
    keep = functools.reduce(
        lambda a, b: a | b, [F.col(flag) for _, flag in kinds]
    )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            for kind, flag in kinds:
                rows.extend(_extract_kind(pdf[pdf[flag]], kind))
            yield pd.DataFrame(rows, columns=_ARTEFACT_COLUMNS)

    return spans.where(keep).mapInPandas(extract, schemas.STRING_ARTEFACTS)


def enrich_urls(artefacts: DataFrame) -> DataFrame:
    """URL component split (reference src/metadata/parquet.rs:1635-1688):
    www.-prefixed URLs are treated as http. Pure Catalyst expressions."""
    urls = artefacts.where(F.col("artefact_kind") == "Url")
    full = F.when(
        F.lower(F.col("content")).startswith("www."), F.concat(F.lit("http://"), F.col("content"))
    ).otherwise(F.col("content"))
    return urls.select(
        "content",
        F.lower(F.split(full, "://")[0]).alias("scheme"),
        F.lower(F.parse_url(full, F.lit("HOST"))).alias("host"),
        F.parse_url(full, F.lit("USERINFO")).alias("_ui"),
        F.parse_url(full, F.lit("PATH")).alias("path"),
        F.parse_url(full, F.lit("QUERY")).alias("query"),
        F.parse_url(full, F.lit("REF")).alias("fragment"),
        "encoding",
        "global_start",
        "global_end",
    ).withColumn(
        # reference takes the authority's trailing :digits (rfind after
        # stripping path/query/fragment), so www.-prefixed URLs and
        # userinfo@host forms keep their port — extract from `full`'s
        # authority, not the raw content
        "port",
        F.regexp_extract(
            F.regexp_extract(full, r"^[a-zA-Z]+://([^/?#]*)", 1), r":(\d+)$", 1
        ).cast("int"),
    ).select(
        "content",
        "scheme",
        "host",
        "port",
        "path",
        "query",
        "fragment",
        "encoding",
        "global_start",
        "global_end",
        F.lit("string_scan").alias("source_kind"),
        F.lit("span").alias("source_detail"),
        F.lit(1.0).alias("certainty"),
    )


def enrich_emails(artefacts: DataFrame) -> DataFrame:
    """local_part/domain split (reference src/metadata/parquet.rs:1691+)."""
    emails = artefacts.where(F.col("artefact_kind") == "Email")
    return emails.select(
        "content",
        F.substring_index(F.col("content"), "@", 1).alias("local_part"),
        F.substring_index(F.col("content"), "@", -1).alias("domain"),
        "encoding",
        "global_start",
        "global_end",
        F.lit("string_scan").alias("source_kind"),
        F.lit("span").alias("source_detail"),
        F.lit(1.0).alias("certainty"),
    )


def enrich_phones(artefacts: DataFrame) -> DataFrame:
    """phone_raw + e164/country placeholders, certainty 1.0
    (reference src/metadata/parquet.rs:951-963,1591-1631)."""
    phones = artefacts.where(F.col("artefact_kind") == "Phone")
    return phones.select(
        "content",
        F.col("content").alias("phone_raw"),
        F.lit(None).cast("string").alias("phone_e164"),
        F.lit(None).cast("string").alias("country"),
        "encoding",
        "global_start",
        "global_end",
        F.lit("string_scan").alias("source_kind"),
        F.lit("span").alias("source_detail"),
        F.lit(1.0).alias("certainty"),
    )
