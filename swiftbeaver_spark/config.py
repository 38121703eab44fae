"""Engine configuration: file-type registry and scan geometry.

Parity target: the reference's YAML config surface (31 file types with
header signatures, size bounds, validator ids; reference
config/default.yml:25-331, struct src/config.rs:7-79) plus the scan
options (overlap, string scan, entropy, zip/ole kind filters,
quicktime mode; config/default.yml:1-24).

Expressed natively in Python: `EngineConfig` is the engine's entire
"logical plan input" — there is no other extensibility surface in the
reference (SURVEY §2.4).
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

DEFAULT_CHUNK_SIZE = 512 * 1024 * 1024  # reference src/constants.rs:22
DEFAULT_OVERLAP = 64 * 1024  # reference src/constants.rs:25
# sub-chunk size for the one-pass evidence scan (fused_scan.py): the
# I/O chunk size is tuned for carve streaming, but the scan needs many
# more plan rows than ceil(size / 512 MiB) to use a cluster (round-9
# 1 GiB stress: the strings stage ran on 2 of 32 cores, 121 s -> 11 s
# at this granule)
SUBCHUNK_GRANULE = 16 * 1024 * 1024
MIB = 1024 * 1024
GIB = 1024 * MIB
# evidence bytes per scan partition (r14): the evidence scan and carve
# scale their partition counts with scan bytes, floored at the session
# parallelism — a fixed defaultParallelism split hands each task (and
# each persisted one-pass cache block) corpus/N bytes, a
# hidden corpus-proportional memory/elasticity term that OOMed 20 GiB
# at a heap 10 GiB survived (BENCH_SCALE_r14; SCALE.md round 14)
EVIDENCE_PARTITION_BYTES = 128 * MIB


@dataclass(frozen=True)
class Pattern:
    pattern_id: str
    hex: str

    @property
    def bytes(self) -> bytes:
        return bytes.fromhex(self.hex)


@dataclass(frozen=True)
class FileType:
    type_id: str
    extensions: tuple[str, ...]
    header_patterns: tuple[Pattern, ...]
    max_size: int
    min_size: int
    validator: str
    footer_patterns: tuple[Pattern, ...] = ()
    require_eocd: bool = True  # zip only


def _ft(tid, exts, pats, max_size, min_size, validator, **kw) -> FileType:
    return FileType(
        type_id=tid,
        extensions=tuple(exts),
        header_patterns=tuple(Pattern(pid, hx) for pid, hx in pats),
        max_size=max_size,
        min_size=min_size,
        validator=validator,
        **kw,
    )


# The 30 built-in types (signatures are public file-format magic numbers;
# ids/sizes mirror reference config/default.yml:25-331 for parity).
DEFAULT_FILE_TYPES: tuple[FileType, ...] = (
    _ft("jpeg", ["jpg", "jpeg"], [("jpeg_soi", "FFD8FF")], 100 * MIB, 500, "jpeg"),
    _ft("png", ["png"], [("png_sig", "89504E470D0A1A0A")], 100 * MIB, 100, "png"),
    _ft("gif", ["gif"], [("gif87a", "474946383761"), ("gif89a", "474946383961")], 100 * MIB, 100, "gif"),
    _ft("sqlite", ["sqlite"], [("sqlite_header", "53514C69746520666F726D6174203300")], 512 * MIB, 100, "sqlite"),
    _ft("pdf", ["pdf"], [("pdf_header", "255044462D")], 100 * MIB, 64, "pdf"),
    _ft("zip", ["zip"], [("zip_header", "504B0304")], 100 * MIB, 32, "zip", require_eocd=True),
    _ft("webp", ["webp"], [("webp_header", "52494646")], 100 * MIB, 20, "webp"),
    _ft("bmp", ["bmp"], [("bmp_header", "424D")], 100 * MIB, 200, "bmp"),
    _ft("tiff", ["tiff", "tif"], [("tiff_le_header", "49492A00"), ("tiff_be_header", "4D4D002A")], 100 * MIB, 8, "tiff"),
    _ft(
        "mp4",
        ["mp4", "m4a", "m4v"],
        [
            ("mp4_ftyp_14", "0000001466747970"),
            ("mp4_ftyp_18", "0000001866747970"),
            ("mp4_ftyp_1c", "0000001C66747970"),
            ("mp4_ftyp_20", "0000002066747970"),
        ],
        1 * GIB,
        16,
        "mp4",
    ),
    _ft("rar", ["rar"], [("rar4_header", "526172211A0700"), ("rar5_header", "526172211A070100")], 1 * GIB, 32, "rar"),
    _ft("7z", ["7z"], [("7z_header", "377ABCAF271C")], 1 * GIB, 32, "sevenz"),
    _ft("wav", ["wav"], [("wav_riff", "52494646")], 1 * GIB, 44, "wav"),
    _ft("avi", ["avi"], [("avi_riff", "52494646")], 4 * GIB, 128, "avi"),
    _ft("mp3", ["mp3"], [("mp3_id3v2", "494433"), ("mp3_sync_fb", "FFFB"), ("mp3_sync_fa", "FFFA")], 100 * MIB, 128, "mp3"),
    _ft("ole", ["ole"], [("ole_cfb", "D0CF11E0A1B11AE1")], 512 * MIB, 512, "ole"),
    _ft("tar", ["tar"], [("tar_ustar", "7573746172")], 1 * GIB, 1024, "tar"),
    _ft("gzip", ["gz"], [("gzip_header", "1F8B08")], 1 * GIB, 18, "gzip"),
    _ft("bzip2", ["bz2"], [("bzip2_header", "425A68")], 1 * GIB, 14, "bzip2"),
    _ft("xz", ["xz"], [("xz_header", "FD377A585A00")], 1 * GIB, 32, "xz"),
    _ft("ogg", ["ogg", "oga", "ogv"], [("ogg_sync", "4F676753")], 1 * GIB, 28, "ogg"),
    _ft(
        "mov",
        ["mov", "qt"],
        [
            ("mov_ftyp_qt", "000000146674797071742020"),
            ("mov_ftyp_qt_18", "000000186674797071742020"),
            ("mov_ftyp_qt_1c", "0000001C6674797071742020"),
            ("mov_ftyp_qt_20", "000000206674797071742020"),
        ],
        10 * GIB,
        16,
        "mov",
    ),
    _ft("webm", ["webm", "mkv"], [("webm_ebml", "1A45DFA3")], 10 * GIB, 64, "webm"),
    _ft("wmv", ["wmv", "wma", "asf"], [("wmv_asf", "3026B2758E66CF11A6D900AA0062CE6C")], 10 * GIB, 64, "wmv"),
    _ft("rtf", ["rtf"], [("rtf_header", "7B5C727466")], 100 * MIB, 7, "rtf"),
    _ft("ico", ["ico", "cur"], [("ico_header", "00000100"), ("cur_header", "00000200")], 10 * MIB, 22, "ico"),
    _ft("elf", ["elf", "so"], [("elf_magic", "7F454C46")], 1 * GIB, 52, "elf"),
    _ft("eml", ["eml"], [("eml_from", "46726F6D3A20"), ("eml_received", "52656365697665643A")], 50 * MIB, 32, "eml"),
    _ft("mobi", ["mobi", "azw", "azw3", "prc"], [("mobi_pdb", "424F4F4B4D4F4249")], 512 * MIB, 68, "mobi"),
    _ft("fb2", ["fb2"], [("fb2_xml", "3C3F786D6C")], 100 * MIB, 64, "fb2"),
    _ft("lrf", ["lrf"], [("lrf_header", "4C524600")], 100 * MIB, 64, "lrf"),
)

# zip-container classified kinds (reference src/carve/zip.rs:489-597)
ZIP_KINDS = ("zip", "docx", "xlsx", "pptx", "odt", "ods", "odp", "epub")
# ole-container classified kinds (reference src/carve/ole.rs:300-360)
OLE_KINDS = ("ole", "doc", "xls", "ppt")


@dataclass(frozen=True)
class EngineConfig:
    chunk_size: int = DEFAULT_CHUNK_SIZE
    overlap: int = DEFAULT_OVERLAP
    file_types: tuple[FileType, ...] = DEFAULT_FILE_TYPES
    run_id: str = ""
    # scan toggles (defaults mirror reference config/default.yml:1-24)
    enable_string_scan: bool = False
    enable_url_scan: bool = True
    enable_email_scan: bool = True
    enable_phone_scan: bool = True
    string_scan_utf16: bool = False
    string_min_len: int = 6
    string_max_len: int = 1024
    enable_entropy_detection: bool = False
    entropy_window_size: int = 4096
    entropy_threshold: float = 7.5
    enable_sqlite_page_recovery: bool = False
    zip_allowed_kinds: tuple[str, ...] | None = None
    ole_allowed_kinds: tuple[str, ...] | None = None
    quicktime_mode: str = "mov"  # "mov" | "mp4" (reference src/util.rs:147-162)
    # limits (reference src/pipeline/mod.rs:328-416)
    max_bytes: int | None = None
    max_chunks: int | None = None
    max_files: int | None = None
    # carved-bytes output; None => metadata only (hashes still computed)
    output_dir: str | None = None

    def with_types(self, type_ids: list[str] | tuple[str, ...]) -> "EngineConfig":
        """Filter enabled file types (CLI --types analog, reference
        src/util.rs:574-685). zip/ole family kinds select the container
        type and set the allowed-kinds filter."""
        wanted = set(type_ids)
        zip_kinds = wanted & set(ZIP_KINDS)
        ole_kinds = wanted & set(OLE_KINDS)
        base = set(wanted - set(ZIP_KINDS) - set(OLE_KINDS))
        if zip_kinds:
            base.add("zip")
        if ole_kinds:
            base.add("ole")
        kept = tuple(ft for ft in self.file_types if ft.type_id in base)
        missing = base - {ft.type_id for ft in kept}
        if missing:
            raise ValueError(f"unknown file types: {sorted(missing)}")
        return replace(
            self,
            file_types=kept,
            zip_allowed_kinds=tuple(sorted(zip_kinds)) or self.zip_allowed_kinds,
            ole_allowed_kinds=tuple(sorted(ole_kinds)) or self.ole_allowed_kinds,
        )

    def file_type(self, type_id: str) -> FileType:
        for ft in self.file_types:
            if ft.type_id == type_id:
                return ft
        raise KeyError(type_id)


DEFAULT_CONFIG = EngineConfig()
