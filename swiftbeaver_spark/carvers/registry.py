"""Validator-name -> handler dispatch (reference CarveRegistry,
src/carve/mod.rs:127-139, built in src/util.rs:141-549).

`quicktime_mode: mp4` swaps the mov handler for the mp4 handler with
QuickTime brands allowed (reference src/util.rs:147-162,368-388).
"""

from __future__ import annotations

from collections.abc import Callable

from swiftbeaver_spark.carvers import archives, documents, images, media
from swiftbeaver_spark.carvers.base import CarvedRecord, CarveOutcome, Reader, finalize
from swiftbeaver_spark.config import EngineConfig, FileType

Handler = Callable[..., CarveOutcome | None]

_VALIDATORS: dict[str, Handler] = {
    "jpeg": images.carve_jpeg,
    "png": images.carve_png,
    "gif": images.carve_gif,
    "bmp": images.carve_bmp,
    "tiff": images.carve_tiff,
    "ico": images.carve_ico,
    "webp": media.carve_webp,
    "wav": media.carve_wav,
    "avi": media.carve_avi,
    "mp4": media.carve_mp4,
    "mov": media.carve_mov,
    "mp3": media.carve_mp3,
    "ogg": media.carve_ogg,
    "webm": media.carve_webm,
    "wmv": media.carve_wmv,
    "zip": archives.carve_zip,
    "gzip": archives.carve_gzip,
    "bzip2": archives.carve_bzip2,
    "xz": archives.carve_xz,
    "tar": archives.carve_tar,
    "rar": archives.carve_rar,
    "sevenz": archives.carve_sevenz,
    "pdf": documents.carve_pdf,
    "rtf": documents.carve_rtf,
    "ole": documents.carve_ole,
    "eml": documents.carve_eml,
    "fb2": documents.carve_fb2,
    "lrf": documents.carve_lrf,
    "mobi": documents.carve_mobi,
    "sqlite": documents.carve_sqlite,
    "elf": documents.carve_elf,
    "footer": documents.carve_footer,
}


def build_registry(cfg: EngineConfig) -> dict[str, tuple[FileType, Handler]]:
    """file_type_id -> (FileType, handler)."""
    registry: dict[str, tuple[FileType, Handler]] = {}
    for ft in cfg.file_types:
        validator = ft.validator
        if validator == "mov" and cfg.quicktime_mode == "mp4":
            validator = "mp4"
        handler = _VALIDATORS.get(validator)
        if handler is None:
            raise ValueError(f"unknown validator: {ft.validator}")
        registry[ft.type_id] = (ft, handler)
    return registry


def carve_hit(
    reader: Reader,
    global_offset: int,
    file_type_id: str,
    pattern_id: str,
    registry: dict[str, tuple[FileType, Handler]],
    cfg: EngineConfig,
    eocd_candidates: list | None = None,
    sweep_kwargs: dict | None = None,
) -> CarvedRecord | None:
    """Run one hit through its format handler and finalize (hash, min-size,
    truncation clamp). Returns None for rejected false positives.
    `eocd_candidates`: shared zip magic index (collect_zip_eocds) —
    consumed by the zip handler, ignored by every other handler.
    `sweep_kwargs`: the shared-index kwargs a _SWEEP_FAMILIES collector
    built (carve_op; today only zip's {"eocd_candidates": [...]}) —
    handlers take **_ so an index meant for one validator is ignored
    by the rest."""
    entry = registry.get(file_type_id)
    if entry is None:
        return None
    ft, handler = entry
    # sweep_kwargs may itself carry eocd_candidates (the generic sweep
    # branch hands zip its index this way) — merge, don't duplicate
    extra = {"eocd_candidates": eocd_candidates}
    extra.update(sweep_kwargs or {})
    outcome = handler(
        reader,
        global_offset,
        ft.max_size,
        pattern_id=pattern_id,
        quicktime_mode=cfg.quicktime_mode,
        require_eocd=ft.require_eocd,
        zip_allowed_kinds=cfg.zip_allowed_kinds,
        ole_allowed_kinds=cfg.ole_allowed_kinds,
        header_patterns=tuple(p.bytes for p in ft.header_patterns),
        footer_patterns=tuple(p.bytes for p in ft.footer_patterns),
        **extra,
    )
    if outcome is None:
        return None
    start = outcome.start_override if outcome.start_override is not None else global_offset
    return finalize(
        reader,
        start,
        outcome,
        default_type=ft.type_id,
        default_ext=ft.extensions[0] if ft.extensions else "bin",
        min_size=ft.min_size,
        pattern_id=pattern_id,
        output_dir=cfg.output_dir,
    )
