"""Carve operator: hits DataFrame -> carved_files DataFrame.

Reference parity: carve worker threads dispatching per-hit handlers
(src/pipeline/workers.rs:208-297). The per-format end-detection state
machines stay Python (SURVEY §2.3 — inherently sequential per hit);
the fan-out is Spark.

Two evidence-access strategies (SURVEY §7.3):

1. `carve_hits_with_evidence` — each task opens the evidence path and
   does positioned reads. Right when evidence is a POSIX/shared path
   (local runs, NFS, fuse-mounted object store). No shuffle at all:
   hits stream through mapInPandas.

2. `carve_hits_with_chunks` — pure-DataFrame over a chunk table, as
   one bucketed cogroup of hits with contiguous chunk spans (see its
   docstring). Row order in the table does not matter: contiguous,
   many-file and hash-scattered layouts carve identically.

Engine.run carves by positioned reads. The chunk carve serves the
callers that hold only a chunk table (the chunk-table catalog
queries); types whose effective window exceeds
`_WINDOW_CAP_LIMIT` must carve via positioned reads (a bucket group
buffers up to a full window per hit in executor memory).
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from swiftbeaver_spark import schemas
from swiftbeaver_spark.carvers import build_registry, carve_hit
from swiftbeaver_spark.carvers.base import Reader
from swiftbeaver_spark.config import EngineConfig

_CARVE_COLUMNS = [f.name for f in schemas.CARVED_FILES.fields]

# largest per-type effective window the chunk strategy accepts: a
# bucket group holds up to `window + chunk` contiguous bytes per hit
# in one Python allocation, so windows past this bound belong on
# strategy 1 (positioned reads) — see the module docstring
_WINDOW_CAP_LIMIT = 3 * (1 << 29)  # 1.5 GiB
# per-task LRU of sweep-family bucket indexes, keyed (family, bucket)
# — every _SWEEP_FAMILIES collector shares it (today only zip's EOCD
# geometry). Entries are position lists, a few bytes per magic, so the
# bound exists for pathology, not pressure
_SWEEP_CACHE_BUCKETS = 64

# contiguous bucket span of the chunk-table carve: big enough to
# amortize per-group overhead, small enough that one group's buffer is
# a footnote in executor memory and short scans still parallelize
_BUCKET_BYTES = 16 * 1024 * 1024


def _record_to_tuple(rec) -> tuple:
    return (
        rec.file_type,
        rec.path,
        rec.extension,
        rec.global_start,
        rec.global_end,
        rec.size,
        rec.md5,
        rec.sha256,
        rec.validated,
        rec.truncated,
        rec.errors,
        rec.pattern_id,
    )


def _collect_zip_eocds_kw(reader, lo: int, hi: int) -> dict:
    from swiftbeaver_spark.carvers.archives import collect_zip_eocds

    return {"eocd_candidates": collect_zip_eocds(reader, lo, hi)}


# Sweep-bound validator families: end detection is a forward magic scan
# of up to max_size per hit where the sweep target is NOT the hit's own
# magic, so N co-located hits can cost N full-window reads -- each
# family gets a range-bucketed branch whose per-bucket collector builds
# the magic index ONCE for every hit in the bucket. zip since r11 (EOCD
# geometry index: require_eocd keeps the LAST valid EOCD, so every hit
# scans its full window with no early exit, and the carve output is
# bounded by EOCD geometry -- the sweep IS the dominant term, and the
# shared index measured 2.4x).
#
# gzip is deliberately NOT here (r12 decision, measured): its sweep
# target IS the family's own hit magic, so consecutive hits' per-hit
# sweeps TELESCOPE -- each stops at the next hit's own offset -- and
# the family total is ~one corpus pass at any density (plus one
# trailing window per region); the bucketed variant measured 3.5x
# SLOWER at 17 hits/GiB because it traded that telescoping plus
# round-robin parallelism for envelope reads. Same reasoning applies
# to any next-own-magic handler (tar, footer-to-next-header shapes).
#
# bzip2 is NOT here either (added r12 on the zip analogy, REMOVED r13
# after the density A/B recorded in SCALE.md): on a planted
# dense-"BZh" text corpus the bucketed branch measured 7.3x slower
# with end markers every MiB and 8.1x slower with none. The sweep
# reads the index saves are NOT the dominant term for an early-exit
# family whose misses carve: every false sync still carves a
# truncated file to max_size/EOF, so the stage wall is the md5+sha256
# of those outputs -- identical bytes either way -- and range
# co-location SERIALIZES that hashing into one task per max_size
# bucket while the per-hit path spreads it across the cluster. Rule
# of thumb for the next family: the shared index pays only when the
# per-hit sweep dominates the per-hit CARVE (zip: yes -- full-window
# sweep, bounded parse; bzip2/gzip: no).
#
# r14 decision -- bzip2's false-sync carve term is PARITY-BOUND, not
# fixable: capping the end-marker sweep at the next "BZh"+digit sync
# would break parity. The reference (src/carve/bzip2.rs:76-117)
# sweeps every hit independently to max_size/EOF, straight past any
# intervening sync -- necessarily, because "BZh"+digit is 4 bytes
# (~1/16M per position), so a real 100 MB compressed payload EXPECTS
# ~6 incidental syncs inside it; a cap would truncate real files the
# reference carves whole. The cost stays as measured (158.7 ms/hit,
# 3.8 s for 24 false hits/GiB on the r13 stress text corpus,
# BENCH_SCALE_r13.json carve profile): operators running text-dense
# evidence should drop the bzip2 entry from `file_types` (YAML
# config override, config_yaml.py) -- every term of the cost is
# format-rule-mandated output, not overhead.
_SWEEP_FAMILIES = {"zip": _collect_zip_eocds_kw}


def carve_hits_with_evidence(
    hits: DataFrame, evidence_path: str, cfg: EngineConfig
) -> DataFrame:
    """Carve via positioned reads against the evidence path (strategy 1).

    Sweep-bound validator families (_SWEEP_FAMILIES) carve against a
    RANGE-bucketed magic index: bucketing by offset // max_size lets
    each bucket collect its index ONCE and hand it to every hit --
    per-bucket bytes read are bounded at 2x bucket width no matter how
    many hits land there, and results are bit-identical to the per-hit
    sweep (the handler applies the same first/last-match-in-window
    selection rules to the shared index; pytest-pinned).

    ONE shuffle, ONE pass over the hits plan (r13; ADVICE r12): a
    composite key co-locates each sweep family's hits per offset
    bucket and spreads everything else by offset hash, and a single
    mapInPandas dispatches per-group -- swept groups through the
    bucket index, the rest per-hit. The r12 shape (one filtered branch
    per family unioned with the rest) re-evaluated the upstream hits
    plan once per branch when it was uncached -- three evidence
    signature scans when the hits came straight off the evidence."""

    # shuffle width scales with evidence bytes, floored at parallelism
    # (r14, the shared evidence-path rule): hit density is roughly
    # bytes-proportional, so a fixed-parallelism shuffle concentrates
    # corpus/N hits per carve task as the image grows — one partition
    # per ~4x EVIDENCE_PARTITION_BYTES keeps carve tasks coarse (they
    # are per-hit I/O, not per-byte) while preserving retry and
    # straggler granularity at multi-TiB evidence.
    from swiftbeaver_spark.config import EVIDENCE_PARTITION_BYTES
    from swiftbeaver_spark.source import evidence_length

    n = max(
        hits.sparkSession.sparkContext.defaultParallelism,
        1,
        -(-evidence_length(evidence_path) // (4 * EVIDENCE_PARTITION_BYTES)),
    )
    # family routing: type_id -> family, family -> (bucket_w,
    # collector). max_size=0 means an UNBOUNDED window (scan to EOF) --
    # no finite bucket can cover it, so any such type routes its whole
    # family through the per-hit path (correct for any window; the
    # shared index is purely an optimization).
    route: dict[str, str] = {}
    fam_geom: dict[str, tuple[int, object]] = {}
    for validator, collector in _SWEEP_FAMILIES.items():
        fam = [ft for ft in cfg.file_types if ft.validator == validator]
        if not fam or any(ft.max_size <= 0 for ft in fam):
            continue
        fam_geom[validator] = (max(ft.max_size for ft in fam), collector)
        for ft in fam:
            route[ft.type_id] = validator

    def carve_all(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from collections import OrderedDict

        from swiftbeaver_spark.source import open_evidence

        registry = build_registry(cfg)
        reader = open_evidence(evidence_path)
        # The index covers the TIGHT range a batch group needs
        # ([first hit, last hit + bucket_w)), not the full 2x
        # envelope. Arrow may split one offset-bucket's hits across
        # batches (ADVICE r11), so the cache is coverage-aware: reuse
        # when the cached range covers this group's need, extend
        # (union of ranges) otherwise. Bounded LRU keyed (family,
        # bucket); entries are EOCD positions plus 12-byte geometry,
        # a few bytes each. Handlers filter candidates to
        # their own window with identical selection rules, so
        # results never depend on which hits shared the sweep
        # (pytest-pinned).
        cache: OrderedDict = OrderedDict()
        try:
            for pdf in batches:
                rows = []
                fams = pdf["file_type_id"].map(lambda t: route.get(t, ""))
                buckets = pd.Series(0, index=pdf.index, dtype="int64")
                swept_mask = fams != ""
                if swept_mask.any():
                    widths = fams[swept_mask].map(lambda f: fam_geom[f][0])
                    buckets[swept_mask] = (
                        pdf["global_offset"][swept_mask] // widths
                    ).astype("int64")
                for (famname, b), grp in pdf.groupby([fams, buckets], sort=False):
                    kw = None
                    if famname:
                        bucket_w, collector = fam_geom[famname]
                        ck = (famname, int(b))
                        need_lo = int(grp["global_offset"].min())
                        need_hi = min(
                            int(grp["global_offset"].max()) + bucket_w,
                            reader.length(),
                        )
                        entry = cache.get(ck)
                        if entry is not None and entry[0] <= need_lo and entry[1] >= need_hi:
                            cache.move_to_end(ck)
                            kw = entry[2]
                        else:
                            lo = need_lo if entry is None else min(need_lo, entry[0])
                            hi = need_hi if entry is None else max(need_hi, entry[1])
                            kw = collector(reader, lo, hi)
                            cache[ck] = (lo, hi, kw)
                            if len(cache) > _SWEEP_CACHE_BUCKETS:
                                cache.popitem(last=False)
                    for off, ft_id, pat_id in zip(
                        grp["global_offset"], grp["file_type_id"], grp["pattern_id"]
                    ):
                        rec = carve_hit(
                            reader,
                            int(off),
                            str(ft_id),
                            str(pat_id),
                            registry,
                            cfg,
                            sweep_kwargs=kw,
                        )
                        if rec is not None:
                            rows.append(_record_to_tuple(rec))
                yield pd.DataFrame(rows, columns=_CARVE_COLUMNS)
        finally:
            reader.close()

    # composite shuffle key: swept families co-locate per (family,
    # offset // bucket_w); everything else spreads by offset hash --
    # one task never owns all the expensive hits, and adding a sweep
    # family costs zero extra passes or shuffles
    key = F.concat(F.lit("r:"), F.col("global_offset").cast("string"))
    for famname, (bucket_w, _) in fam_geom.items():
        ids = [tid for tid, f in route.items() if f == famname]
        key = F.when(
            F.col("file_type_id").isin(ids),
            F.concat(
                F.lit(famname + ":"),
                F.floor(F.col("global_offset") / bucket_w).cast("string"),
            ),
        ).otherwise(key)
    return hits.repartition(n, key).mapInPandas(carve_all, schemas.CARVED_FILES)


class WindowReader(Reader):
    """Reader over a reassembled byte window anchored at a global offset.
    Reads outside the window return empty (treated as EOF by handlers,
    which then mark truncation — same as the reference at evidence end).

    `limit_end` (absolute, exclusive) caps how far a single hit may
    read even when the underlying buffer extends further — this is how
    the per-type window cap stays semantic when many hits share one
    run buffer. Tracks `hit_window_end`: a read ran past the limit
    while the evidence itself continues — i.e. the window cap, not
    evidence EOF, is what cut the handler short. Callers surface that
    as an explicit `over_cap` error instead of letting it masquerade
    as truncation at end-of-evidence."""

    def __init__(
        self,
        window_start: int,
        data: bytes,
        evidence_len: int,
        limit_end: int | None = None,
    ):
        self._start = window_start
        self._data = data
        self._len = evidence_len
        self._limit = (
            min(limit_end, window_start + len(data))
            if limit_end is not None
            else window_start + len(data)
        )
        self.hit_window_end = False

    def length(self) -> int:
        return self._len

    def read_at(self, offset: int, length: int) -> bytes:
        rel = offset - self._start
        if rel < 0 or length <= 0:
            return b""
        lim_rel = self._limit - self._start
        # a read wanting bytes past the window while the EVIDENCE
        # continues past the window means the cap (not EOF) cut it —
        # regardless of how far past the end the read asked to go
        if rel + length > lim_rel and self._limit < self._len:
            self.hit_window_end = True
        if rel >= lim_rel:
            return b""
        return self._data[rel : min(rel + length, lim_rel)]


def _validate_windows(
    cfg: EngineConfig, window_cap: int | None
) -> tuple[dict[str, int], int, int]:
    """Effective per-type windows, their max, and the cap."""
    cap = window_cap if window_cap is not None else 128 * 1024 * 1024
    eff = {ft.type_id: min(ft.max_size, cap) for ft in cfg.file_types}
    worst = max(eff.values(), default=0)
    if worst > _WINDOW_CAP_LIMIT:
        raise ValueError(
            f"effective carve window {worst} exceeds the {_WINDOW_CAP_LIMIT}-byte "
            "bound of the chunk-join strategy (each in-flight hit buffers up "
            "to a full window of contiguous bytes in a single-row-scale "
            "Python allocation); carve such types via "
            "carve_hits_with_evidence instead"
        )
    return eff, worst, cap


def carve_hits_with_chunks(
    hits: DataFrame,
    chunks: DataFrame,
    cfg: EngineConfig,
    window_cap: int | None = None,
    evidence_len: int | None = None,
) -> DataFrame:
    """Carve from the chunk table alone (strategy 2, no evidence re-read).

    The chunk table is bucketed into contiguous spans of
    `max(_BUCKET_BYTES, worst_window + backup)` bytes; each
    chunk also serves the preceding bucket(s) whose hits can reach it
    (the `reach` tail — duplication factor 1 + reach/span, bounded ~2x
    even when the window dominates). Hits go to the bucket of their
    first claimed chunk, so every hit's full window is present in
    exactly one group, and a cogrouped applyInPandas assembles each
    bucket buffer once and carves all its hits. A broadcast semi-join
    keeps buckets with no hits out of the shuffle entirely (sparse
    evidence ships only the buckets it needs). The table's row order
    and file layout do not matter.

    `evidence_len`: total evidence length — the chunk *plan* knows it
    arithmetically, so callers thread it in rather than paying a full
    aggregation job over the chunk table mid-plan. When None, each
    hit uses its own window extent as EOF (same truncation outcome,
    but over-cap cuts can't be told apart from evidence end).

    `window_cap` (default 128 MiB) bounds each type's window at
    min(max_size, window_cap). A hit whose window cuts the carve short
    while the evidence continues gets an explicit `over_cap` error
    instead of a silent eof-style truncation (pinned by
    tests/test_carve_op.py); a window past _WINDOW_CAP_LIMIT (1.5 GiB)
    is rejected at plan time.

    Heap law: the working set is the chunk CACHE plus, per concurrent
    task, one bucket group — its bucket's `span` chunks plus the `reach`
    chunks after them, held once as the cogroup's pandas frame and once
    as the assembled run buffer — roughly
    cache + 2 x tasks x (span + reach) x chunk_size, with
    reach = ceil((512 + window) / chunk_size) + 1 chunks and
    span = max(16 MiB / chunk_size, reach). At a 512 MiB chunk and the
    default 128 MiB window a group is 4 chunks (2 GiB), so each
    concurrent task needs several GiB of heap. Use positioned reads
    (carve_hits_with_evidence) for multi-GiB windows such as mov/webm
    at their 10 GiB max_size.
    """
    eff, worst, cap = _validate_windows(cfg, window_cap)
    chunk_size = cfg.chunk_size
    overlap = cfg.overlap
    # chunks a hit can claim beyond its first: header backup (512 B,
    # tar/mobi anchor before the hit) + the per-type window
    reach = math.ceil((512 + worst) / chunk_size) + 1
    span = max(
        max(1, _BUCKET_BYTES // chunk_size),
        reach,  # keep duplication factor (1 + reach/span) <= 2
    )

    hit_rows = hits.select(
        "global_offset",
        "file_type_id",
        "pattern_id",
        F.expr(
            f"cast(greatest(0, (global_offset - 512) div {chunk_size})"
            f" div {span} as long)"
        ).alias("bucket"),
    )
    # chunk -> every bucket whose hits can reach it: its own bucket plus
    # earlier ones within `reach` chunks (sequence is 1-2 entries unless
    # the window dominates the span, which `span >= reach` bounds at 2)
    chunk_rows = chunks.select(
        "start",
        "valid_length",
        "data",
        F.explode(
            F.sequence(
                F.expr(f"cast(greatest(0, (chunk_id - {reach}) div {span}) as long)"),
                F.expr(f"cast(chunk_id div {span} as long)"),
            )
        ).alias("bucket"),
    )
    # prune buckets nobody hit BEFORE the chunk bytes shuffle: sparse
    # evidence ships only the buckets it needs
    chunk_rows = chunk_rows.join(
        F.broadcast(hit_rows.select("bucket").distinct()), "bucket", "left_semi"
    )

    reg_holder: list = []  # registry survives across groups within a task

    def carve_bucket(hits_pdf: pd.DataFrame, chunks_pdf: pd.DataFrame) -> pd.DataFrame:
        if hits_pdf.empty or chunks_pdf.empty:
            return pd.DataFrame(columns=_CARVE_COLUMNS)
        if not reg_holder:
            reg_holder.append(build_registry(cfg))
        registry = reg_holder[0]
        # assemble contiguous runs: interior chunks contribute their
        # valid region, the final chunk of each run adds its overlap
        # tail (gaps only arise from bounded/resumed chunk tables)
        order = sorted(
            zip(chunks_pdf["start"], chunks_pdf["valid_length"], chunks_pdf["data"])
        )
        runs: list[tuple[int, bytes]] = []  # (run_start, buffer)
        seg_start, segs, pos = None, [], None
        prev_data, prev_vlen = b"", 0
        for start, vlen, data in order:
            start, vlen = int(start), int(vlen)
            if seg_start is None:
                seg_start, segs, pos = start, [], start
            elif start != pos:
                segs.append(prev_data)  # run's last chunk keeps overlap tail
                runs.append((seg_start, b"".join(segs)))
                seg_start, segs, pos = start, [], start
            else:
                segs.append(prev_data[:prev_vlen])
            prev_data, prev_vlen = bytes(data), vlen
            pos = start + vlen
        if seg_start is not None:
            segs.append(prev_data)
            runs.append((seg_start, b"".join(segs)))

        rows = []
        for off, ft_id, pat_id in zip(
            hits_pdf["global_offset"],
            hits_pdf["file_type_id"],
            hits_pdf["pattern_id"],
        ):
            off, ft_id, pat_id = int(off), str(ft_id), str(pat_id)
            buf = None
            for run_start, run_buf in runs:
                if run_start <= off < run_start + len(run_buf):
                    buf, buf_start = run_buf, run_start
                    break
            if buf is None:
                continue  # hit's own chunk absent (bounded table edge)
            win = eff.get(ft_id, cap)
            last_claimed = (off + win - 1) // chunk_size
            limit_end = min(
                buf_start + len(buf), (last_claimed + 1) * chunk_size + overlap
            )
            reader = WindowReader(
                buf_start,
                buf,
                evidence_len if evidence_len is not None else limit_end,
                limit_end=limit_end,
            )
            rec = carve_hit(reader, off, ft_id, pat_id, registry, cfg)
            if rec is not None:
                if reader.hit_window_end:
                    rec.errors = [*rec.errors, "over_cap"]
                rows.append(_record_to_tuple(rec))
        return pd.DataFrame(rows, columns=_CARVE_COLUMNS)

    return (
        hit_rows.groupby("bucket")
        .cogroup(chunk_rows.groupby("bucket"))
        .applyInPandas(carve_bucket, schemas.CARVED_FILES)
    )
