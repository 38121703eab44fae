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

2. `carve_hits_with_chunks` — pure-DataFrame over the materialized
   chunk table (the 100 TB path: no evidence re-read). Two phases:

   a. STREAM pass (default): hit metadata is aggregated per chunk and
      broadcast onto the chunk scan, and a mapInArrow walks each
      partition's contiguous chunk runs carving hits whose window
      completes inside the run. The chunk bytes NEVER shuffle — the
      only data that moves is O(hits) metadata — and they cross Arrow
      as zero-copy buffers. Depends on the chunk table holding
      contiguous evidence runs per file (chunking.py writes it that
      way); a scattered table just degrades to phase (b).
   b. COGROUP fallback: hits the stream could not finish (window
      crossing a partition/run boundary, or scattered table rows) are
      re-carved by bucketing the chunk table into contiguous spans
      (each chunk also serves earlier buckets within `reach`, so every
      hit's window lies in ONE bucket) and cogrouping hits with chunk
      spans. A broadcast semi-join prunes buckets with no pending
      hits, so this pass touches only the boundary neighborhoods.

Strategy selection (engine.py): positioned reads whenever the evidence
is reachable as a path from executors; the chunk strategy when only
the materialized chunk table is available (object-store columnar
copy), EXCEPT for types whose effective window exceeds
`_WINDOW_CAP_LIMIT` — those must carve via positioned reads (both
chunk phases buffer up to a full window per hit in executor memory).

At cluster scale the broadcast in phase (a) ships hit metadata (tens
of bytes per hit) to each executor once — versus re-shuffling the
chunk bytes themselves, which is what the round-7 collect_list
reassembly did (measured 3x the strategy-1 wall at sf1; the stream
pass removes both the 614 MB shuffle and the duplicated Arrow
transfer, tools/profile_carve_chunkjoin.py). Callers with hit sets
too large to broadcast can force `strategy="cogroup"`, which shuffles
chunk bytes exactly once on narrow bucket keys.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from swiftbeaver_spark import schemas
from swiftbeaver_spark.carvers import build_registry, carve_hit
from swiftbeaver_spark.carvers.base import FileReader, Reader
from swiftbeaver_spark.config import EngineConfig

_CARVE_COLUMNS = [f.name for f in schemas.CARVED_FILES.fields]

# largest per-type effective window the chunk strategy accepts: both
# phases hold up to `window + chunk` contiguous bytes per in-flight hit
# in one Python allocation, so windows past this bound belong on
# strategy 1 (positioned reads) — see "Strategy selection" above
_WINDOW_CAP_LIMIT = 3 * (1 << 29)  # 1.5 GiB
# per-task LRU of sweep-family bucket indexes, keyed (family, bucket)
# — every _SWEEP_FAMILIES collector shares it (zip EOCD geometry,
# bzip2 end markers, ...). Entries are integer position lists, a few
# bytes per magic, so the bound exists for pathology, not pressure
_SWEEP_CACHE_BUCKETS = 64

# default contiguous bucket span for the cogroup phase: big enough to
# amortize per-group overhead, small enough that one group's buffer is
# a footnote in executor memory and short scans still parallelize
_DEFAULT_BUCKET_BYTES = 16 * 1024 * 1024

# kept under its historical name: tests and engine docs refer to the
# chunk strategy's window bound by this alias
_ROW_CAP_LIMIT = _WINDOW_CAP_LIMIT

# per-partition byte budget for the stream pass's head stashes +
# deferred tails (module-level so tests can force the degradation
# path): past it, stashes strip to key-only pending rows and the
# cogroup backstop takes over — correctness unchanged, re-scan cost
# returns. With the default 128 MiB window cap, reach-sized stashes
# across many runs could otherwise echo a whole partition through
# worker memory and the metadata output.
_STASH_BUDGET = 64 << 20

# stream-pass output: carve columns (nullable) + pending-hit columns +
# run-edge columns. Pending rows carry the un-carved hit key and (when
# the partition is contiguous) the hit's partial window bytes; edge
# rows carry a run's head/back byte stashes so the boundary-resolve
# pass can stitch windows across partitions WITHOUT re-scanning the
# chunk table; carved rows leave all of those null.
_STREAM_SCHEMA = StructType(
    [StructField(f.name, f.dataType, True) for f in schemas.CARVED_FILES.fields]
    + [
        StructField("pending", BooleanType(), False),
        StructField("h_off", LongType(), True),
        StructField("h_ft", StringType(), True),
        StructField("h_pat", StringType(), True),
        StructField("h_wstart", LongType(), True),
        StructField("h_bytes", BinaryType(), True),
        StructField("h_lim", LongType(), True),
        StructField("edge", BooleanType(), False),
        StructField("e_start", LongType(), True),
        StructField("e_vend", LongType(), True),
        StructField("e_head", BinaryType(), True),
        StructField("e_back", BinaryType(), True),
    ]
)


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
# after the density A/B, tools/bench_bzip2_density.py): on a planted
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
#
# The bool is `early_exit`: whether the per-hit sweep can stop at the
# first match. Early-exit families only profit from the shared index
# at density -- a single-hit bucket's tight index read equals the
# hit's WORST-case sweep -- so they take the index only when a bucket
# group holds >= 2 hits.
_SWEEP_FAMILIES = {
    "zip": (_collect_zip_eocds_kw, False),
}


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
    # family routing: type_id -> family, family -> (bucket_w, collector,
    # early_exit). max_size=0 means an UNBOUNDED window (scan to EOF) --
    # no finite bucket can cover it, so any such type routes its whole
    # family through the per-hit path (correct for any window; the
    # shared index is purely an optimization).
    route: dict[str, str] = {}
    fam_geom: dict[str, tuple[int, object, bool]] = {}
    for validator, (collector, early_exit) in _SWEEP_FAMILIES.items():
        fam = [ft for ft in cfg.file_types if ft.validator == validator]
        if not fam or any(ft.max_size <= 0 for ft in fam):
            continue
        fam_geom[validator] = (max(ft.max_size for ft in fam), collector, early_exit)
        for ft in fam:
            route[ft.type_id] = validator

    def carve_all(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from collections import OrderedDict

        from swiftbeaver_spark.source import open_evidence

        registry = build_registry(cfg)
        reader = open_evidence(evidence_path)
        # The index covers the TIGHT range a batch group needs
        # ([first hit, last hit + bucket_w)), not the full 2x
        # envelope -- always-envelope sweeps regressed sparse
        # early-exit families (see _SWEEP_FAMILIES). Arrow may
        # split one offset-bucket's hits across batches (ADVICE
        # r11), so the cache is coverage-aware: reuse when the
        # cached range covers this group's need, extend (union of
        # ranges) otherwise. Bounded LRU keyed (family, bucket);
        # entries are magic positions (plus 12-byte geometry for
        # zip), a few bytes each. Handlers filter candidates to
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
                        bucket_w, collector, early_exit = fam_geom[famname]
                        # early-exit families only profit from the index
                        # at density (see _SWEEP_FAMILIES)
                        if not early_exit or len(grp) >= 2:
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
    for famname, (bucket_w, _, _) in fam_geom.items():
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
        # a read below window_start — callers that CLIPPED the window
        # (stream pass at a run boundary) use this to detect that the
        # handler wanted backup bytes the run doesn't hold
        self.read_before_start = False

    def length(self) -> int:
        return self._len

    def read_at(self, offset: int, length: int) -> bytes:
        rel = offset - self._start
        if rel < 0:
            self.read_before_start = True
            return b""
        if length <= 0:
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
    cfg: EngineConfig, window_cap: int | None, window_caps: dict[str, int] | None
) -> tuple[dict[str, int], int, int]:
    """Effective per-type windows, their max, and the default cap."""
    registry_types = {ft.type_id: ft.max_size for ft in cfg.file_types}
    cap = window_cap if window_cap is not None else 128 * 1024 * 1024
    caps = window_caps or {}
    eff = {tid: min(ms, caps.get(tid, cap)) for tid, ms in registry_types.items()}
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
    window_caps: dict[str, int] | None = None,
    bucket_bytes: int = _DEFAULT_BUCKET_BYTES,
    strategy: str = "stream",
) -> DataFrame:
    """Carve from the chunk table alone (strategy 2, no evidence re-read).

    `strategy="stream"` (default): shuffle-free stream pass over the
    chunk scan + cogroup fallback for boundary hits (module docstring).
    `strategy="cogroup"`: the bucketed cogroup alone — for hit sets too
    large to broadcast (it shuffles chunk bytes once on bucket keys
    instead of broadcasting hit metadata).

    `evidence_len`: total evidence length — the chunk *plan* knows it
    arithmetically, so callers thread it in rather than paying a full
    aggregation job over the chunk table mid-plan. When None, each
    hit uses its own window extent as EOF (same truncation outcome,
    but over-cap cuts can't be told apart from evidence end, and
    end-of-run hits take the fallback pass).

    `window_caps`: per-type overrides of `window_cap` — big-media types
    (mov/webm/wmv, max_size 10 GiB) can be given a larger window than
    the default. A hit whose per-type window still cuts the carve short
    gets an explicit `over_cap` error instead of a silent eof-style
    truncation (pinned by tests/test_carve_op.py).
    """
    eff, worst, cap = _validate_windows(cfg, window_cap, window_caps)
    if strategy == "cogroup":
        return _carve_cogroup(
            hits, chunks, cfg, eff, worst, cap, evidence_len, bucket_bytes
        )
    if strategy != "stream":
        raise ValueError(f"unknown carve strategy {strategy!r}")

    chunk_size = cfg.chunk_size
    overlap = cfg.overlap
    ev_len = evidence_len
    eff_map = dict(eff)
    arrow_out = pa.schema(
        [
            ("file_type", pa.string()),
            ("path", pa.string()),
            ("extension", pa.string()),
            ("global_start", pa.int64()),
            ("global_end", pa.int64()),
            ("size", pa.int64()),
            ("md5", pa.string()),
            ("sha256", pa.string()),
            ("validated", pa.bool_()),
            ("truncated", pa.bool_()),
            ("errors", pa.list_(pa.string())),
            ("pattern_id", pa.string()),
            ("pending", pa.bool_()),
            ("h_off", pa.int64()),
            ("h_ft", pa.string()),
            ("h_pat", pa.string()),
            ("h_wstart", pa.int64()),
            ("h_bytes", pa.binary()),
            ("h_lim", pa.int64()),
            ("edge", pa.bool_()),
            ("e_start", pa.int64()),
            ("e_vend", pa.int64()),
            ("e_head", pa.binary()),
            ("e_back", pa.binary()),
        ]
    )
    n_carve_cols = len(_CARVE_COLUMNS)
    empty_carve = (None,) * n_carve_cols
    _NO_HIT = (None, None, None, None, None, None)
    _NO_EDGE = (False, None, None, None, None)
    reg_holder: list = []

    # bytes a deferred window may need past its run end: backup +
    # window + overlap + chunk-alignment slack (also how much of each
    # run's head is stashed for partition-end stitching)
    reach_bytes = worst + 512 + overlap + 2 * chunk_size

    def stream_walk(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.compute as pc

        if not reg_holder:
            reg_holder.append(build_registry(cfg))
        registry = reg_holder[0]
        out_rows: list[tuple] = []

        buf = bytearray()
        buf_start = 0
        pos: int | None = None  # absolute end of valid coverage
        last_tail: bytes = b""
        pending: list[tuple[int, str, str, int]] = []  # off, ft, pat, limit_end
        # partition-end stitching state: files pack into a scan
        # partition in arbitrary order, so a window cut at one file's
        # end usually continues in another run of the SAME partition.
        # Each run stashes its head; windows still pending at run end
        # defer with their tail slice and are stitched before anything
        # falls back to the cogroup pass.
        head = bytearray()
        run_start = 0
        # scattered-table guard: a contiguous chunk table yields few
        # runs per partition, so stashing per-run edge bytes and
        # per-pending partial windows is a few MB. A hash-scattered
        # legacy table yields one run PER ROW — there, emitting bytes
        # would echo the whole partition through the metadata output,
        # so past this bound everything strips to key-only pending
        # rows and the cogroup pass (which handles scattered tables
        # natively) takes over.
        _MAX_STASHED_RUNS = 512
        stash_budget = _STASH_BUDGET  # bound at call time, see module doc
        stash_used = [0]

        def emit_bytes() -> bool:
            return len(runs) <= _MAX_STASHED_RUNS
        # run_start -> (valid_end, head_valid_bytes, overlap_tail,
        #               back_valid_bytes: the run's last ~512+chunk
        #               valid bytes, captured before the buf resets —
        #               what a successor's backward-anchored hit needs)
        runs: dict[int, tuple[int, bytes, bytes, bytes]] = {}
        # tail_start, valid_tail_bytes, own_overlap_tail, pending
        deferred: list[tuple[int, bytes, bytes, list]] = []

        def carve_one(
            off: int, ft: str, pat: str, limit_end: int, w_start: int, w_buf
        ) -> None:
            aligned = (max(0, off - 512) // chunk_size) * chunk_size
            lo = max(w_start, aligned)
            hi_cov = w_start + len(w_buf)
            window = bytes(w_buf[lo - w_start : min(limit_end, hi_cov) - w_start])
            reader = WindowReader(
                lo,
                window,
                ev_len if ev_len is not None else limit_end,
                limit_end=limit_end,
            )
            rec = carve_hit(reader, off, ft, pat, registry, cfg)
            if reader.read_before_start and lo > aligned:
                # the handler wanted header-backup bytes (tar/mobi
                # anchor the carve start before the hit) that sit in
                # another run/partition — this run CLIPPED the claimed
                # window, so the in-stream answer is not faithful.
                # Defer WITH the in-hand forward window: the boundary-
                # resolve pass prepends the predecessor run's back
                # bytes (positioned-read parity). Types that never
                # read backward (the overwhelming majority) are
                # unaffected.
                out_rows.append(
                    (*empty_carve, True, off, ft, pat,
                     lo, window if emit_bytes() else None,
                     limit_end, *_NO_EDGE)
                )
                return
            if rec is not None:
                if reader.hit_window_end:
                    rec.errors = [*rec.errors, "over_cap"]
                out_rows.append(
                    (*_record_to_tuple(rec), False, *_NO_HIT, *_NO_EDGE)
                )

        def resolve(at_eof: bool) -> None:
            if not pending:
                return
            coverage = buf_start + len(buf)
            keep = []
            for off, ft, pat, lim in pending:
                if lim <= coverage or at_eof:
                    carve_one(off, ft, pat, lim, buf_start, buf)
                else:
                    keep.append((off, ft, pat, lim))
            pending[:] = keep

        def end_run() -> None:
            nonlocal buf, buf_start, pos, last_tail
            if pos is None:
                return
            valid_end = pos
            tail = last_tail
            # the run's final chunk contributes its overlap tail
            if tail:
                buf += tail
                last_tail = b""
            coverage = buf_start + len(buf)
            resolve(at_eof=ev_len is not None and coverage >= ev_len)
            # back stash: the handler backup contract is 512 bytes
            # before the hit — 1 KiB covers it at any chunk size;
            # deeper backward reads surface read_before_start in the
            # resolve pass and fall through to the cogroup backstop
            back_from = max(buf_start, valid_end - 1024)
            h_stash = bytes(head)
            if stash_used[0] + len(h_stash) > stash_budget:
                h_stash = b""  # budget-stripped: chaining/stitching
                # through this run degrades to the cogroup backstop
            stash_used[0] += len(h_stash)
            runs[run_start] = (
                valid_end,
                h_stash,
                tail,
                bytes(buf[back_from - buf_start : valid_end - buf_start]),
            )
            if pending:
                keep_from = max(
                    buf_start,
                    ((min(p[0] for p in pending) - 512) // chunk_size) * chunk_size,
                )
                # valid bytes only — stitching re-derives overlap bytes
                # from successor runs (a tail duplicates its successor's
                # first `overlap` valid bytes)
                t_stash = bytes(buf[keep_from - buf_start : valid_end - buf_start])
                if stash_used[0] + len(t_stash) <= stash_budget:
                    stash_used[0] += len(t_stash)
                    deferred.append((keep_from, t_stash, tail, list(pending)))
                else:
                    # over budget: key-only pending -> cogroup backstop
                    for off, ft, pat, _lim in pending:
                        out_rows.append(
                            (*empty_carve, True, off, ft, pat,
                             None, None, None, *_NO_EDGE)
                        )
            pending.clear()
            head.clear()
            buf = bytearray()
            pos = None

        def evict() -> None:
            nonlocal buf, buf_start
            # future hits land in chunks starting at >= pos; their
            # chunk-aligned 512-byte backup never reaches below this
            # (at the production 512 MiB chunk size, retaining a whole
            # extra chunk here would double per-task residency)
            keep_from = ((pos - 512) // chunk_size) * chunk_size
            if pending:
                keep_from = min(
                    keep_from,
                    ((min(p[0] for p in pending) - 512) // chunk_size) * chunk_size,
                )
            keep_from = max(keep_from, buf_start)
            drop = keep_from - buf_start
            # amortize the memmove: only evict in sizable steps
            if drop >= max(1 << 20, len(buf) // 2):
                del buf[:drop]
                buf_start = keep_from

        def finish_partition() -> None:
            end_run()
            for tail_start, tail, own_tail, pend in deferred:
                # extend the valid tail with successor-run heads
                # (chaining on valid ends — heads are valid bytes, so
                # overlap never duplicates); one head is enough unless
                # a successor run is shorter than the needed reach and
                # fully captured, in which case keep chaining through
                ext = bytearray(tail)
                cur = tail_start + len(tail)
                grown = 0
                end_tail = own_tail
                while grown < reach_bytes:
                    nxt = runs.get(cur)
                    if nxt is None:
                        break
                    valid_end, nxt_head, nxt_tail, _nxt_back = nxt
                    ext += nxt_head
                    grown += len(nxt_head)
                    if cur + len(nxt_head) < valid_end:
                        end_tail = b""  # head only partially covers run
                        cur += len(nxt_head)
                        break
                    cur = valid_end  # head IS the whole run; chain on
                    end_tail = nxt_tail
                # a true chain end (no successor) may add the last run's
                # overlap tail — real evidence bytes nothing duplicates
                if end_tail and runs.get(cur) is None:
                    ext += end_tail
                coverage = tail_start + len(ext)
                at_eof = ev_len is not None and coverage >= ev_len
                ext_b = None
                for off, ft, pat, lim in pend:
                    if lim <= coverage or at_eof:
                        carve_one(off, ft, pat, lim, tail_start, ext)
                    else:
                        # crosses the partition boundary -> the
                        # boundary-resolve pass stitches this window
                        # from another partition's edge stash (bytes
                        # included while the table looks contiguous)
                        if ext_b is None and emit_bytes():
                            ext_b = bytes(ext)
                        out_rows.append(
                            (*empty_carve, True, off, ft, pat,
                             tail_start, ext_b, lim, *_NO_EDGE)
                        )
            if emit_bytes():
                for r_start, (valid_end, r_head, r_tail, r_back) in runs.items():
                    # e_head: the run's first bytes (plus the overlap
                    # tail when the head covers the whole run — then it
                    # IS the run); e_back: its last valid bytes
                    whole = len(r_head) >= valid_end - r_start
                    out_rows.append(
                        (*empty_carve, False, *_NO_HIT,
                         True, r_start, valid_end,
                         r_head + r_tail if whole else r_head,
                         r_back)
                    )

        import numpy as np

        def add_hits(offs, fts, pats, j0: int, j1: int) -> None:
            for j in range(j0, j1):
                off, ft = int(offs[j]), fts[j]
                win = eff_map.get(ft, cap)
                lim = ((off + win - 1) // chunk_size + 1) * chunk_size + overlap
                pending.append((off, ft, pats[j], lim))

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            starts = batch.column("start").to_numpy()
            vlens = batch.column("valid_length").to_numpy()
            data_col = batch.column("data")
            hs_col = batch.column("hs")
            # hits, flattened once per batch (no per-row scalar access)
            parents = pc.list_parent_indices(hs_col).to_numpy()
            flat = pc.list_flatten(hs_col)
            h_offs = flat.field("global_offset").to_numpy()
            h_fts = flat.field("file_type_id").to_pylist()
            h_pats = flat.field("pattern_id").to_pylist()
            # contiguous-run segments within the batch
            seg_bounds = (
                [0]
                + (np.nonzero(starts[1:] != starts[:-1] + vlens[:-1])[0] + 1).tolist()
                + [n]
            )
            if overlap == 0:
                # fast path: data == valid region, so a whole contiguous
                # segment appends straight from the Arrow value buffer
                off_buf = data_col.buffers()[1]
                odt = np.int64 if pa.types.is_large_binary(data_col.type) else np.int32
                voffs = np.frombuffer(off_buf, dtype=odt)[
                    data_col.offset : data_col.offset + n + 1
                ]
                vb = memoryview(data_col.buffers()[2])
                for si in range(len(seg_bounds) - 1):
                    i0, i1 = seg_bounds[si], seg_bounds[si + 1]
                    start = int(starts[i0])
                    if pos is None or start != pos:
                        end_run()
                        buf_start = start
                        run_start = start
                    chunk_bytes = vb[voffs[i0] : voffs[i1]]
                    buf += chunk_bytes
                    need = reach_bytes - len(head)
                    if need > 0 and stash_used[0] < stash_budget:
                        head += chunk_bytes[:need]
                    last_tail = b""
                    pos = int(starts[i1 - 1]) + int(vlens[i1 - 1])
                    j0, j1 = np.searchsorted(parents, [i0, i1])
                    if j1 > j0:
                        add_hits(h_offs, h_fts, h_pats, j0, j1)
                    if pending:
                        resolve(at_eof=ev_len is not None and pos >= ev_len)
                    evict()
            else:
                hit_rows = set(parents.tolist())
                for i in range(n):
                    start, vlen = int(starts[i]), int(vlens[i])
                    if pos is None or start != pos:
                        end_run()
                        buf_start = start
                        run_start = start
                    dbuf = data_col[i].as_buffer()
                    valid = dbuf[:vlen]
                    buf += valid
                    if len(head) < reach_bytes and stash_used[0] < stash_budget:
                        head += valid
                    last_tail = bytes(dbuf[vlen:]) if len(dbuf) > vlen else b""
                    pos = start + vlen
                    if i in hit_rows:
                        j0, j1 = np.searchsorted(parents, [i, i + 1])
                        add_hits(h_offs, h_fts, h_pats, j0, j1)
                    if pending:
                        resolve(at_eof=ev_len is not None and pos >= ev_len)
                    evict()
        finish_partition()
        if out_rows:
            cols = list(zip(*out_rows))
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, type=f.type) for c, f in zip(cols, arrow_out)],
                schema=arrow_out,
            )

    hit_by_chunk = (
        hits.select(
            F.expr(f"global_offset div {chunk_size}").alias("chunk_id"),
            F.struct("global_offset", "file_type_id", "pattern_id").alias("h"),
        )
        .groupBy("chunk_id")
        .agg(F.collect_list("h").alias("hs"))
    )
    joined = chunks.join(F.broadcast(hit_by_chunk), "chunk_id", "left").select(
        "start", "valid_length", "data", "hs"
    )
    # the stream output is near-metadata-only (carve records, pending
    # hit keys with bounded partial windows, per-run edge stashes —
    # never the chunk table itself), so persisting it is cheap — and
    # needed: the carved/pending/edge filters all consume it
    out = joined.mapInArrow(stream_walk, _STREAM_SCHEMA).persist()
    carved = out.filter(~F.col("pending") & ~F.col("edge")).select(*_CARVE_COLUMNS)
    pend = out.filter(F.col("pending"))
    edges = out.filter(F.col("edge"))

    # boundary-resolve pass: windows cut at a partition boundary are
    # stitched from OTHER partitions' edge stashes — two broadcast
    # joins and a mapInPandas over the handful of boundary hits. The
    # chunk table is NOT re-scanned (the round-7 fallback re-scanned
    # it per carve call; measured ~0.35 s of the sf1 wall for ~50
    # boundary hits).
    p2_in = (
        pend.select("h_off", "h_ft", "h_pat", "h_wstart", "h_bytes", "h_lim")
        .withColumn("h_cov", F.col("h_wstart") + F.length("h_bytes"))
        .join(
            F.broadcast(
                edges.select(F.col("e_start").alias("h_cov"), "e_head")
            ),
            "h_cov",
            "left",
        )
        .join(
            F.broadcast(
                edges.select(F.col("e_vend").alias("h_wstart"), "e_back")
            ),
            "h_wstart",
            "left",
        )
    )

    def resolve_boundary(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if not reg_holder:
            reg_holder.append(build_registry(cfg))
        registry = reg_holder[0]
        cols = [*_CARVE_COLUMNS, "pending", "h_off", "h_ft", "h_pat"]
        for pdf in batches:
            rows = []
            for off, ft, pat, wstart, hbytes, lim, ehead, eback in zip(
                pdf["h_off"], pdf["h_ft"], pdf["h_pat"], pdf["h_wstart"],
                pdf["h_bytes"], pdf["h_lim"], pdf["e_head"], pdf["e_back"],
            ):
                off, ft, pat = int(off), str(ft), str(pat)
                if hbytes is None:
                    # stripped (scattered table / stash budget) ->
                    # straight to the cogroup backstop
                    rows.append((*empty_carve, True, off, ft, pat))
                    continue
                back = bytes(eback) if eback is not None else b""
                fwd = bytes(ehead) if ehead is not None else b""
                window = back + bytes(hbytes) + fwd
                w_start = int(wstart) - len(back)
                lim = int(lim)
                aligned = (max(0, off - 512) // chunk_size) * chunk_size
                lo = max(w_start, aligned)
                cov = w_start + len(window)
                at_eof = ev_len is not None and cov >= ev_len
                if not (lim <= cov or at_eof):
                    # needs a second forward link -> cogroup pass
                    rows.append((*empty_carve, True, off, ft, pat))
                    continue
                reader = WindowReader(
                    lo,
                    window[lo - w_start : max(0, min(lim, cov) - w_start)],
                    ev_len if ev_len is not None else lim,
                    limit_end=lim,
                )
                rec = carve_hit(reader, off, ft, pat, registry, cfg)
                if reader.read_before_start and lo > aligned:
                    # still missing backup bytes -> cogroup pass
                    rows.append((*empty_carve, True, off, ft, pat))
                    continue
                if rec is not None:
                    if reader.hit_window_end:
                        rec.errors = [*rec.errors, "over_cap"]
                    rows.append((*_record_to_tuple(rec), False, None, None, None))
            yield pd.DataFrame(rows, columns=cols)

    p2_schema = StructType(
        [StructField(f.name, f.dataType, True) for f in schemas.CARVED_FILES.fields]
        + [
            StructField("pending", BooleanType(), False),
            StructField("h_off", LongType(), True),
            StructField("h_ft", StringType(), True),
            StructField("h_pat", StringType(), True),
        ]
    )
    p2_out = p2_in.mapInPandas(resolve_boundary, p2_schema).persist()
    carved2 = p2_out.filter(~F.col("pending")).select(*_CARVE_COLUMNS)

    # totality backstop: hits the stream could not even stash bytes for
    # (scattered tables past the run guard) or that phase 2 could not
    # finish (multi-link chains). Usually EMPTY — AQE's empty-relation
    # propagation then collapses the semi-join and never scans the
    # chunk table. MINIMAL bucket spans (span == reach) keep the
    # shuffle to boundary neighborhoods when it does run.
    pend_keys = p2_out.filter(F.col("pending")).select(
        F.col("h_off").alias("global_offset"),
        F.col("h_ft").alias("file_type_id"),
        F.col("h_pat").alias("pattern_id"),
    )
    fallback = _carve_cogroup(
        pend_keys, chunks, cfg, eff, worst, cap, evidence_len, cfg.chunk_size
    )
    return carved.unionByName(carved2).unionByName(fallback)


def _carve_cogroup(
    hits: DataFrame,
    chunks: DataFrame,
    cfg: EngineConfig,
    eff: dict[str, int],
    worst: int,
    cap: int,
    evidence_len: int | None,
    bucket_bytes: int,
) -> DataFrame:
    """Bucketed-cogroup carve (phase b / standalone `strategy="cogroup"`).

    The chunk table is bucketed into contiguous spans of
    `max(bucket_bytes, worst_window + backup)` bytes; each chunk also
    serves the preceding bucket(s) whose hits can reach it (the `reach`
    tail — duplication factor 1 + reach/span, bounded ~2x even when the
    window dominates). Hits go to the bucket of their first claimed
    chunk, so every hit's full window is present in exactly one group,
    and a cogrouped applyInPandas assembles each bucket buffer once and
    carves all its hits. A broadcast semi-join keeps buckets with no
    hits out of the shuffle entirely (sparse evidence ships only the
    buckets it needs).
    """
    chunk_size = cfg.chunk_size
    overlap = cfg.overlap
    # chunks a hit can claim beyond its first: header backup (512 B,
    # tar/mobi anchor before the hit) + the per-type window
    reach = math.ceil((512 + worst) / chunk_size) + 1
    span = max(
        max(1, bucket_bytes // chunk_size),
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
    # evidence (and the stream pass's boundary-only fallback) ships
    # only the buckets it needs
    chunk_rows = chunk_rows.join(
        F.broadcast(hit_rows.select("bucket").distinct()), "bucket", "left_semi"
    )

    ev_len = evidence_len
    eff_map = dict(eff)
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
            win = eff_map.get(ft_id, cap)
            last_claimed = (off + win - 1) // chunk_size
            limit_end = min(
                buf_start + len(buf), (last_claimed + 1) * chunk_size + overlap
            )
            reader = WindowReader(
                buf_start,
                buf,
                ev_len if ev_len is not None else limit_end,
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
