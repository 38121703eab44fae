"""The benchmark's workloads, each one closed loop on one session.

A run sets up (session, kernel, inputs), then runs passes back to back
until `seconds` have elapsed, at least one. There is no warm-up pass:
the first timed pass is the one an analyst's CLI run or a driver's
first query sees in a fresh JVM. A carve pass is one analyst run of
the CLI, in-process; a catalog/stream pass runs every catalog query and
then every streaming query, collecting each result. Outputs are
checked after each pass, outside its timing.

With `trace` the run instead measures one pass per layer: it drives the
engine stage by stage (or each query phase) under its own job group,
folds Spark's status store per group, and reports how much slower the
traced pass was than an untraced one.
"""

from __future__ import annotations

import contextlib
import dataclasses
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

from perfbench import checks, fold, gen

MIB = gen.MIB
CARVE_MIB = 64
SETUP_REPEATS = 3
CATALOG = (
    "q02_chunked_scan",
    "q05_sessionize",
    "q06_join_history",
    "q09_run_summary",
    "q17_extract_urls",
    "q18_exact_dedup",
    "q20_token_stats",
    "q22_langid",
    "q23_cosine_topk",
    "q24_pricing_summary",
    "q26_minhash_neardup",
    "q27_simhash_neardup",
    "q28_lsh_topk",
    "q80_pagerank",
    "q134_bfs_distances",
)
STREAMS = (
    "q37_stream_sessionize",
    "q47_stream_window_agg",
    "q52_stream_dedup",
    "q53_stream_interval_join",
    "q78_stream_static_join",
)
CARVE_LAYERS = ("fused_scan", "carve_op", "strings_scan", "entropy", "parsers", "sinks")
LAYER_FIELDS = ("wall_s", "cpu_s", "tasks", "shuffle_bytes", "spill_bytes", "gc_s", "rows_out")
WORKLOADS = ("carve_raw_text", "catalog_stream")


def per_layer_names() -> list[str]:
    """Every per-layer metric name, in report order."""
    names = ["session.start_s", "jvm.kernel_s", "gen.image_s", "ewf.write_s", "gen.tables_s"]
    names += [f"{layer}.{f}" for layer in CARVE_LAYERS for f in LAYER_FIELDS]
    names += [
        "fused_scan.mib_per_core_s",
        "carve_op.yield",
        "strings_scan.artefacts_per_span",
        "sinks.bytes_per_evidence_byte",
        "source.read_mib_s",
        "ewf.read_mib_s",
        "engine.driver_gap_s",
        "engine.jobs",
    ]
    names += [f"queries.{q}.{f}" for q in CATALOG for f in ("build_s", "execute_s", "cpu_s")]
    names += ["queries.driver_latency_s", "queries.jobs", "queries.shuffle_bytes"]
    names += [f"streaming.{q}.wall_s" for q in STREAMS]
    names += [
        f"streaming.{k}"
        for k in (
            "batches",
            "empty_batches",
            "add_batch_ms",
            "empty_batch_ms",
            "state_commit_ms",
            "query_planning_ms",
            "wal_commit_ms",
            "state_rows",
        )
    ]
    names += ["trace.overhead_s", "jvm.peak_rss_mib"]
    return names


# --- session and pass plumbing ------------------------------------------------


class RssSampler:
    """Peak resident set size of one process, sampled every 20 ms."""

    def __init__(self, pid: int):
        self._path = f"/proc/{pid}/status"
        self._stop = threading.Event()
        self.peak_kib = 0
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        try:
            with open(self._path) as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        self.peak_kib = max(self.peak_kib, int(line.split()[1]))
                        return
        except OSError:
            pass

    def _run(self) -> None:
        while not self._stop.wait(0.02):
            self._sample()

    def __enter__(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


@dataclasses.dataclass
class Harness:
    spark: object
    store: fold.StatusStore
    jvm_pid: int
    work: str
    setup: dict

    def group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(name, name)

    def timed(self, fn) -> dict:
        """Run `fn` once; its wall, executor CPU and JVM peak RSS."""
        job0 = self.store.last_job_id()
        with RssSampler(self.jvm_pid) as rss:
            t0 = time.perf_counter()
            fn()
            wall = time.perf_counter() - t0
        totals = self.store.fold_after(job0)
        return {"wall_s": wall, "cpu_s": totals["cpu_s"], "rss_mib": rss.peak_kib / 1024}

    @contextlib.contextmanager
    def scratch(self):
        """Remove what a pass leaves in the benchmark's TMPDIR."""
        tmp = os.environ["TMPDIR"]
        before = set(os.listdir(tmp))
        try:
            yield
        finally:
            for name in set(os.listdir(tmp)) - before:
                path = os.path.join(tmp, name)
                if os.path.isdir(path):
                    shutil.rmtree(path, ignore_errors=True)
                else:
                    os.unlink(path)


def start_session(work: str) -> Harness:
    t0 = time.perf_counter()
    from swiftbeaver_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            # -XX:-UsePerfData: no hsperfdata file outside the checkout
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/jvm-tmp -XX:-UsePerfData",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "20000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect()
    t1 = time.perf_counter()
    from swiftbeaver_spark.jvm import ensure_kernel

    if not ensure_kernel(spark):
        raise RuntimeError("the JVM scan kernel did not build or register")
    t2 = time.perf_counter()
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return Harness(
        spark=spark,
        store=fold.StatusStore(spark.sparkContext),
        jvm_pid=int(pid),
        work=work,
        setup={"session.start_s": t1 - t0, "jvm.kernel_s": t2 - t1},
    )


def stop_session() -> None:
    """Stop Spark and wait for its JVM (and the Python workers it
    forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def repeat_median(fn, repeats: int = SETUP_REPEATS) -> float:
    walls = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def closed_loop(seconds: float, one_pass) -> list[dict]:
    """Passes back to back until `seconds` have elapsed (at least one)."""
    passes = []
    t0 = time.perf_counter()
    while not passes or time.perf_counter() - t0 < seconds:
        passes.append(one_pass(len(passes)))
    return passes


def summarize(passes: list[dict], setup_s: float, input_mib: float) -> dict:
    wall = statistics.median(p["wall_s"] for p in passes)
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall, "s"),
        "throughput_mib_s": (input_mib / wall, "MiB/s"),
        "cpu_s": (statistics.median(p["cpu_s"] for p in passes), "s"),
    }


# --- carve workload -------------------------------------------------------------


def analyst_argv(evidence: str, out: str) -> list[str]:
    return [
        "--input", evidence,
        "--output", out,
        "--format", "parquet",
        "--types", ",".join(gen.CARVE_TYPES),
        "--enable-string-scan",
        "--enable-entropy",
        "--enable-page-recovery",
    ]


def analyst_config():
    """The EngineConfig the CLI builds from `analyst_argv`'s flags."""
    from swiftbeaver_spark.config_yaml import load_config

    cfg = load_config(None).config.with_types(list(gen.CARVE_TYPES))
    return dataclasses.replace(
        cfg,
        enable_string_scan=True,
        enable_entropy_detection=True,
        enable_sqlite_page_recovery=True,
    )


def _read_mib_s(path: str) -> float:
    """Sequential `open_evidence().read_at` pass in 4 MiB reads."""
    from swiftbeaver_spark.source import open_evidence

    reader = open_evidence(path)
    try:
        total = reader.length()
        t0 = time.perf_counter()
        for off in range(0, total, 4 * MIB):
            reader.read_at(off, 4 * MIB)
        return total / MIB / (time.perf_counter() - t0)
    finally:
        reader.close()


def _parquet_rows_bytes(out: str) -> tuple[int, int]:
    import pyarrow.parquet as pq

    rows = size = 0
    for dirpath, _, files in os.walk(out):
        for f in files:
            path = os.path.join(dirpath, f)
            size += os.path.getsize(path)
            if f.endswith(".parquet"):
                rows += pq.ParquetFile(path).metadata.num_rows
    return rows, size


def run_carve(h: Harness, seed: int, seconds: float, trace: bool) -> dict:
    data = os.path.join(h.work, "data")
    raw = os.path.join(data, "image.raw")
    manifest = None

    def make():
        nonlocal manifest
        manifest = gen.make_image(raw, seed, CARVE_MIB)

    h.setup["gen.image_s"] = repeat_median(make)
    from swiftbeaver_spark.__main__ import main as analyst_main

    tally = {"attempted": 0, "failed": 0}

    def analyst_pass(k) -> dict:
        out = os.path.join(h.work, "out", f"pass{k}")
        with h.scratch():
            h.group(f"perfbench:pass{k}")
            with contextlib.redirect_stdout(sys.stderr):
                rec = h.timed(lambda: analyst_main(analyst_argv(raw, out)))
            h.spark.catalog.clearCache()
            attempted, failed = checks.check_carve_output(manifest, out)
        tally["attempted"] += attempted
        tally["failed"] += failed
        shutil.rmtree(out, ignore_errors=True)
        return rec

    if not trace:
        passes = closed_loop(seconds, analyst_pass)
        metrics = summarize(passes, sum(h.setup.values()), manifest.size / MIB)
        return {"metrics": metrics, "tally": tally, "walls": [p["wall_s"] for p in passes]}

    analyst_pass("cold")  # so the traced and untraced passes compare warm
    traced = traced_carve(h, raw, manifest, tally)
    untraced = analyst_pass("untraced")
    layers = dict(traced["layers"])
    layers["trace.overhead_s"] = traced["wall_s"] - untraced["wall_s"]
    layers["jvm.peak_rss_mib"] = untraced["rss_mib"]
    # the EWF layer: write the same media as an E01 container, then
    # read each source back sequentially
    from swiftbeaver_spark.ewf import write_ewf

    e01 = os.path.join(data, "image.E01")
    with open(raw, "rb") as fh:
        media = fh.read()
    h.setup["ewf.write_s"] = repeat_median(lambda: write_ewf(e01, media))
    del media
    layers["source.read_mib_s"] = _read_mib_s(raw)
    layers["ewf.read_mib_s"] = _read_mib_s(e01)
    return {"layers": layers, "tally": tally}


def traced_carve(h: Harness, evidence: str, manifest: gen.Manifest, tally: dict) -> dict:
    """One engine run driven stage by stage, each stage its own job group."""
    from swiftbeaver_spark.engine import Engine, write_tables

    out = os.path.join(h.work, "out", "traced")
    job0 = h.store.last_job_id()
    walls, rows = {}, {}
    with h.scratch(), contextlib.redirect_stdout(sys.stderr):
        t0 = time.perf_counter()
        h.group("perfbench:plan")
        run = Engine(h.spark, analyst_config()).run(evidence_path=evidence, cache_intermediates=True)

        def count(*tables):
            return sum(run[t].count() for t in tables)

        stages = {
            "fused_scan": lambda: (run.persisted[0].count(), count("hits"))[1],
            "carve_op": lambda: count("carved_files"),
            "strings_scan": lambda: (count("string_spans"), count("string_artefacts")),
            "entropy": lambda: count("entropy_regions"),
            "parsers": lambda: count("browser_history", "browser_cookies", "browser_downloads"),
            "sinks": lambda: write_tables(run, out, fmt="parquet"),
        }
        for name, thunk in stages.items():
            h.group(f"perfbench:{name}")
            ts = time.perf_counter()
            rows[name] = thunk()
            walls[name] = time.perf_counter() - ts
        wall = time.perf_counter() - t0
        h.group("perfbench")
        run.unpersist()
    spans, artefacts = rows["strings_scan"]
    rows["strings_scan"] = artefacts
    rows["sinks"], out_bytes = _parquet_rows_bytes(out)
    attempted, failed = checks.check_carve_output(manifest, out)
    tally["attempted"] += attempted
    tally["failed"] += failed
    shutil.rmtree(out, ignore_errors=True)

    jobs = h.store.jobs_after(job0)
    by_group = fold.group_jobs(jobs)
    stage_data = h.store.stages(jobs)
    layers = {}
    for name in stages:
        f = fold.fold_jobs(by_group.get(f"perfbench:{name}", []), stage_data)
        layers.update(
            {
                f"{name}.wall_s": walls[name],
                f"{name}.cpu_s": f["cpu_s"],
                f"{name}.tasks": f["tasks"],
                f"{name}.shuffle_bytes": f["shuffle_bytes"],
                f"{name}.spill_bytes": f["spill_bytes"],
                f"{name}.gc_s": f["gc_s"],
                f"{name}.rows_out": rows[name],
            }
        )
        if name == "fused_scan":
            layers["fused_scan.mib_per_core_s"] = manifest.size / MIB / max(f["run_s"], 1e-9)
    all_jobs = fold.fold_jobs(jobs, stage_data)
    layers["carve_op.yield"] = rows["carve_op"] / max(rows["fused_scan"], 1)
    layers["strings_scan.artefacts_per_span"] = artefacts / max(spans, 1)
    layers["sinks.bytes_per_evidence_byte"] = out_bytes / manifest.size
    layers["engine.driver_gap_s"] = wall - all_jobs["busy_s"]
    layers["engine.jobs"] = all_jobs["jobs"]
    return {"wall_s": wall, "layers": layers}


# --- catalog and streaming queries -------------------------------------------------


def run_catalog_stream(h: Harness, seed: int, seconds: float, trace: bool) -> dict:
    import __spark_entry__ as entry

    tables = os.path.join(h.work, "data", "tables")
    h.setup["gen.tables_s"] = repeat_median(lambda: gen.write_tables(tables, seed))
    input_mib = sum(
        os.path.getsize(os.path.join(tables, f)) for f in os.listdir(tables)
    ) / MIB
    qs, oracles = entry.queries(), entry.oracle_sql()
    oracle = checks.oracle_connection(tables, gen.TABLES)
    tally = {"attempted": 0, "failed": 0}

    def run_query(name: str):
        df = qs[name](h.spark, tables)
        return df.columns, [tuple(r) for r in df.collect()]

    def verify(results: dict) -> None:
        for name in CATALOG + STREAMS:
            tally["attempted"] += 1
            got = results.get(name)
            problem = "raised" if got is None else checks.oracle_problem(*got, oracles[name], oracle)
            if problem:
                tally["failed"] += 1
                print(f"# {name}: {problem}", file=sys.stderr)

    def query_pass(k: int) -> dict:
        results = {}

        def body():
            for name in CATALOG + STREAMS:
                try:
                    results[name] = run_query(name)
                except Exception as exc:  # counted as a failure by verify
                    print(f"# {name} raised {type(exc).__name__}: {exc}", file=sys.stderr)

        with h.scratch():
            h.group(f"perfbench:pass{k}")
            rec = h.timed(body)
        verify(results)
        return rec

    setup_s = sum(h.setup.values())
    try:
        if not trace:
            passes = closed_loop(seconds, query_pass)
            metrics = summarize(passes, setup_s, input_mib)
            return {"metrics": metrics, "tally": tally, "walls": [p["wall_s"] for p in passes]}
        query_pass(0)  # cold pass, so the traced and untraced passes compare warm
        traced = traced_queries(h, qs, tables, run_query, verify)
        untraced = query_pass(1)
    finally:
        oracle.close()
    layers = dict(traced["layers"])
    layers["trace.overhead_s"] = traced["wall_s"] - untraced["wall_s"]
    layers["jvm.peak_rss_mib"] = untraced["rss_mib"]
    return {"layers": layers, "tally": tally}


def traced_queries(h: Harness, qs: dict, tables: str, run_query, verify) -> dict:
    """One pass with every query phase in its own job group and a
    progress listener on the streams."""
    listener = fold.make_progress_listener()
    h.spark.streams.addListener(listener)
    job0 = h.store.last_job_id()
    walls, results, progress = {}, {}, []
    try:
        with h.scratch():
            t0 = time.perf_counter()
            for name in CATALOG:
                h.group(f"{name}:build")
                ts = time.perf_counter()
                df = qs[name](h.spark, tables)
                tb = time.perf_counter()
                h.group(f"{name}:execute")
                results[name] = df.columns, [tuple(r) for r in df.collect()]
                walls[name] = (tb - ts, time.perf_counter() - tb)
            for name in STREAMS:
                h.group(f"{name}:build")
                ts = time.perf_counter()
                results[name] = run_query(name)
                walls[name] = time.perf_counter() - ts
                progress += listener.take(1)
            wall = time.perf_counter() - t0
            h.group("perfbench")
    finally:
        h.spark.streams.removeListener(listener)
    verify(results)

    jobs = h.store.jobs_after(job0)
    by_group = fold.group_jobs(jobs)
    stage_data = h.store.stages(jobs)
    layers = {"queries.driver_latency_s": 0.0, "queries.jobs": 0, "queries.shuffle_bytes": 0}
    for name in CATALOG:
        build = fold.fold_jobs(by_group.get(f"{name}:build", []), stage_data)
        execute = fold.fold_jobs(by_group.get(f"{name}:execute", []), stage_data)
        build_s, execute_s = walls[name]
        layers[f"queries.{name}.build_s"] = build_s
        layers[f"queries.{name}.execute_s"] = execute_s
        layers[f"queries.{name}.cpu_s"] = build["cpu_s"] + execute["cpu_s"]
        layers["queries.driver_latency_s"] += build_s - build["busy_s"]
        layers["queries.jobs"] += build["jobs"] + execute["jobs"]
        layers["queries.shuffle_bytes"] += build["shuffle_bytes"] + execute["shuffle_bytes"]
    for name in STREAMS:
        layers[f"streaming.{name}.wall_s"] = walls[name]
    for key, value in fold.fold_progress(progress).items():
        layers[f"streaming.{key}"] = value
    return {"wall_s": wall, "layers": layers}
