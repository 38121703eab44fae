"""JVM scan kernels: build + session registration for the Java UDFs.

The Python/numpy kernels top out around 17-50 MiB/s per core — the
honest bottleneck at 100 TB. The Java kernels (java/src/sbspark/)
keep evidence bytes JVM-side end to end: the Aho-Corasick signature
scan (Ac) runs ONE automaton pass regardless of pattern count and
returns packed hit longs; the string-span scan (Strs, round 10) runs
the ascii/utf-8/utf-16 run detection + piece grids + hint flags at
~30 MiB/s/core (13x the Python kernel) with continuation-aware
sub-chunk windows, its UTF-8 printability table exported FROM PYTHON
in the spec string so parity cannot drift with JVM Unicode versions;
the entropy window scan (Ent, round 11) folds byte histograms through
a per-count contribution table exported FROM numpy, its summation
replicating numpy's pairwise tree so entropy doubles are bit-identical.
Reference parity: the CPU scan loops of src/scanner/cpu.rs:40-69,
src/strings/cpu.rs:42-216, and src/entropy.rs:19-91.

The jar compiles lazily with the JDK that ships in the image (javac
against pyspark's own jars) and registers into ANY session via
ADD JAR + registerJavaFunction. The three scans run fused in
sb_scan_all (one positioned read per sub-chunk, fused_scan.py) on
evidence runs. If compilation or registration fails, every entry point
falls back to its Python kernel — evidence runs scan the cached chunk
table instead — so the engine keeps working on JRE-only machines.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import tempfile

from pyspark.sql import SparkSession

_JAVA_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "java")
_JAR_NAME = "sb-kernel.jar"
_SOURCES = (
    "Ac.java",
    "AdcUdf.java",
    "CentTable.java",
    "DotUdf.java",
    "DotsUdf.java",
    "Ent.java",
    "EntropyBytesUdf.java",
    "EwfImage.java",
    "JaccardUdf.java",
    "MinHashUdf.java",
    "ScanGates.java",
    "SqDistsUdf.java",
    "ScanAllEvidenceUdf.java",
    "ScanBytesUdf.java",
    "SimHashUdf.java",
    "StringScanBytesUdf.java",
    "Strs.java",
    "SubwordUdf.java",
)

# STRING_SPANS as a DDL fragment (must stay in lockstep with schemas.py)
_SPAN_ROWS_TYPE = (
    "array<struct<global_start:bigint,byte_length:int,content:string,"
    "encoding:string,url_like:boolean,email_like:boolean,phone_like:boolean>>"
)

# entropy.WINDOW_SCHEMA as a DDL fragment (lockstep with entropy.py)
_ENT_ROWS_TYPE = "array<struct<win_start:bigint,win_end:bigint,entropy:double>>"

# fused one-pass multi-scan output (lockstep with fused_scan.py)
_SCAN_ALL_TYPE = (
    f"struct<hits:array<bigint>,spans:{_SPAN_ROWS_TYPE},ents:{_ENT_ROWS_TYPE}>"
)

# cache attribute stashed on the SparkSession object itself: id() keys
# can alias after a stopped session is garbage-collected, an instance
# attribute cannot
_MARKER = "_sb_kernel_registered"
_BUILD_FAILED = False


def spec_for(
    patterns: list[tuple[bytes, str, str]],
    cap: int,
    gates: dict[str, list[int]] | list[int] | None = None,
) -> str:
    """Kernel spec string: 'cap;hex,hex,...' in engine pattern order.
    `gates` (evidence-path callers only): scan-time hit-validation
    assignments for ScanGates.java — {tag: [pattern indices]} with
    tags m3 (mp3 3-valid-frames), bm (bmp header cascade), ic (ico
    directory prefix), appended as ';tag=i:j' trailer sections in
    sorted-tag order so equal assignments yield equal cache keys. A
    tag may carry a numeric parameter ('bm@200', r14: the bmp type's
    min_size, hoisting finalize()'s min-size rejection into the gate);
    Ac.java parses it per section. A bare list means {'m3': list}
    (r13 back-compat)."""
    spec = f"{int(cap)};" + ",".join(p.hex() for p, _, _ in patterns)
    if isinstance(gates, list):
        gates = {"m3": gates} if gates else None
    for tag in sorted(gates or {}):
        idxs = gates[tag]
        if idxs:
            spec += f";{tag}=" + ":".join(str(i) for i in idxs)
    return spec


def _pyspark_jars() -> str:
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "jars", "*")


def kernel_jar() -> str | None:
    """Path to the built kernel jar, compiling it if needed (None if no
    JDK or compilation fails)."""
    global _BUILD_FAILED
    jar_path = os.path.join(_JAVA_DIR, _JAR_NAME)
    srcs = [os.path.join(_JAVA_DIR, "src", "sbspark", s) for s in _SOURCES]
    if os.path.exists(jar_path) and all(
        os.path.getmtime(jar_path) >= os.path.getmtime(s) for s in srcs
    ):
        return jar_path
    if _BUILD_FAILED:
        return None
    javac = shutil.which("javac")
    jar = shutil.which("jar")
    if javac is None or jar is None:
        _BUILD_FAILED = True
        return None
    try:
        with tempfile.TemporaryDirectory() as tmp:
            subprocess.run(
                [javac, "-encoding", "UTF-8", "-cp", _pyspark_jars(), "-d", tmp, *srcs],
                check=True,
                capture_output=True,
            )
            tmp_jar = os.path.join(tmp, _JAR_NAME)
            subprocess.run(
                [jar, "cf", tmp_jar, "-C", tmp, "sbspark"], check=True, capture_output=True
            )
            os.replace(tmp_jar, jar_path)  # atomic: concurrent builders converge
        return jar_path
    except (subprocess.CalledProcessError, OSError):
        _BUILD_FAILED = True
        return None


def ensure_kernel(spark: SparkSession) -> bool:
    """Register the kernel UDFs (sb_scan_bytes, sb_scan_all, the
    strings/entropy/vector kernels) into this session. Works on
    sessions we did not create (an outside harness) via ADD JAR; returns
    False — Python fallback — on any failure."""
    cached = getattr(spark, _MARKER, None)
    if cached is not None:
        return cached
    ok = False
    jar_path = kernel_jar()
    if jar_path is not None:
        try:
            spark.sql(f"ADD JAR '{jar_path}'")
            spark.udf.registerJavaFunction(
                "sb_scan_bytes", "sbspark.ScanBytesUdf", "array<bigint>"
            )
            spark.udf.registerJavaFunction(
                "sb_minhash", "sbspark.MinHashUdf", "array<bigint>"
            )
            spark.udf.registerJavaFunction("sb_simhash", "sbspark.SimHashUdf", "bigint")
            spark.udf.registerJavaFunction("sb_jaccard", "sbspark.JaccardUdf", "double")
            spark.udf.registerJavaFunction(
                "sb_subword", "sbspark.SubwordUdf", "array<int>"
            )
            spark.udf.registerJavaFunction("sb_dot", "sbspark.DotUdf", "double")
            spark.udf.registerJavaFunction(
                "sb_dots", "sbspark.DotsUdf", "array<double>"
            )
            spark.udf.registerJavaFunction(
                "sb_sqdists", "sbspark.SqDistsUdf", "array<double>"
            )
            spark.udf.registerJavaFunction("sb_adc", "sbspark.AdcUdf", "double")
            spark.udf.registerJavaFunction(
                "sb_scan_strings_bytes", "sbspark.StringScanBytesUdf", _SPAN_ROWS_TYPE
            )
            spark.udf.registerJavaFunction(
                "sb_entropy_bytes", "sbspark.EntropyBytesUdf", _ENT_ROWS_TYPE
            )
            spark.udf.registerJavaFunction(
                "sb_scan_all", "sbspark.ScanAllEvidenceUdf", _SCAN_ALL_TYPE
            )
            # probe end-to-end: a miss-then-hit scan through the whole stack
            probe = spark.sql(
                "SELECT sb_scan_bytes(CAST('xabcx' AS BINARY), '10;616263') AS h"
            ).collect()[0]["h"]
            ok = list(probe) == [(1 << 16) | 0]
        except Exception:
            ok = False
    try:
        setattr(spark, _MARKER, ok)
    except AttributeError:  # exotic session proxies without __dict__
        pass
    return ok


def vec_kernel_active(spark: SparkSession | None = None) -> bool:
    """Shared gate for the compiled vector/subword kernels (sb_dot,
    sb_dots, sb_sqdists, sb_adc, sb_subword): True when the kernel jar
    is registered in `spark` (or, for session-less Column builders, the
    ACTIVE session) and SPARK_GRAFT_NO_VEC_KERNEL is not set. Any
    non-empty value other than "0" counts as set (=1/true/yes all
    disable) — an incident escape hatch must not silently no-op on a
    plausible spelling. The env var forces the pinned bit-exact
    Catalyst fallback — the A/B-measurement and incident escape hatch
    for the WHOLE kernel family.

    The gate resolves at plan-build time on the driver. Registration is
    session-scoped: callers holding a DataFrame should pass its
    .sparkSession; builders that only see Columns use the active
    session, so multi-session users must ensure_kernel() their own
    session (a mismatch fails loudly at analysis — 'undefined function
    sb_*' — never silently with different results)."""
    if os.environ.get("SPARK_GRAFT_NO_VEC_KERNEL") not in (None, "", "0"):
        return False
    if spark is None:
        spark = SparkSession.getActiveSession()
    return spark is not None and ensure_kernel(spark)
