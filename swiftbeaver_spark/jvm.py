"""JVM scan kernels: build + session registration for the Java UDFs.

The Java kernels (java/src/sbspark/) are the engine's only scan and
vector kernels, and they keep evidence bytes JVM-side end to end: the
Aho-Corasick signature scan (Ac) runs ONE automaton pass regardless of
pattern count and returns packed hit longs; the string-span scan (Strs)
runs the ascii/utf-8/utf-16 run detection + piece grids + hint flags
with continuation-aware sub-chunk windows, its UTF-8 printability table
exported FROM PYTHON in the spec string so parity cannot drift with JVM
Unicode versions; the entropy window scan (Ent) folds byte histograms
through a per-count contribution table exported FROM numpy, its
summation replicating numpy's pairwise tree so entropy doubles are
bit-identical. Reference parity: the CPU scan loops of
src/scanner/cpu.rs:40-69, src/strings/cpu.rs:42-216, and
src/entropy.rs:19-91. The Python twins they are differential-tested
against live in tests/oracles/.

The jar compiles lazily with the JDK (javac against pyspark's own jars)
and registers into ANY session via ADD JAR + registerJavaFunction. The
three scans always run fused (fused_scan.py): sb_scan_all over one
positioned read per evidence sub-chunk, sb_scan_all_bytes over each
chunk-table row. A JDK is required: a
failed build, registration or probe raises RuntimeError carrying
javac's stderr or the registration error.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import tempfile

from pyspark.sql import SparkSession
from pyspark.sql.types import ArrayType

from swiftbeaver_spark import schemas

_JAVA_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "java")
_JAR_NAME = "sb-kernel.jar"
_SOURCES = (
    "Ac.java",
    "AdcUdf.java",
    "CentTable.java",
    "DotUdf.java",
    "DotsUdf.java",
    "Ent.java",
    "EwfImage.java",
    "JaccardUdf.java",
    "MinHashUdf.java",
    "ScanGates.java",
    "SqDistsUdf.java",
    "ScanAllBytesUdf.java",
    "ScanAllEvidenceUdf.java",
    "SimHashUdf.java",
    "Strs.java",
    "SubwordUdf.java",
)

# span rows as a DDL fragment
_SPAN_ROWS_TYPE = ArrayType(schemas.STRING_SPANS).simpleString()

# entropy window rows (win_start, win_end, entropy) as a DDL fragment
_ENT_ROWS_TYPE = "array<struct<win_start:bigint,win_end:bigint,entropy:double>>"

# fused one-pass multi-scan output (lockstep with fused_scan.py)
_SCAN_ALL_TYPE = (
    f"struct<hits:array<bigint>,spans:{_SPAN_ROWS_TYPE},ents:{_ENT_ROWS_TYPE}>"
)

# (SQL name, sbspark class, return type) of every registered kernel UDF
_UDFS = (
    ("sb_minhash", "MinHashUdf", "array<bigint>"),
    ("sb_simhash", "SimHashUdf", "bigint"),
    ("sb_jaccard", "JaccardUdf", "double"),
    ("sb_subword", "SubwordUdf", "array<int>"),
    ("sb_dot", "DotUdf", "double"),
    ("sb_dots", "DotsUdf", "array<double>"),
    ("sb_sqdists", "SqDistsUdf", "array<double>"),
    ("sb_adc", "AdcUdf", "double"),
    ("sb_scan_all", "ScanAllEvidenceUdf", _SCAN_ALL_TYPE),
    ("sb_scan_all_bytes", "ScanAllBytesUdf", _SCAN_ALL_TYPE),
)

# cache attribute stashed on the SparkSession object itself: id() keys
# can alias after a stopped session is garbage-collected, an instance
# attribute cannot
_MARKER = "_sb_kernel_registered"


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


def kernel_jar() -> str:
    """Path to the built kernel jar, compiling it if any source is newer.
    Raises RuntimeError (with javac's stderr) when no JDK is on PATH or
    the build fails."""
    jar_path = os.path.join(_JAVA_DIR, _JAR_NAME)
    srcs = [os.path.join(_JAVA_DIR, "src", "sbspark", s) for s in _SOURCES]
    if os.path.exists(jar_path) and all(
        os.path.getmtime(jar_path) >= os.path.getmtime(s) for s in srcs
    ):
        return jar_path
    javac = shutil.which("javac")
    jar = shutil.which("jar")
    if javac is None or jar is None:
        raise RuntimeError("the JVM kernel needs a JDK: javac/jar not found on PATH")
    with tempfile.TemporaryDirectory() as tmp:
        for cmd in (
            [javac, "-encoding", "UTF-8", "-cp", _pyspark_jars(), "-d", tmp, *srcs],
            [jar, "cf", os.path.join(tmp, _JAR_NAME), "-C", tmp, "sbspark"],
        ):
            proc = subprocess.run(cmd, capture_output=True, text=True)
            if proc.returncode != 0:
                raise RuntimeError(
                    f"JVM kernel build failed ({os.path.basename(cmd[0])} exit "
                    f"{proc.returncode}):\n{proc.stderr or proc.stdout}"
                )
        # atomic: concurrent builders converge
        os.replace(os.path.join(tmp, _JAR_NAME), jar_path)
    return jar_path


def ensure_kernel(spark: SparkSession | None = None) -> bool:
    """Register the kernel UDFs (sb_scan_all, sb_scan_all_bytes and the
    dedup/vector kernels) into `spark` — by default the ACTIVE
    session, which is what the Column-only builders in llm/similarity.py
    use — and return True. Works on sessions we did not create (an
    outside harness) via ADD JAR. Raises RuntimeError when the build,
    the registration or the end-to-end probe fails.

    Registration is session-scoped and resolves at plan-build time on
    the driver: multi-session users must ensure_kernel() their own
    session (a mismatch fails loudly at analysis — 'undefined function
    sb_*' — never silently with different results)."""
    if spark is None:
        spark = SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError("ensure_kernel: no active SparkSession")
    if getattr(spark, _MARKER, False):
        return True
    jar_path = kernel_jar()
    try:
        spark.sql(f"ADD JAR '{jar_path}'")
        for name, cls, rtype in _UDFS:
            spark.udf.registerJavaFunction(name, f"sbspark.{cls}", rtype)
        # probe end-to-end: a miss-then-hit scan through the whole stack
        probe = spark.sql(
            "SELECT sb_scan_all_bytes(CAST('xabcx' AS BINARY), 0L, 5L,"
            " '0\\n10;616263\\n\\n').hits AS h"
        ).collect()[0]["h"]
    except Exception as exc:
        raise RuntimeError(f"JVM kernel registration failed: {exc}") from exc
    if list(probe) != [(1 << 16) | 0]:
        raise RuntimeError(f"JVM kernel probe returned {list(probe)}, want [65536]")
    try:
        setattr(spark, _MARKER, True)
    except AttributeError:  # exotic session proxies without __dict__
        pass
    return True
