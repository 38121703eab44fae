"""swiftbeaver_spark — a PySpark-native forensic carving & analytics engine.

Re-implements the query/data-processing surface of gaestu/SwiftBeaver
(a Rust file/artefact carver, see /root/reference) as an idiomatic
Spark DataFrame pipeline:

    chunks (binary parquet/table)
      -> signature scan (JVM Aho-Corasick kernel)
      -> hit normalization + overlap dedup (projection + filter)
      -> per-hit carve state machines (Arrow-batched mapInPandas)
      -> relational post-processing (joins, dedup, gaps-and-islands)
      -> columnar sinks (parquet / jsonl / csv)

plus the large-scale training-data operators a 100 TB pipeline needs
(dedup, similarity search, text analysis, multimodal columns).
"""

__version__ = "0.1.0"

from swiftbeaver_spark.session import get_spark  # noqa: F401
