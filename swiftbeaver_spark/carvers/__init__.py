"""Per-format carve handlers (reference: src/carve/*, 30 formats).

Each handler is a pure-Python state machine `fn(reader, offset, ft,
cfg) -> CarveOutcome | None` — the one part of the engine that is
inherently sequential per hit. Spark-side fan-out lives in
swiftbeaver_spark.carve_op.
"""

from swiftbeaver_spark.carvers.registry import build_registry, carve_hit  # noqa: F401
from swiftbeaver_spark.carvers.base import (  # noqa: F401
    CarveOutcome,
    FileReader,
    Reader,
)
