"""A/B the SemDeDup cell-assignment path at the 10x (sf1) scale:
expression argmax (ivf_cell_dot) vs the Arrow matmul kernel
(assign_cells_arrow), inside the full semantic_dedup(kernel='arrow')
pipeline at a paper-shaped nlist. Asserts the outputs are IDENTICAL
before reporting walls. Usage: python tools/bench_assign.py [nlist]"""
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
from pyspark.sql import SparkSession

from swiftbeaver_spark.llm.similarity import md5_centroids, semantic_dedup

NLIST = int(sys.argv[1]) if len(sys.argv) > 1 else 160
SF1 = os.path.join(REPO, ".scale", "sf1")

spark = (
    SparkSession.builder.master("local[32]")
    .config("spark.sql.shuffle.partitions", "32")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.memory", "8g")
    .getOrCreate()
)
emb = spark.read.parquet(f"{SF1}/embeddings.parquet").select("vec_id", "embedding")
print(f"rows={emb.count()} nlist={NLIST}")
cents = md5_centroids(NLIST, 64, tag="semdedup")

results = {}
for assign in ("arrow", "expr"):  # arrow first so expr can't warm it
    t0 = time.monotonic()
    rows = sorted(
        map(
            tuple,
            semantic_dedup(
                emb, cents, threshold=0.95, kernel="arrow", assign=assign
            ).collect(),
        )
    )
    wall = time.monotonic() - t0
    results[assign] = rows
    print(f"assign={assign}: {wall:.1f} s, {len(rows)} rows, "
          f"{sum(1 for r in rows if r[3])} dropped")
assert results["arrow"] == results["expr"], "assignment paths diverge"
print("outputs IDENTICAL")
