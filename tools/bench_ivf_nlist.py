"""IVF nlist scaling law to 5e6 vectors (VERDICT r8 task 2b).

The IVF family's cell count was hand-picked per query (nlist=16 for
the oracle-gated rows, 160 for the sf1 semantic-dedup measurement) —
the "nlist ~ sqrt(n)" note in ivf_candidates was the FAISS rule of
thumb, not a measurement on this engine. This sweep measures BOTH
production shapes so the rule can be pinned into `auto_nlist`:

1. **dedup shape** (semantic_dedup / bitext / knn-graph — queries ARE
   the corpus, nprobe=1): full semantic_dedup wall across an nlist
   grid. Cost model under test:
   assignment ~ n * nlist * dim flops (one matmul per batch against
   the centroid matrix — grows WITH nlist), in-cell gram ~ n * occ *
   dim flops with occ = n/nlist (shrinks with nlist). Flop balance
   predicts the wall-minimizing nlist* ~ sqrt(n).

2. **topk shape** (ivf_topk / q34/q88 — a small fixed query set,
   broadcast): ivf_candidates + rank wall and recall@10 vs exact
   brute force, for 50 queries across the same grid. Here scoring ~
   n_q * nprobe * (n/nlist) * dim vs the same n * nlist * dim
   assignment — balance predicts nlist* ~ sqrt(n_q * nprobe), i.e.
   SMALL and corpus-size-independent (the hand-picked nlist=16 for
   the 50-query gated rows is the law's own answer, not a hack).

Unified law: nlist* ~ sqrt(n_q * nprobe) with n_q = n, nprobe = 1 for
the dedup family. Configs whose estimated flops exceed the cap are
recorded as skipped with the estimate (the simhash-sweep convention).

Usage: python tools/bench_ivf_nlist.py [n ...]   (default 500000 5000000)
  -> one JSON line {"ivf_nlist_regime": {...}}
"""
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window
from pyspark.sql import functions as F

from swiftbeaver_spark.llm.similarity import (
    cosine_similarity,
    ivf_candidates,
    md5_centroids,
    semantic_dedup,
)
from swiftbeaver_spark.session import get_spark
from tests.oracles.vec import brute_force_topk

SIZES = [int(s) for s in sys.argv[1:]] or [500_000, 5_000_000]
DIM = 64
K = 10
NPROBE = 4  # topk shape
N_CLUSTERS = 4096  # latent structure of the synthetic corpus
FLOP_CAP = 4e12  # ~1-2 min of numpy/JVM arithmetic on local[32]


def grid(n: int) -> list[int]:
    s = int(math.sqrt(n))
    g = sorted({16, 64, 256, 1024, s, 4 * s, 4096, 16384})
    return [x for x in g if 16 <= x <= n // 32]


def synth(spark, n: int):
    """Clustered synthetic corpus: vec = center(cluster) + 0.3*noise,
    components xxhash64-derived uniforms in [-1, 1] — deterministic,
    no RNG state, generated distributed (never on the driver)."""
    comp = (
        "transform(sequence(0, {d}), j -> "
        " (cast(pmod(xxhash64({key}, j, '{tag}'), 2001) as double) - 1000.0) / 1000.0)"
    )
    return (
        spark.range(n)
        .select(F.col("id").alias("vec_id"))
        .withColumn("cl", F.expr(f"pmod(xxhash64(vec_id, 'cl'), {N_CLUSTERS})"))
        .withColumn("_c", F.expr(comp.format(d=DIM - 1, key="cl", tag="c")))
        .withColumn("_n", F.expr(comp.format(d=DIM - 1, key="vec_id", tag="n")))
        .select(
            "vec_id",
            F.expr("zip_with(_c, _n, (c, x) -> c + 0.3 * x)").alias("vec"),
        )
    )


def main() -> None:
    spark = get_spark(app_name="swiftbeaver-ivf-nlist")
    spark.sparkContext.setLogLevel("ERROR")
    out = {"dim": DIM, "k": K, "nprobe_topk": NPROBE, "sizes": {}}
    for n in SIZES:
        corpus = synth(spark, n).persist()
        corpus.count()
        sample_q = corpus.where(F.col("vec_id") % (n // 50) == 0).select(
            F.col("vec_id").alias("query_id"), F.col("vec").alias("query_vec")
        )
        truth = {
            (r.query_id, r.rank): r.vec_id
            for r in brute_force_topk(corpus, sample_q, k=K, vec_col="vec").collect()
        }
        row = {"n": n, "dedup": {}, "topk": {}}
        for nlist in grid(n):
            cents = md5_centroids(nlist, DIM)
            key = f"nlist{nlist}"
            # --- dedup shape: full SemDeDup, arrow kernel + assign ---
            occ = n / nlist
            flops = n * nlist * DIM + n * occ * DIM
            # occupancy cap: the in-cell gram holds occ^2 float64s per
            # block — occ ~6e3 already stalls executors in GC (seen at
            # the 1e5 smoke test); real deployments run occ ~1e3
            if flops > FLOP_CAP or occ > 4096:
                row["dedup"][key] = {
                    "skipped_est_flops": int(flops),
                    "mean_occupancy": round(occ, 1),
                }
                print(f"# n={n} dedup {key}: skipped ({flops:.2e} flops, occ={occ:.0f})",
                      file=sys.stderr)
            else:
                t0 = time.time()
                sd = semantic_dedup(
                    corpus,
                    cents,
                    vec_col="vec",
                    threshold=0.9,
                )
                n_drop = sd.where(F.col("dropped")).count()
                wall = round(time.time() - t0, 3)
                row["dedup"][key] = {
                    "wall_sec": wall,
                    "dropped": n_drop,
                    "mean_occupancy": round(occ, 1),
                }
                print(f"# n={n} dedup {key}: {wall}s occ={occ:.0f} drops={n_drop}",
                      file=sys.stderr)
            # --- topk shape: 50 broadcast queries, nprobe=4 ---
            t0 = time.time()
            cand = ivf_candidates(
                corpus, sample_q, cents, nprobe=NPROBE,
                broadcast_queries=True,
            )
            w = Window.partitionBy("query_id").orderBy(
                F.desc("cosine"), F.asc("vec_id")
            )
            got = {
                (r.query_id, r.vec_id)
                for r in cand.select(
                    "query_id",
                    "vec_id",
                    cosine_similarity(F.col("vec"), F.col("query_vec")).alias("cosine"),
                )
                .withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= K)
                .collect()
            }
            wall = round(time.time() - t0, 3)
            hits = sum(1 for (q, _rk), v in truth.items() if (q, v) in got)
            row["topk"][key] = {
                "wall_sec": wall,
                "recall_at_10": round(hits / len(truth), 4),
            }
            print(
                f"# n={n} topk {key}: {wall}s recall@10={hits / len(truth):.3f}",
                file=sys.stderr,
            )
        for fam in ("dedup", "topk"):
            meas = {k2: v for k2, v in row[fam].items() if "wall_sec" in v}
            if meas:
                row[fam + "_best"] = min(meas, key=lambda k2: meas[k2]["wall_sec"])
        row["sqrt_n"] = int(math.sqrt(n))
        out["sizes"][str(n)] = row
        corpus.unpersist()
    print(json.dumps({"ivf_nlist_regime": out}))


if __name__ == "__main__":
    main()
