"""SemDeDup oracle: the all-Catalyst form of `semantic_dedup` that the
Arrow kernels (assign_cells_arrow + the in-cell numpy gram) are pinned
row-for-row against.

Every stage is an engine-replayable expression: cell = argmax rounded
dot (ivf_cell_dot), centroid_cos = rounded cosine to the own centroid
from the plan-literal centroid table, in-cell pairs from a self-join on
the cell key, and the drop rule as a struct compare."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from swiftbeaver_spark.llm.similarity import (
    _centroid_lit,
    cosine_similarity,
    ivf_cell_dot,
    norm,
)


def semantic_dedup_expr(
    embeddings: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.95,
    round_dp: int = 6,
) -> DataFrame:
    """(vec_id, cell, centroid_cos as %.6f string, dropped) for
    (vec_id, embedding) rows — the same output contract as
    semantic_dedup."""
    assigned = embeddings.select(
        F.col("vec_id"), F.col("embedding").cast("array<double>").alias("vec")
    ).withColumn("cell", ivf_cell_dot(F.col("vec"), centroids, round_dp))
    own = F.element_at(_centroid_lit(centroids), F.col("cell") + 1)
    ccos = F.round(
        F.aggregate(
            F.zip_with(F.col("vec"), own, lambda v, c: v * c),
            F.lit(0.0),
            lambda s, x: s + x,
        )
        / (norm(F.col("vec")) * norm(own)),
        round_dp,
    )
    assigned = assigned.withColumn("centroid_cos", ccos)
    l, r = assigned.alias("l"), assigned.alias("r")
    pair_cos = F.round(cosine_similarity(F.col("l.vec"), F.col("r.vec")), round_dp)
    pairs = (
        l.join(
            r,
            (F.col("l.cell") == F.col("r.cell"))
            & (F.col("l.vec_id") < F.col("r.vec_id")),
        )
        .where(pair_cos >= F.lit(threshold))
        .select(
            F.col("l.vec_id").alias("a"),
            F.col("l.centroid_cos").alias("a_cc"),
            F.col("r.vec_id").alias("b"),
            F.col("r.centroid_cos").alias("b_cc"),
        )
    )
    # per pair, the member with the GREATER (centroid_cos, vec_id) is
    # dropped (closest to the centroid = most redundant; id breaks ties)
    dropped = pairs.select(
        F.when(
            F.struct(F.col("a_cc").alias("c"), F.col("a").alias("i"))
            > F.struct(F.col("b_cc").alias("c"), F.col("b").alias("i")),
            F.col("a"),
        )
        .otherwise(F.col("b"))
        .alias("vec_id")
    ).distinct()
    return assigned.join(dropped.withColumn("_d", F.lit(True)), "vec_id", "left").select(
        "vec_id",
        "cell",
        F.format_string("%.6f", F.col("centroid_cos")).alias("centroid_cos"),
        F.coalesce(F.col("_d"), F.lit(False)).alias("dropped"),
    )
