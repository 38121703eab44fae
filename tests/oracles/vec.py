"""Vector-kernel oracle: the Catalyst zip_with/aggregate folds the
compiled sb_dot / sb_sqdists / sb_dots / sb_adc kernels are pinned
bit-exact against (same IEEE order, same null algebra), and the exact
top-k the approximate searches' recall is measured against."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from swiftbeaver_spark.llm.similarity import cosine_similarity


def dot(a, b) -> Column:
    """Left-fold sum of a[i]*b[i] from 0.0."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)


def sq_dists(vec, centroids: Column) -> Column:
    """Squared L2 distance from `vec` to each row of `centroids`."""
    return F.transform(
        centroids,
        lambda c: F.aggregate(
            F.zip_with(vec, c, lambda v, cc: (v - cc) * (v - cc)),
            F.lit(0.0),
            lambda s, x: s + x,
        ),
    )


def dots(vec, centroids: Column) -> Column:
    """dot(vec, c) for each row c of `centroids`."""
    return F.transform(centroids, lambda c: dot(vec, c))


def adc(lut, code, m: int, k: int) -> Column:
    """SUM over subspaces j < m of lut[j*k + code[j]]."""
    lut, code = F.col(lut), F.col(code)
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda s, j: s + F.element_at(lut, (j * k + F.element_at(code, j + 1) + 1).cast("int")),
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact top-k by cosine: broadcast the (small) query set, rank per
    query. Ties broken by corpus id for determinism."""
    c = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("vec")
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).cast("array<double>").alias("query_vec"),
    )
    scored = c.join(F.broadcast(q)).select(
        "query_id",
        "vec_id",
        cosine_similarity(F.col("vec"), F.col("query_vec")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )
