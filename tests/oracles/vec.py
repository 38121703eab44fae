"""Vector-kernel oracle: the Catalyst zip_with/aggregate folds the
compiled sb_dot / sb_sqdists / sb_dots / sb_adc kernels are pinned
bit-exact against (same IEEE order, same null algebra)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


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
