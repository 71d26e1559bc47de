"""2-D Pareto skyline (multi-objective selection) at corpus scale.

Skyline = the points not dominated by any other point (dominance:
>= in both dimensions, strictly > in at least one — maximize/maximize
form). The curation use: "which documents are Pareto-optimal under
(length, lexical diversity)" — the selection frontier a mix designer
reads before trading objectives off.

The naive formulation is a NOT EXISTS dominance anti-self-join —
O(n²) pairs, a cartesian at scale. The scalable shape used here is the
classic two-level decomposition, all JVM-side:

1. **Distinct-point reduction**: group to distinct (x, y) with a
   min-id representative — the frontier only depends on the point SET.
2. **x-range bucketing**: equi-width integer buckets over broadcast
   global bounds. Same x → same bucket, so any point in a HIGHER
   bucket has strictly greater x than every point in a lower one.
3. **Local skyline per bucket**: one hash exchange on bucket, then a
   per-bucket window ordered (x desc, y desc): a point survives iff
   its y strictly exceeds the running max of y over the strictly
   preceding rows (catches both x> and x=, y> dominators — exact on
   distinct points).
4. **Cross-bucket prune**: per-bucket max-y (≤ n_buckets rows), a
   suffix max over strictly higher buckets (a window over bucket
   metadata — n_buckets rows, never data), broadcast back: a point
   survives iff y > suffix max (higher bucket ⇒ strictly greater x,
   so y >= kills it).

A point survives overall iff it passes BOTH filters — exactly the
non-dominated set. No cartesian, no global data sort; the only
data-sized exchange is the bucket hash partition. The DuckDB oracle is
the plain NOT EXISTS form, so a green run proves the decomposition
lossless. Dimensions must be integers (the bucket arithmetic is exact
integer division; the repo's micro-int convention turns any bounded
ratio into one).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def skyline_2d(
    points: DataFrame,
    x_col: str,
    y_col: str,
    id_col: str,
    n_buckets: int = 32,
) -> DataFrame:
    """Exact maximize/maximize Pareto frontier over integer dimensions.
    Duplicate (x, y) points collapse to their minimum id (equal points
    dominate each other under the strict-in-one definition, so keeping
    one representative is the useful contract). Returns
    (id_col, x_col, y_col)."""
    reps = points.groupBy(x_col, y_col).agg(F.min(id_col).alias(id_col))
    bounds = reps.agg(
        F.min(x_col).alias("__minx"), F.max(x_col).alias("__maxx")
    )
    b = (
        reps.join(F.broadcast(bounds))
        .withColumn(
            "__bucket",
            F.expr(
                f"CAST(({x_col} - __minx) * {n_buckets} "
                "DIV (__maxx - __minx + 1) AS INT)"
            ),
        )
        .drop("__minx", "__maxx")
    )
    w_local = (
        Window.partitionBy("__bucket")
        .orderBy(F.col(x_col).desc(), F.col(y_col).desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = b.withColumn("__runmax", F.max(y_col).over(w_local))
    # bucket metadata: <= n_buckets rows; the suffix-max window over it
    # is a single-partition sort of n_buckets rows by design, never data
    bmax = local.groupBy("__bucket").agg(F.max(y_col).alias("__bmax"))
    w_suffix = Window.orderBy(F.col("__bucket").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    suffix = bmax.select(
        "__bucket", F.max("__bmax").over(w_suffix).alias("__sufmax")
    )
    survives_local = F.col("__runmax").isNull() | (
        F.col(y_col) > F.col("__runmax")
    )
    survives_cross = F.col("__sufmax").isNull() | (
        F.col(y_col) > F.col("__sufmax")
    )
    return (
        local.join(F.broadcast(suffix), on="__bucket")
        .filter(survives_local & survives_cross)
        .select(id_col, x_col, y_col)
    )
