"""Bounded two-phase prefix sums — the scalable running-total primitive.

A running sum ordered within a partition is the core of token-budget
selection (curation, mixture planning, packing, sampling), but the
naive ``Window.partitionBy(key).orderBy(ord)`` puts an entire key's rows
in ONE task — a whole language or blob on one executor at 100 TB. The
two-phase form bounds every window partition:

1. bucket rows by ``floor(ord / bucket)`` (monotone in ``ord``, so
   (bucket, ord) order == ord order);
2. aggregate per (key, bucket) — map-side partial — and compute each
   bucket's cumulative base over the tiny aggregated frame;
3. join the bases back and run the window inside each bounded
   (key, bucket) partition.

Used by ``queries_text.curation_pipeline`` (per-language token budget),
``operators/mixture.mixture_plan`` (per-source budget),
``operators/packing`` and ``operators/sampling``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def bounded_running_sum(
    df: DataFrame,
    part_cols: Sequence[str],
    order_col: str,
    value_col: str,
    bucket: int = 1024,
    out_col: str = "running",
) -> DataFrame:
    """``df`` + ``out_col`` = running sum of ``value_col`` over rows
    ordered by ``order_col`` within each ``part_cols`` group, with no
    window partition ever exceeding ~``bucket`` order-units of rows.

    ``order_col`` must be unique within a group (ties would make the
    running total order-dependent); rows with a NULL ``order_col`` have
    no defined position and are EXCLUDED from the output (explicitly —
    not silently eaten by a join). NULL values in ``part_cols`` form
    their own group, same as ``groupBy``. The bases frame has
    O(rows / bucket) entries per group — pick ``bucket`` ≈ sqrt(group
    size) to balance the two phases at extreme scale.
    """
    part_cols = list(part_cols)
    bucketed = df.where(F.col(order_col).isNotNull()).withColumn(
        "__bkt", F.floor(F.col(order_col) / bucket)
    )
    prior = (
        Window.partitionBy(*part_cols)
        .orderBy("__bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bases = (
        bucketed.groupBy(*part_cols, "__bkt")
        .agg(F.sum(value_col).alias("__n"))
        .select(
            *[F.col(c).alias(f"__g_{c}") for c in part_cols],
            F.col("__bkt").alias("__g_bkt"),
            F.coalesce(F.sum("__n").over(prior), F.lit(0)).alias("__base"),
        )
    )
    # eqNullSafe join keys: a NULL part-group must still find its bases
    # row (a plain equi-join would silently drop the whole group)
    cond = F.col("__bkt").eqNullSafe(F.col("__g_bkt"))
    for c in part_cols:
        cond = cond & F.col(c).eqNullSafe(F.col(f"__g_{c}"))
    in_bucket = (
        Window.partitionBy(*part_cols, "__bkt")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        bucketed.join(F.broadcast(bases), cond)
        .withColumn(out_col, F.col("__base") + F.sum(value_col).over(in_bucket))
        .drop("__bkt", "__base", "__g_bkt", *[f"__g_{c}" for c in part_cols])
    )
