"""Deterministic stratified fold assignment and train/val splits.

The reference uses sklearn's StratifiedKFold(n_splits=8, shuffle=True,
random_state=16) (main.py:252) and StratifiedShuffleSplit. On a cluster,
seeded global shuffles are hostile (they imply a total order); instead we
stratify with ``row_number() over (partition by label order by id) % K`` —
deterministic, seed-free, one shuffle on the label key, and exactly
balanced within every stratum. Same guarantees the reference wants
(every stratum spread evenly over folds), cluster-native execution.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType


TARGET_FOLD_BUCKETS = 1024


def with_stratified_folds(
    df: DataFrame, label_col: str, id_col: str, k: int, fold_col: str = "fold"
) -> DataFrame:
    """fold = (rank_within_label_by_id - 1) % k, computed skew-safe.

    A direct ``row_number() over (partition by label order by id)`` is a
    |labels|-partition shuffle — with a binary label that is 2 partitions
    doing all the work no matter how many executors exist. Instead the id
    axis is cut into ≤TARGET_FOLD_BUCKETS order-aligned range buckets:

    1. local rank within (label, bucket) — the shuffle key now carries
       |labels|×|buckets| distinct groups, so every core gets work;
    2. per-(label, bucket) counts roll into cumulative offsets with one
       window over the tiny bucket DIMENSION (≤1024 rows per label);
    3. fold = (offset + local_rank - 1) % k.

    Because buckets partition the id axis in order, offset + local rank
    IS the global id-order rank — the output is bit-identical to the
    unsalted formula, only the shuffle shape changes. The min/max probe
    is one cheap agg (read table stats instead at 100 TB).

    A non-integral id (the reference's string SAR ids) has no range to
    cut, so it gets one bucket per label — the unsalted formula itself.
    """
    bucket = F.lit(0)
    if isinstance(df.schema[id_col].dataType, IntegralType):
        mm = df.agg(F.min(id_col).alias("lo"), F.max(id_col).alias("hi")).first()
        lo, hi = mm["lo"], mm["hi"]
        if lo is not None:
            width = max(1, (hi - lo + 1) // TARGET_FOLD_BUCKETS)
            bucket = F.expr(f"({id_col} - {lo}) div {width}")
    d = df.withColumn("_fb", bucket)
    wl = Window.partitionBy(label_col, "_fb").orderBy(id_col)
    local = d.withColumn("_lr", F.row_number().over(wl))
    cnts = d.groupBy(label_col, "_fb").agg(F.count(F.lit(1)).alias("_c"))
    wo = (
        Window.partitionBy(label_col)
        .orderBy("_fb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = cnts.select(
        label_col, "_fb", F.coalesce(F.sum("_c").over(wo), F.lit(0)).alias("_off")
    )
    return (
        local.join(F.broadcast(offs), [label_col, "_fb"])
        .withColumn(
            fold_col, ((F.col("_off") + F.col("_lr") - 1) % k).cast("int")
        )
        .drop("_fb", "_lr", "_off")
    )


def stratified_split(
    df: DataFrame,
    label_col: str,
    id_col: str,
    val_fraction: float = 0.25,
    split_col: str = "split",
) -> DataFrame:
    """Stratified train/val split: every ``round(1/val_fraction)``-th row of
    each stratum (in id order) goes to val. Deterministic and exact."""
    every = max(2, round(1.0 / val_fraction))
    w = Window.partitionBy(label_col).orderBy(id_col)
    return df.withColumn(
        split_col,
        F.when((F.row_number().over(w) - 1) % every == 0, F.lit("val")).otherwise(
            F.lit("train")
        ),
    )
