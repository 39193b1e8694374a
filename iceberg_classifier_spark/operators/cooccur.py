"""Basket co-occurrence counts — the one kernel behind the user-blocked
item-pair plans (``itemitem_cosine_topk``, ``coverage_novelty_recs``).

A basket is one user's sorted distinct item array. Pairs i<j are emitted
map-side from each basket with the posting-list nested-explode trick, and
counted by runs of ONE packed int64 key when the item ids fit the pack.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sorted_baskets(ui: DataFrame, user_col: str, item_col: str) -> DataFrame:
    """``(user_col, items)``: one row per user, ``items`` its sorted
    distinct item array. One exchange on the user key: ``collect_set`` is
    the distinct, ``sort_array`` orders the basket for pair emission."""
    return ui.groupBy(user_col).agg(
        F.sort_array(F.collect_set(item_col)).alias("items")
    )


def pair_counts(
    baskets: DataFrame,
    min_count: int,
    key_bound: int | None,
    cap: int | None = None,
) -> DataFrame:
    """``(ia, ib, co_u)``: per item pair ia < ib, the number of baskets
    holding both, kept when ``co_u >= min_count``.

    ``cap`` keeps the first ``cap`` items of each sorted basket — a
    whale basket emits |basket|² pairs, so the cap bounds one user's
    share of the pair stream. ``key_bound`` is an exclusive upper bound
    of the (non-negative) item ids, or None when unknown.

    The pair stream is the op's bulk (1.27e9 rows at sf10 for itemitem)
    and ~97% of emitted pairs are unique, so any hash aggregation must
    hold the whole key set as state — it spilled at every partition width
    tried (256/512/1024: 116-167 s at sf10). When ``key_bound² < 2^63``,
    the pair packs losslessly into pk = ia·m + ib, and count(*) over a
    pk-partitioned window plans Exchange → radix Sort → streaming
    WindowExec that buffers ONE pk group at a time, with no hash map:
    68-77 s vs 146-159 s for the hash agg at sf10 (interleaved, same
    session), flat at sf1. The pack also halves the shuffle bytes; the
    post-filter dropDuplicates reuses the same exchange. Otherwise the
    two-column groupBy counts the same pairs.
    """
    arr = F.col("items") if cap is None else F.slice("items", 1, cap)
    # ascending items, so ia < ib by construction
    pairs = (
        baskets.select(arr.alias("arr"))
        .select(F.posexplode("arr").alias("j", "ia"), "arr")
        .select(
            "ia",
            F.explode(F.expr("slice(arr, j + 2, size(arr))")).alias("ib"),
        )
    )
    m = key_bound
    if m is None or m * m >= (1 << 63):
        return (
            pairs.groupBy("ia", "ib")
            .agg(F.count(F.lit(1)).cast("bigint").alias("co_u"))
            .where(F.col("co_u") >= min_count)
        )
    return (
        pairs.select((F.col("ia") * m + F.col("ib")).alias("pk"))
        .repartition(256, "pk")
        .withColumn(
            "co_u",
            F.count(F.lit(1)).over(Window.partitionBy("pk")).cast("bigint"),
        )
        .where(F.col("co_u") >= min_count)
        .dropDuplicates(["pk"])
        .select(
            F.expr(f"pk div {m}").alias("ia"),
            (F.col("pk") % m).alias("ib"),
            "co_u",
        )
    )
