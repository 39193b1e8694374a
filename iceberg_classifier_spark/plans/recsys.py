"""Recsys wave: item-item collaborative filtering and embedding MMD
drift.

Item-item cosine over the co-purchase matrix is the memory-based
recommender that predated (and still backs up) matrix factorization —
its candidate generation MUST be user-blocked, never all-pairs, which
is exactly the dedup machinery's shape. Linear-kernel MMD² between two
embedding batches is the distribution-shift test for vector data:
||μ₁ − μ₂||², exactly computable from quantized integer sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from iceberg_classifier_spark.operators import cooccur
from iceberg_classifier_spark.plans.registry import query
from iceberg_classifier_spark.sources.tables import id_bound, load

_II_TOPK = 10
_II_MIN_CO = 3  # minimum co-occurrence support
_II_USER_CAP = 64  # max items per user entering the pair join


@query(
    "itemitem_cosine_topk",
    oracle=f"""
    WITH ui AS (
      SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS i
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ), pop AS (
      SELECT i, CAST(count(*) AS BIGINT) AS n_u FROM ui GROUP BY 1
    ), uic AS (
      SELECT u, i FROM (
        SELECT u, i,
               row_number() OVER (PARTITION BY u ORDER BY i) AS rk
        FROM ui
      ) WHERE rk <= {_II_USER_CAP}
    ), co AS (
      SELECT a.i AS ia, b.i AS ib, CAST(count(*) AS BIGINT) AS co_u
      FROM uic a JOIN uic b ON a.u = b.u AND a.i < b.i
      GROUP BY 1, 2
      HAVING count(*) >= {_II_MIN_CO}
    ), scored AS (
      SELECT c.ia, c.ib, c.co_u, pa.n_u AS na, pb.n_u AS nb,
             round(c.co_u / sqrt(CAST(pa.n_u AS DOUBLE) * pb.n_u), 6)
               AS cosine
      FROM co c JOIN pop pa ON pa.i = c.ia JOIN pop pb ON pb.i = c.ib
    ), top AS (
      SELECT * FROM scored
      ORDER BY cosine DESC, ia, ib LIMIT {_II_TOPK}
    )
    SELECT CAST(row_number() OVER (ORDER BY cosine DESC, ia, ib)
                AS INTEGER) AS rank,
           ia AS item_a, ib AS item_b, co_u AS co_users,
           na AS users_a, nb AS users_b, cosine
    FROM top ORDER BY rank
    """,
)
def itemitem_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: cosine similarity between
    parts over the binary user×item purchase matrix — cos(a,b) =
    |U_a ∩ U_b| / √(|U_a|·|U_b|) — reporting the top-{_II_TOPK}
    most-similar pairs with support ≥{_II_MIN_CO} co-purchasers. The
    memory-based recommender ("customers who bought a also bought b")
    that complements mllib_als_recs' latent factors with an exactly
    oracle-able neighborhood model: co-occurrence counts are exact
    ints, cosines identical double expressions.

    Scale: candidate pairs come ONLY from user-blocked baskets (pairs
    sharing a purchaser — the dedup_ngram_jaccard posting-list shape),
    never an item cross join. r9 (round-8 verdict task 4): a user's pair
    emission is |basket|² and an uncapped whale basket dominates its
    partition at crawl scale, so baskets entering pair emission are
    CAPPED at {_II_USER_CAP} items per user — the CF analogue of
    NGRAM_DF_CAP, mirrored row-for-row in the oracle (the oracle's
    row_number-by-item-id window ≡ the first {_II_USER_CAP} entries of
    the sorted distinct basket). Cosine denominators stay the TRUE
    uncapped popularities. The support filter prunes before the
    popularity join; top-k is a TakeOrdered merge.

    r11 (guide §2.4, remove shuffles outright): the old plan shuffled
    the fact-sized (u, i) frame THREE times — a distinct exchange on
    (u, i), a window exchange on u for the cap, and the self-join that
    emitted pairs. All three collapse into ONE exchange: group by u,
    collect the basket as a sorted distinct item array (collect_set ≡
    the distinct; sort_array + slice ≡ the cap window), and emit the
    i<j pairs map-side from each array with the posting-list
    nested-explode trick. Popularity comes from re-exploding the cached
    basket frame — an 8-byte-per-row shuffle on i instead of a second
    pass over the fact join. Baskets, pair emission and the packed
    sort-streamed count are ``operators.cooccur``, shared with
    coverage_novelty_recs.
    """
    ui = (
        load(spark, sf_dir, "lineitem")
        .join(
            load(spark, sf_dir, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.col("o_custkey").alias("u"), F.col("l_partkey").alias("i")
        )
    )
    # the basket frame feeds pop AND pair emission; DISK_ONLY per the
    # growing-frame discipline (the r8 broadcast lesson); sweeps/bench
    # clearCache between queries.
    ui_sets = cooccur.sorted_baskets(ui, "u", "i").persist(StorageLevel.DISK_ONLY)
    pop = (
        ui_sets.select(F.explode("items").alias("i"))
        .groupBy("i")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_u"))
    )
    # the pk pack's bound is the max partkey from the part dim's parquet
    # FOOTER stats — no Spark job
    co = cooccur.pair_counts(
        ui_sets,
        _II_MIN_CO,
        id_bound(sf_dir, "part", "p_partkey"),
        cap=_II_USER_CAP,
    )
    pa = pop.select(F.col("i").alias("ia"), F.col("n_u").alias("na"))
    pb = pop.select(F.col("i").alias("ib"), F.col("n_u").alias("nb"))
    scored = (
        co.join(pa, "ia")
        .join(pb, "ib")
        .select(
            "ia",
            "ib",
            "co_u",
            "na",
            "nb",
            F.round(
                F.col("co_u")
                / F.sqrt(F.col("na").cast("double") * F.col("nb")),
                6,
            ).alias("cosine"),
        )
    )
    top = scored.orderBy(F.desc("cosine"), "ia", "ib").limit(_II_TOPK)
    return top.select(
        F.row_number()
        .over(Window.orderBy(F.desc("cosine"), "ia", "ib"))
        .cast("int")
        .alias("rank"),
        F.col("ia").alias("item_a"),
        F.col("ib").alias("item_b"),
        F.col("co_u").alias("co_users"),
        F.col("na").alias("users_a"),
        F.col("nb").alias("users_b"),
        "cosine",
    ).orderBy("rank")


_MMD_DIM = 16  # leading embedding dims used for the drift test


@query(
    "embedding_mmd_drift",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, (vec_id % 2 = 1) AS grp,
             list_transform(range(1, {_MMD_DIM} + 1),
               i -> CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000)
                    AS BIGINT)) AS e
      FROM embeddings
    ), sums AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n,
             list_transform(range(1, {_MMD_DIM} + 1), i ->
               CAST(list_sum(list_transform(list(e), v -> v[i]))
                    AS BIGINT)) AS s
      FROM q GROUP BY 1
    ), w AS (
      SELECT max(CASE WHEN grp THEN n END) AS n1,
             max(CASE WHEN NOT grp THEN n END) AS n0,
             max(CASE WHEN grp THEN s END) AS s1,
             max(CASE WHEN NOT grp THEN s END) AS s0
      FROM sums
    )
    SELECT n1, n0,
           round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(range(1, {_MMD_DIM} + 1), i ->
               (CAST(s1[i] AS DOUBLE) / n1 - CAST(s0[i] AS DOUBLE) / n0)
               * (CAST(s1[i] AS DOUBLE) / n1 - CAST(s0[i] AS DOUBLE) / n0))),
             (a, v) -> a + v) / 1000000000000.0, 9) AS mmd2_linear,
           round(sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(range(1, {_MMD_DIM} + 1), i ->
               (CAST(s1[i] AS DOUBLE) / n1 - CAST(s0[i] AS DOUBLE) / n0)
               * (CAST(s1[i] AS DOUBLE) / n1 - CAST(s0[i] AS DOUBLE) / n0))),
             (a, v) -> a + v)) / 1000000.0, 9) AS centroid_shift
    FROM w
    """,
)
def embedding_mmd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-kernel MMD² drift test between two embedding batches
    (odd vs even vec_ids — the deterministic stand-in for
    yesterday-vs-today): MMD²_linear = ||μ₁ − μ₂||² over the first
    {_MMD_DIM} dimensions, the distribution-shift statistic for vector
    stores (kl_drift/psi watch scalar columns; this watches the
    embedding space itself). Per-dimension sums are exact micro-
    quantized int64s aggregated per group; the {_MMD_DIM} squared-
    difference terms sum in a dimension-ORDERED fold — bit-exact at
    9dp in original units.

    Scale: one map-side-combined group aggregate carrying a
    {_MMD_DIM}-slot integer sum vector (embedding_cov_matrix's
    layout); the statistic evaluates on a 2-row pivot. The full-kernel
    MMD (RBF) at scale uses random Fourier features — the same
    sum-vector pass over a widened feature map.
    """
    q = load(spark, sf_dir, "embeddings").select(
        (F.col("vec_id") % 2 == 1).alias("grp"),
        F.expr(
            f"""
            transform(sequence(1, {_MMD_DIM}),
              i -> CAST(round(CAST(embedding[i - 1] AS DOUBLE) * 1000000)
                   AS BIGINT))
            """
        ).alias("e"),
    )
    sums = q.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        *[
            F.sum(F.col("e")[i]).cast("bigint").alias(f"s{i}")
            for i in range(_MMD_DIM)
        ],
    )
    w = sums.agg(
        F.max(F.when(F.col("grp"), F.col("n"))).alias("n1"),
        F.max(F.when(~F.col("grp"), F.col("n"))).alias("n0"),
        *[
            F.max(F.when(F.col("grp"), F.col(f"s{i}"))).alias(f"a{i}")
            for i in range(_MMD_DIM)
        ],
        *[
            F.max(F.when(~F.col("grp"), F.col(f"s{i}"))).alias(f"b{i}")
            for i in range(_MMD_DIM)
        ],
    )
    # dimension-ordered fold over the squared mean differences
    diffs = "array(" + ", ".join(
        f"(CAST(a{i} AS DOUBLE) / n1 - CAST(b{i} AS DOUBLE) / n0)"
        f" * (CAST(a{i} AS DOUBLE) / n1 - CAST(b{i} AS DOUBLE) / n0)"
        for i in range(_MMD_DIM)
    ) + ")"
    fold = (
        f"aggregate({diffs}, CAST(0.0 AS DOUBLE), (a, v) -> a + v)"
    )
    return w.select(
        "n1",
        "n0",
        F.round(F.expr(fold) / 1e12, 9).alias("mmd2_linear"),
        F.round(F.sqrt(F.expr(fold)) / 1e6, 9).alias("centroid_shift"),
    )
