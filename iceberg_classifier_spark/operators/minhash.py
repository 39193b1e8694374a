"""Broder MinHash signatures and LSH band keys — the one kernel behind the
registered MinHash plans and ``api.minhash_signatures`` /
``api.minhash_dedup_pairs``.

h_i(s) = (a_i · md5_32(s) + b_i) mod p over token shingles: one md5-prefix
base hash per shingle, then one multiply-add-mod per family member. The
(a_i, b_i) tables are literal, so a DuckDB oracle rebuilds bit-identical
signatures from :func:`family_sql`. The modulus takes exactly two values:
``P32`` is the registry's (its oracles interpolate it) and ``P61`` is
``api.py``'s (its hot-bucket threshold test was searched against that
family). Signatures are per-row array math; the only shuffle is the
(band, band_hash) equi-join, which moves key triples, never signatures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from iceberg_classifier_spark.functions import text as T

P32 = 4294967311  # first prime above 2^32
P61 = 2305843009213693951  # 2^61 - 1
FAMILY_SIZE = 64
# odd multipliers / offsets from the repo's LCG; a_i < 2^31 and base < 2^32
# keep a_i*base + b_i < 2^63, so every member is exact int64 on both engines
_A = [2 * ((1103515245 * (i + 1) + 12345) % 1073741823) + 1 for i in range(FAMILY_SIZE)]
_B = [(1103515245 * (i + 101) + 12345) % 2147483648 for i in range(FAMILY_SIZE)]


def family_sql(k: int) -> tuple[str, str]:
    """DuckDB list literals of the first ``k`` (a_i, b_i) members."""
    return (
        "[" + ", ".join(str(a) for a in _A[:k]) + "]",
        "[" + ", ".join(str(b) for b in _B[:k]) + "]",
    )


def _member(i: int, modulus: int):
    # one-arg lambda (a two-arg lambda would make F.transform pass the
    # element index as the second parameter)
    return lambda h: (F.lit(_A[i]) * h + F.lit(_B[i])) % F.lit(modulus)


def signatures(
    df: DataFrame, text_col: str, id_col: str, n_hashes: int, *, modulus: int, shingle_n: int = 3
) -> DataFrame:
    """``(id_col, sig array<bigint>)``, one ``n_hashes``-long MinHash
    signature per document. Documents with no ``shingle_n``-token shingle
    are dropped."""
    if n_hashes > FAMILY_SIZE:
        raise ValueError(f"n_hashes > {FAMILY_SIZE} not supported")
    if modulus not in (P32, P61):
        raise ValueError("modulus must be minhash.P32 or minhash.P61")
    # tokens get their own projection: shingling element_at()s over a raw
    # split expression would re-split the text once per shingle element
    toks = df.select(F.col(id_col), T.tokens(F.col(text_col)).alias("_toks"))
    sh = toks.select(
        id_col, T.shingles(F.col("_toks"), shingle_n).alias("_sh")
    ).where(F.size("_sh") > 0)
    # the base hashes are materialized in their own projection so the
    # family members below reuse them instead of re-hashing
    hv = sh.select(
        id_col,
        F.transform(
            "_sh",
            lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("bigint"),
        ).alias("_hv"),
    )
    return hv.select(
        id_col,
        F.array(
            *[
                F.array_min(F.transform("_hv", _member(i, modulus)))
                for i in range(n_hashes)
            ]
        ).alias("sig"),
    )


def band_keys(sig: DataFrame, id_col: str, n_hashes: int, bands: int) -> DataFrame:
    """``(id_col, band, band_hash)``: each signature cut into ``bands``
    bands, a band's key being its minhashes joined with ``,``."""
    if n_hashes % bands:
        raise ValueError("bands must divide n_hashes")
    rows = n_hashes // bands
    keys = [
        F.concat_ws(
            ",",
            *[
                F.element_at(F.col("sig"), b * rows + r + 1).cast("string")
                for r in range(rows)
            ],
        )
        for b in range(bands)
    ]
    return sig.select(
        id_col, F.posexplode(F.array(*keys)).alias("band", "band_hash")
    )


def candidate_pairs(
    keys: DataFrame, id_col: str, bucket_cap: int | None = None
) -> DataFrame:
    """Distinct ``(id_a, id_b)``, id_a < id_b, of documents sharing a band
    bucket. With ``bucket_cap``, a bucket of more than ``bucket_cap``
    members emits only its star — (min id, member) pairs — so a hot bucket
    costs O(members), not O(members²); its min id and size combine
    map-side, and keep-one dedup sees the same connected components.
    """
    if bucket_cap is not None and bucket_cap < 1:
        raise ValueError("bucket_cap must be >= 1 (or None to disable)")
    pair_src = keys
    if bucket_cap is not None:
        bsz = keys.groupBy("band", "band_hash").agg(
            F.min(id_col).alias("_lowest"), F.count(F.lit(1)).alias("_sz")
        )
        pair_src = keys.join(
            bsz.where(F.col("_sz") <= bucket_cap).select("band", "band_hash"),
            ["band", "band_hash"],
        )
    a, b = pair_src.alias("a"), pair_src.alias("b")
    cand = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.band_hash") == F.col("b.band_hash"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
    )
    if bucket_cap is not None:
        star = (
            keys.join(
                bsz.where(F.col("_sz") > bucket_cap).select(
                    "band", "band_hash", "_lowest"
                ),
                ["band", "band_hash"],
            )
            .where(F.col(id_col) > F.col("_lowest"))
            .select(F.col("_lowest").alias("id_a"), F.col(id_col).alias("id_b"))
        )
        cand = cand.unionByName(star)
    return cand.dropDuplicates(["id_a", "id_b"])


def dedup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_hashes: int,
    bands: int,
    *,
    modulus: int,
    shingle_n: int = 3,
    bucket_cap: int | None = None,
    cache_signatures: bool = False,
) -> DataFrame:
    """``(id_a, id_b, est_jaccard)`` MinHash-LSH candidate pairs. The
    deduped candidate set joins the signatures back, so the band explode
    never carries them; ``cache_signatures`` persists the signature frame
    its three plan branches read.
    """
    sig = signatures(
        df, text_col, id_col, n_hashes, modulus=modulus, shingle_n=shingle_n
    )
    if cache_signatures:
        sig = sig.cache()
    cand = candidate_pairs(band_keys(sig, id_col, n_hashes, bands), id_col, bucket_cap)
    sa = sig.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    # estimated Jaccard: the fraction of equal minhashes
    same = F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda e: e)
    est = F.size(same).cast("double") / float(n_hashes)
    return cand.join(sa, "id_a").join(sb, "id_b").select(
        "id_a", "id_b", est.alias("est_jaccard")
    )
