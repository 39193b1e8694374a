"""Tests of the shared kernels under ``operators/`` and of the footer-stats
bounds that decide their packed paths, on hand-built ``tmp_path``
fixtures."""

from __future__ import annotations

import itertools

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from iceberg_classifier_spark import api
from iceberg_classifier_spark.operators import cooccur, minhash
from iceberg_classifier_spark.plans.registry import load_all_queries
from iceberg_classifier_spark.sources.tables import (
    id_bound,
    parquet_column_bounds,
    table_path,
)

REGISTRY = load_all_queries()


# ---- footer-stats bounds ---------------------------------------------------


def test_bounds_of_flat_file_and_directory(tmp_path):
    t = pa.table({"doc_id": pa.array([3, 9, 5], pa.int64())})
    pq.write_table(t, tmp_path / "documents.parquet")
    assert parquet_column_bounds(str(tmp_path), "documents", "doc_id") == (3, 9)
    assert id_bound(str(tmp_path), "documents", "doc_id") == 10
    d = tmp_path / "flat" / "documents.parquet"
    d.mkdir(parents=True)
    pq.write_table(t, d / "part-0.parquet")
    pq.write_table(pa.table({"doc_id": pa.array([12], pa.int64())}), d / "part-1.parquet")
    assert parquet_column_bounds(str(tmp_path / "flat"), "documents", "doc_id") == (3, 12)


def test_bounds_none_for_nested_layout(tmp_path):
    # hive-nested: the top-level listing sees no file, so a bound read from
    # it would undercount max and shrink the pack modulus
    top = tmp_path / "documents.parquet"
    (top / "part=0").mkdir(parents=True)
    pq.write_table(
        pa.table({"doc_id": pa.array([1, 2], pa.int64())}), top / "part=0" / "a.parquet"
    )
    pq.write_table(pa.table({"doc_id": pa.array([0], pa.int64())}), top / "b.parquet")
    assert parquet_column_bounds(str(tmp_path), "documents", "doc_id") is None
    assert id_bound(str(tmp_path), "documents", "doc_id") is None


def test_bounds_none_for_string_ids(tmp_path):
    pq.write_table(
        pa.table({"doc_id": pa.array(["a1", "b2"])}), tmp_path / "documents.parquet"
    )
    assert parquet_column_bounds(str(tmp_path), "documents", "doc_id") is None
    assert id_bound(str(tmp_path), "documents", "doc_id") is None


def test_ngram_jaccard_unpacked_branch_matches_oracle(spark, sf_dir, tmp_path):
    """doc_id + 2^32 overflows the (doc_id, n_sh) int64 pack, so
    ``_shingle_pairs`` takes its struct branch; the result must still equal
    the query's own DuckDB oracle on that directory."""
    import duckdb

    t = pq.read_table(table_path(sf_dir, "documents"))
    i = t.schema.get_field_index("doc_id")
    t = t.set_column(i, "doc_id", pc.add(t["doc_id"], pa.scalar(1 << 32, pa.int64())))
    pq.write_table(t, tmp_path / "documents.parquet")
    sf = str(tmp_path)
    assert id_bound(sf, "documents", "doc_id") > 1 << 32
    qd = REGISTRY["dedup_ngram_jaccard"]
    df = qd.fn(spark, sf)
    assert "collect_list(pe#" not in df._jdf.queryExecution().executedPlan().toString()
    got = sorted(tuple(r) for r in df.select("doc_a", "doc_b", "inter", "jaccard").collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{table_path(sf, 'documents')}'")
    exp = sorted(
        tuple(r) for r in con.execute(
            f"SELECT doc_a, doc_b, inter, jaccard FROM ({qd.oracle})"
        ).fetchall()
    )
    con.close()
    assert got and len(got) == len(exp)
    for g, e in zip(got, exp):
        assert g[:3] == e[:3] and g[3] == pytest.approx(e[3], abs=1e-9)


# ---- cooccur ---------------------------------------------------------------


def test_pair_counts_packed_equals_unpacked(spark):
    baskets = [
        [1, 2, 3, 4],
        [1, 2, 3],
        [2, 3, 4, 7],
        [1, 2, 7],
        [3, 4],
        [9],
        [1, 2, 3, 4, 7, 9],
    ]
    ui = spark.createDataFrame(
        [(u, i) for u, b in enumerate(baskets) for i in b + b[:1]], "u long, i long"
    )
    b = cooccur.sorted_baskets(ui, "u", "i").cache()
    for cap in (None, 3):
        expect = {}
        for items in baskets:
            for p in itertools.combinations(sorted(items)[:cap], 2):
                expect[p] = expect.get(p, 0) + 1
        expect = {p: c for p, c in expect.items() if c >= 2}
        runs = {
            bound: {
                (r.ia, r.ib): r.co_u
                for r in cooccur.pair_counts(b, 2, bound, cap=cap).collect()
            }
            for bound in (10, None)
        }
        assert runs[10] == runs[None] == expect, cap
    spark.catalog.clearCache()


# ---- minhash ---------------------------------------------------------------


def test_registry_and_api_share_the_minhash_kernel(spark, sf_dir, monkeypatch):
    """``dedup_minhash_lsh`` and ``api.minhash_dedup_pairs`` build their
    pairs with the same kernel function, each with its own modulus."""
    real = minhash.dedup_pairs
    seen = []

    def spy(*args, **kwargs):
        seen.append(kwargs["modulus"])
        return real(*args, **kwargs)

    monkeypatch.setattr(minhash, "dedup_pairs", spy)
    corpus = spark.createDataFrame([(1, "a b c d")], "url long, body string")
    api.minhash_dedup_pairs(corpus, text_col="body", id_col="url")
    REGISTRY["dedup_minhash_lsh"].fn(spark, sf_dir)
    spark.catalog.clearCache()
    assert seen == [minhash.P61, minhash.P32]


def test_minhash_modulus_is_one_of_two(spark):
    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    with pytest.raises(ValueError):
        minhash.signatures(df, "text", "doc_id", 8, modulus=(1 << 31) - 1)


def test_minhash_signature_matches_python(spark):
    import hashlib

    text = "x y z x y w"
    df = spark.createDataFrame([(7, text)], "doc_id long, text string")
    toks = text.split()
    shingles = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
    base = [int(hashlib.md5(s.encode()).hexdigest()[:8], 16) for s in shingles]
    for p in (minhash.P32, minhash.P61):
        (row,) = minhash.signatures(df, "text", "doc_id", 16, modulus=p).collect()
        exp = [min((a * h + b) % p for h in base) for a, b in zip(minhash._A, minhash._B)]
        assert row.sig == exp[:16]


# ---- engineered features ---------------------------------------------------


def _lambda_bodies_with_folds(plan) -> list[str]:
    """Lambda bodies, anywhere in ``plan``'s expressions, that contain a
    fold (ArrayAggregate) — a fold Catalyst re-evaluates per element."""
    bad = []
    nodes = [plan]
    while nodes:
        node = nodes.pop()
        ch = node.children()
        nodes.extend(ch.apply(i) for i in range(ch.size()))
        es = node.expressions()
        exprs = [es.apply(i) for i in range(es.size())]
        while exprs:
            e = exprs.pop()
            sub = e.children()
            kids = [sub.apply(i) for i in range(sub.size())]
            exprs.extend(kids)
            if e.getClass().getSimpleName() == "LambdaFunction":
                body, stack = kids[0], [kids[0]]
                while stack:
                    x = stack.pop()
                    if x.getClass().getSimpleName() == "ArrayAggregate":
                        bad.append(body.toString())
                        break
                    c = x.children()
                    stack.extend(c.apply(i) for i in range(c.size()))
    return bad


def test_engineered_features_match_numpy_with_row_level_folds(spark):
    from iceberg_classifier_spark.ml.pipeline import engineered_features

    band = np.random.default_rng(5).normal(-20.0, 4.0, 75 * 75)
    df = spark.createDataFrame([(1, band.tolist())], "id long, band array<double>")
    feats = engineered_features(df, vec_col="band")
    row = feats.first()
    m, s = band.mean(), band.std()
    iso = float((band > m + 2 * s).sum())
    exp = [m, s, band.min(), band.max(), float((band < 0.0).mean()), iso]
    got = [row.f_mean, row.f_std, row.f_min, row.f_max, row.f_size, row.f_iso_active]
    assert np.allclose(got, exp, rtol=1e-12, atol=1e-12)
    # also after pruning to the iso column alone, where Catalyst may
    # collapse the projections and inline f_mean/f_std
    for df_ in (feats, feats.select("f_iso_active")):
        plan = df_._jdf.queryExecution().optimizedPlan()
        assert _lambda_bodies_with_folds(plan) == []
