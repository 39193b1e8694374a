"""The benchmark's three workloads, as lists of operations.

An operation is ``build(spark) -> DataFrame`` (plan construction, including
any Spark jobs the program runs while building) followed by ``sink(df)``
(execution: the ``noop`` sink for registry queries, or the file sink the
operation owns). ``check(spark, oracle)`` re-derives the output outside the
timed region and returns a list of failure messages (empty = correct).

Sizes are fixed by the run budget (a run, set-up included, takes about 45 s
on 4 cores): README.md says what each workload keeps of the full-size design
and why.
"""

from __future__ import annotations

import csv
import json
import math
import os
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np

# The headline queries this workload runs, by name (bench.py's ``headline``
# flag marks 16; these four cover its layers: a relational aggregate, a
# plan-time collect, an Arrow mapInPandas kernel and a shingle posting-list
# pair shuffle).
HEADLINE = (
    "q1_pricing_summary",
    "ann_bruteforce_topk",
    "pretrained_featurizer_head",
    "dedup_ngram_jaccard",
)
# not in BENCHMARK.json (see README.md): run by hand with a longer --seconds
PAIR_HEAVY = ("itemitem_cosine_topk", "coverage_novelty_recs", "dedup_ngram_jaccard")
ICEBERG_STACKING = ("fold_stacking", "stack_minmax_bestbase")

# frame per workload: (testdata decade it mimics, organic scale-up factor)
FRAMES = {"headline": ("0.01", 1), "iceberg_cv": ("0.01", 1), "pair_heavy": ("0.1", 3)}

SAR_RECORDS = 200  # train-file records (Kaggle's has 1,604)
SAR_SLICE = 4  # records whose bands feed sar_features
SAR_CROP = 25  # sar_features crops each 75×75 band to its central 25×25
SAR_TEST_ROWS = 8424  # rows in Kaggle's test set, i.e. in a submission


@dataclass
class Op:
    name: str
    build: Callable
    sink: Callable
    check: Callable
    rows: int = 0  # rows the op feeds its kernel (for rows/s metrics)
    src: str = ""  # input file the op parses, if any
    out: str = ""  # file or directory the op's sink writes, if any


def noop_sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def registry_op(reg, name: str, sf_dir: str) -> Op:
    qd = reg[name]
    if qd.oracle is None:
        raise ValueError(f"{name} has no oracle to check its output against")

    def check(spark, oracle) -> list[str]:
        return oracle.compare(name, qd.fn(spark, sf_dir).toPandas(), qd.oracle)

    return Op(name, lambda spark: qd.fn(spark, sf_dir), noop_sink, check)


# ---- iceberg_cv's SAR operations -------------------------------------------


def _ffill_reference(records: list[dict]) -> dict[str, float | None]:
    """pandas fillna(method='pad') in id order: the expected inc_angle."""
    out, last = {}, None
    for r in sorted(records, key=lambda r: r["id"]):
        a = r["inc_angle"]
        if a != "na":
            last = float(a)
        out[r["id"]] = last
    return out


def sar_ingest_op(inputs: dict) -> Op:
    from iceberg_classifier_spark.sources.sar_json import ffill_inc_angle, read_sar_json
    from iceberg_classifier_spark.sources.sinks import write_parquet

    src, dst = inputs["sar_json"], os.path.join(inputs["out"], "sar_train.parquet")

    def check(spark, oracle) -> list[str]:
        import pyarrow.parquet as pq

        with open(src) as f:
            records = json.load(f)
        t = pq.read_table(dst, columns=["id", "inc_angle", "band_1"]).to_pydict()
        errs = []
        if len(t["id"]) != len(records):
            errs.append(f"sar_ingest: {len(t['id'])} rows, expected {len(records)}")
        exp = _ffill_reference(records)
        got = dict(zip(t["id"], t["inc_angle"]))
        if got != exp:
            diff = sum(1 for k in exp if got.get(k) != exp[k])
            errs.append(f"sar_ingest: inc_angle ffill differs on {diff} ids")
        if any(len(b) != 75 * 75 for b in t["band_1"]):
            errs.append("sar_ingest: band_1 is not 75x75 on every row")
        return errs

    return Op(
        "sar_ingest",
        lambda spark: ffill_inc_angle(read_sar_json(spark, src)),
        lambda df: write_parquet(df, dst),
        check,
        rows=SAR_RECORDS,
        src=src,
        out=dst,
    )


def _features_reference(band: np.ndarray) -> tuple:
    """NumPy reference of ml.pipeline.engineered_features for one band."""
    m, s = band.mean(), band.std()
    return (m, s, band.min(), band.max(), float((band < 0.0).mean()),
            float((band > m + 2 * s).sum()))


FEATURE_COLS = ("f_mean", "f_std", "f_min", "f_max", "f_size", "f_iso_active")


def sar_features_op(inputs: dict) -> Op:
    from pyspark.sql import functions as F

    from iceberg_classifier_spark.ml.pipeline import engineered_features

    path = inputs["sar_slice"]

    def build(spark):
        df = spark.read.parquet(path)
        bands = df.select("id", F.lit(1).alias("band_no"), F.col("band_1").alias("band")).unionByName(
            df.select("id", F.lit(2).alias("band_no"), F.col("band_2").alias("band"))
        )
        return engineered_features(bands, vec_col="band")

    def check(spark, oracle) -> list[str]:
        import pyarrow.parquet as pq

        src = pq.read_table(path).to_pydict()
        got = {
            (r["id"], r["band_no"]): tuple(r[c] for c in FEATURE_COLS)
            for r in build(spark).drop("band").collect()
        }
        errs = []
        if len(got) != 2 * len(src["id"]):
            errs.append(f"sar_features: {len(got)} rows, expected {2 * len(src['id'])}")
        for i, rid in enumerate(src["id"]):
            for no in (1, 2):
                exp = _features_reference(np.asarray(src[f"band_{no}"][i]))
                g = got.get((rid, no))
                if g is None or not np.allclose(g, exp, rtol=1e-9, atol=1e-9):
                    errs.append(f"sar_features: ({rid}, band_{no}) = {g}, NumPy says {exp}")
        return errs

    return Op("sar_features", build, noop_sink, check, rows=2 * SAR_SLICE)


def _submission_reference(b1: np.ndarray, b2: np.ndarray) -> np.ndarray:
    return 1.0 / (1.0 + np.exp(-(0.35 * (b1 + 21.0) + 0.2 * (b2 + 26.0))))


def sar_submit_op(inputs: dict) -> Op:
    from pyspark.sql import functions as F

    from iceberg_classifier_spark.sources.sinks import write_submission

    src, dst = inputs["sar_test"], os.path.join(inputs["out"], "submission.csv")

    def build(spark):
        t = spark.read.parquet(src)
        z = 0.35 * (F.col("b1_mean") + 21.0) + 0.2 * (F.col("b2_mean") + 26.0)
        return t.select("id", (1.0 / (1.0 + F.exp(-z))).alias("is_iceberg"))

    def check(spark, oracle) -> list[str]:
        import pyarrow.parquet as pq

        t = pq.read_table(src).to_pydict()
        exp = dict(zip(t["id"], _submission_reference(np.asarray(t["b1_mean"]), np.asarray(t["b2_mean"]))))
        with open(dst, newline="") as f:
            rows = list(csv.reader(f))
        errs = []
        if rows[0] != ["id", "is_iceberg"]:
            errs.append(f"sar_submit: header {rows[0]}")
        body = rows[1:]
        if len(body) != len(exp):
            errs.append(f"sar_submit: {len(body)} rows, expected {len(exp)}")
        probs = {r[0]: float(r[1]) for r in body}
        if any(not 0.0 <= p <= 1.0 or math.isnan(p) for p in probs.values()):
            errs.append("sar_submit: probability outside [0, 1]")
        if probs.keys() != exp.keys():
            errs.append("sar_submit: ids differ from the test set")
        elif not all(math.isclose(probs[k], exp[k], rel_tol=1e-9, abs_tol=1e-12) for k in exp):
            errs.append("sar_submit: probabilities differ from the NumPy reference")
        return errs

    return Op("sar_submit", build, lambda df: write_submission(df, dst), check,
              rows=SAR_TEST_ROWS, out=dst)


def operations(workload: str, reg, inputs: dict) -> list[Op]:
    frame = inputs["frame"]
    if workload == "headline":
        return [registry_op(reg, n, frame) for n in HEADLINE]
    if workload == "pair_heavy":
        return [registry_op(reg, n, frame) for n in PAIR_HEAVY]
    if workload == "iceberg_cv":
        return (
            [sar_ingest_op(inputs), sar_features_op(inputs)]
            + [registry_op(reg, n, frame) for n in ICEBERG_STACKING]
            + [sar_submit_op(inputs)]
        )
    raise KeyError(workload)
