"""MLlib classification pipeline — the Spark-native counterpart of the
reference's Keras transfer-CNN + sklearn CV (main.py:166-317).

The CNN backbone is a feature extractor feeding a sigmoid head; here the
feature extractor is the engineered vector-statistics block (band stats,
iso/size features, raw embedding elements via VectorAssembler) and the head
is MLlib LogisticRegression / GBTClassifier. The K-fold CV driver
reproduces myAngleCV's structure (main.py:248-317): per-fold fit →
out-of-fold predictions → test predictions averaged over folds.

Scale: each fold's fit is a full distributed MLlib job; OOF assembly is a
union of per-fold prediction frames (no collect of features to the driver).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import GBTClassifier, LogisticRegression
from pyspark.ml.feature import StandardScaler, VectorAssembler
from pyspark.ml.functions import vector_to_array
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from iceberg_classifier_spark.functions import arrays as A
from iceberg_classifier_spark.operators.folds import with_stratified_folds


def engineered_features(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-row feature block mirroring the reference's inputs: the image
    statistics + iso/size features (main-newInput.py:79-82) + the raw
    vector elements (stand-in for CNN activations).

    ``f_mean`` and ``f_std`` are projected once per row and read back as
    columns. The iso threshold ``mean + 2·std`` reaches the per-element
    comparison through ``array_repeat`` (``A.viso_active_count``), never
    as a free variable of a lambda — Catalyst re-evaluates a captured fold
    per element, O(d²) per row — so the count stays O(d) even where
    Catalyst collapses the projections and inlines the two folds."""
    v = F.col(vec_col).cast("array<double>")
    mean, std = F.col("f_mean"), F.col("f_std")
    d = df.select("*", A.vmean(v).alias("f_mean"))
    d = d.select("*", A.vstd(v, mean).alias("f_std"))
    return d.select(
        "*",
        F.array_min(v).alias("f_min"),
        F.array_max(v).alias("f_max"),
        A.vsize_frac(v, 0.0).alias("f_size"),
        A.viso_active_count(v, mean=mean, std=std)
        .cast("double")
        .alias("f_iso_active"),
    )


def fit_ready(
    df: DataFrame, rows_per_partition: int = 50_000
) -> tuple[DataFrame, DataFrame]:
    """Cache and right-size a training frame for an iterative MLlib fit.

    Every LBFGS / boosting / Lloyd iteration is one Spark job over this
    frame, so its partition count sets the per-iteration scheduling
    overhead. Cache it (the optimizer re-reads it tens of times — without
    the cache the whole upstream lineage re-executes per iteration), then
    coalesce by measured row count, capped at defaultParallelism: a
    cluster-scale frame keeps every core busy, a small fit runs in a
    handful of tasks instead of 32 near-empty ones per iteration.

    Returns ``(fit_df, cache_handle)`` — call ``.unpersist()`` on the
    handle when the fitted model no longer needs the frame.
    """
    cached = df.cache()
    n = cached.count()
    sc = cached.sparkSession.sparkContext
    target = max(1, min(sc.defaultParallelism, math.ceil(n / rows_per_partition)))
    parts = cached.rdd.getNumPartitions()
    if target < parts:
        return cached.coalesce(target), cached
    if target > parts:
        # spread BACK OUT too: stratified_split's per-label window collapses
        # its output lineage to one partition per label value, so a big
        # training frame otherwise reaches the optimizer 2-wide no matter
        # the cluster size. The repartition reads the cache once; every
        # optimizer iteration reuses the same shuffle files (skipped map
        # stages), so the spread is a one-time cost.
        return cached.repartition(target), cached
    return cached, cached


def build_pipeline(feature_cols: list[str], model: str = "logreg") -> Pipeline:
    assembler = VectorAssembler(inputCols=feature_cols, outputCol="features_raw")
    scaler = StandardScaler(
        inputCol="features_raw", outputCol="features", withMean=True, withStd=True
    )
    if model == "logreg":
        # maxIter=25 / tol=1e-4 converge to the same 4-dp log-loss as
        # maxIter=50 / tol=1e-6 on every tested SF at a fraction of the
        # LBFGS wall-clock (driver runs the whole registry per round; fit
        # time is coverage budget — 1e-4 is far below 4-dp reporting noise)
        clf = LogisticRegression(
            featuresCol="features", labelCol="y", maxIter=25, regParam=0.01, tol=1e-4
        )
    elif model == "gbt":
        clf = GBTClassifier(
            featuresCol="features_raw", labelCol="y", maxIter=10, maxDepth=3, seed=7
        )
        return Pipeline(stages=[assembler, clf])
    elif model == "mlp":
        # the dense sigmoid head of the reference's two-branch net
        # (main.py:216-235: concat → Dense(512) → Dense(256) → sigmoid),
        # scaled to the feature width: MLlib's MultilayerPerceptronClassifier
        # with two hidden layers and a 2-unit softmax output (binary). Seeded
        # so the LBFGS weight init — and therefore the fit — is reproducible.
        from pyspark.ml.classification import MultilayerPerceptronClassifier

        clf = MultilayerPerceptronClassifier(
            featuresCol="features",
            labelCol="y",
            layers=[len(feature_cols), 16, 8, 2],
            maxIter=60,
            tol=1e-5,
            seed=7,
        )
    else:
        raise ValueError(f"unknown model {model!r}")
    return Pipeline(stages=[assembler, scaler, clf])


def prob_of_one(model: PipelineModel, df: DataFrame) -> DataFrame:
    out = model.transform(df)
    return out.withColumn("prob", vector_to_array(F.col("probability"))[1])


@dataclass
class CVResult:
    oof: DataFrame  # (id, y, fold, prob) out-of-fold predictions
    test_pred: DataFrame  # (id, prob) averaged over folds
    train_pred: DataFrame | None = None  # (id, y, fold, prob) in-fold


def kfold_cv(
    train: DataFrame,
    test: DataFrame,
    feature_cols: list[str],
    id_col: str,
    k: int = 4,
    model: str = "logreg",
    with_train_pred: bool = False,
) -> CVResult:
    """myAngleCV (main.py:248-317) on MLlib: stratified folds, per-fold fit,
    OOF preds on the held-out fold, test preds averaged over the K models.
    ``with_train_pred`` additionally scores each fold model on its OWN
    training rows (fold column = the model's fold index) — the in-sample
    predictions a did-the-optimizer-work self-check needs."""
    folds, folds_cache = fit_ready(with_stratified_folds(train, "y", id_col, k))
    pipe = build_pipeline(feature_cols, model)
    oof_parts: list[DataFrame] = []
    test_parts: list[DataFrame] = []
    train_parts: list[DataFrame] = []
    for j in range(k):
        tr = folds.where(F.col("fold") != j)
        ho = folds.where(F.col("fold") == j)
        m = pipe.fit(tr)
        oof_parts.append(
            prob_of_one(m, ho).select(id_col, "y", "fold", "prob")
        )
        test_parts.append(
            prob_of_one(m, test).select(id_col, F.col("prob").alias(f"p{j}"))
        )
        if with_train_pred:
            train_parts.append(
                prob_of_one(m, tr).select(
                    id_col, "y", F.lit(j).alias("fold"), "prob"
                )
            )
    oof = oof_parts[0]
    for part in oof_parts[1:]:
        oof = oof.unionByName(part)
    train_pred = None
    if with_train_pred:
        train_pred = train_parts[0]
        for part in train_parts[1:]:
            train_pred = train_pred.unionByName(part)
    tp = test_parts[0]
    for j, part in enumerate(test_parts[1:], start=1):
        tp = tp.join(part, id_col)
    avg = sum(F.col(f"p{j}") for j in range(1, k)) + F.col("p0")
    test_pred = tp.select(F.col(id_col), (avg / k).alias("prob"))
    folds_cache.unpersist()
    return CVResult(oof=oof, test_pred=test_pred, train_pred=train_pred)
