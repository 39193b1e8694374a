#!/usr/bin/env python3
"""Reproducers of two program defects found while sizing the benchmark.

    python3 perfbench/repro_defects.py [seed]

(a) ``ml.pipeline.engineered_features`` captures ``mean``/``std`` inside
    the ``F.filter`` lambda of ``f_iso_active``: Catalyst re-evaluates both
    O(d) folds per element, so the term is O(d²) per row. Prints the time
    of one 75×75 band with and without that term.
(b) ``operators.folds.with_stratified_folds`` computes ``hi - lo`` on the
    id column, so ``kfold_cv`` raises ``TypeError`` on the reference's
    string SAR ids (``SAR_SCHEMA.id`` is ``StringType``). Prints the error.

Writes its inputs to a temporary directory and removes it.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gen  # noqa: E402


def timed_noop(df) -> float:
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


def main() -> int:
    seed = int(sys.argv[1]) if len(sys.argv) > 1 else 0
    from pyspark.sql import functions as F

    from iceberg_classifier_spark.ml.pipeline import engineered_features
    from iceberg_classifier_spark.operators.folds import with_stratified_folds
    from iceberg_classifier_spark.session import get_spark
    from iceberg_classifier_spark.sources.sar_json import read_sar_json

    tmp = tempfile.mkdtemp(prefix="perfbench-repro-")
    spark = get_spark("perfbench-repro")
    try:
        records = gen.sar_records(seed, 4)
        bands = spark.createDataFrame(
            [(r["id"], r["band_1"]) for r in records], "id string, band array<double>"
        )
        feats = engineered_features(bands, vec_col="band")
        timed_noop(feats.drop("f_iso_active"))  # warm-up
        without = timed_noop(feats.drop("f_iso_active"))
        one = timed_noop(engineered_features(bands.limit(1), vec_col="band"))
        print(f"(a) 4 bands without f_iso_active: {without:.2f} s; "
              f"1 band with it: {one:.2f} s")

        path = os.path.join(tmp, "train.json")
        import json

        with open(path, "w") as f:
            json.dump(gen.sar_records(seed, 16), f)
        sar = read_sar_json(spark, path).withColumn("y", F.col("is_iceberg"))
        try:
            with_stratified_folds(sar, "y", "id", 4).count()
            print("(b) no error: string ids are folded")
        except TypeError as e:
            print(f"(b) TypeError: {e}")
    finally:
        spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
