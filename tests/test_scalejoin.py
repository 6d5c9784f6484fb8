"""Skewed-key detection: ``hot_keys`` finds exactly the giant key."""

from __future__ import annotations

from pyspark.sql import functions as F

from deepseek_ocr_2_spark.operators import scalejoin as SJ


def test_hot_keys_detects_the_giant(spark):
    df = spark.range(0, 1000).select(
        F.when(F.col("id") < 700, F.lit("giant"))
        .otherwise(F.concat(F.lit("h"), (F.col("id") % 50).cast("string")))
        .alias("host")
    )
    hot = SJ.hot_keys(df, "host", threshold=100)
    assert hot == ["giant"]

