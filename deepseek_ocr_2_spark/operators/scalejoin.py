"""Skewed-key detection for corpus-scale tables.

A skewed key (one host = 30% of rows) makes one reducer the straggler
no matter the parallelism.  ``hot_keys`` finds the keys worth salting
so a targeted split strategy salts ONLY them and leaves the long tail
unsalted (``operators/extract.py`` salts hot hosts per url).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hot_keys(
    df: DataFrame, key: str, threshold: int
) -> Sequence[str]:
    """Keys whose row count exceeds ``threshold`` — the input to a
    targeted split strategy (salt ONLY the hot keys, leave the long
    tail unsalted).  One tiny aggregate with map-side partials; in
    production it lives with the snapshot statistics."""
    rows = (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > threshold)
        .select(key)
        .collect()
    )
    return [r[0] for r in rows]
