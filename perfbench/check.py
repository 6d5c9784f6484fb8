"""Output checks: extraction digests against the Spark-free kernels, and
registry results against their DuckDB oracles."""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Dict, Iterable, List

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from deepseek_ocr_2_spark.operators.extract import (
    EXTRACT_SCHEMA,
    ExtractConfig,
    make_extract_kernel,
)
from tools.check_oracle import frame_rowset

# what a row is checked on: the url's extraction output and its status
DIGEST_COLUMNS = ("url", "extracted_text", "spans", "ok", "error")


def row_digest() -> F.Column:
    return F.xxhash64(*DIGEST_COLUMNS)


def digest_aggregate(df: DataFrame, *extra: F.Column) -> DataFrame:
    """One row: count, text length, span count and the XOR of per-url
    digests -- an order-independent digest of the whole output -- plus
    any ``extra`` aggregates computed in the same pass."""
    return df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.length("extracted_text")).alias("chars"),
        F.sum(F.size("spans")).alias("spans"),
        F.bit_xor(row_digest()).alias("digest"),
        *extra,
    )


def agg_tuple(row) -> tuple:
    return (int(row["rows"]), int(row["chars"] or 0), int(row["spans"] or 0), int(row["digest"] or 0))


def merge_aggs(a: tuple, b: tuple) -> tuple:
    """Aggregate of the union of two disjoint outputs."""
    return (a[0] + b[0], a[1] + b[1], a[2] + b[2], a[3] ^ b[3])


def local_extract(pages: pd.DataFrame, cfg: ExtractConfig, batch: int = 2000) -> pd.DataFrame:
    """The extraction kernel run Spark-free, one core, over ``pages``."""
    kernel = make_extract_kernel(cfg)
    chunks = (pages.iloc[i : i + batch] for i in range(0, len(pages), batch))
    return pd.concat(list(kernel(chunks)), ignore_index=True)


def write_expected(rows: pd.DataFrame, path: str) -> None:
    """Stage expected rows as parquet with the operator's output schema."""
    schema = to_arrow_schema(EXTRACT_SCHEMA)
    table = pa.Table.from_arrays(
        [pa.array(rows[f.name].tolist(), type=f.type) for f in schema], schema=schema
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def url_digests(df: DataFrame) -> Dict[str, List[int]]:
    out: Dict[str, List[int]] = {}
    for url, h in df.select("url", row_digest().alias("h")).collect():
        out.setdefault(url, []).append(h)
    return out


@dataclass
class Mismatch:
    missing: int = 0
    extra: int = 0
    differing: int = 0

    @property
    def total(self) -> int:
        return self.missing + self.extra + self.differing


def diagnose(got: DataFrame, want: DataFrame) -> Mismatch:
    """Per-url comparison, run only after an aggregate mismatch."""
    g, w = url_digests(got), url_digests(want)
    m = Mismatch()
    for url in g.keys() | w.keys():
        gh, wh = sorted(g.get(url, [])), sorted(w.get(url, []))
        m.missing += max(0, len(wh) - len(gh))
        m.extra += max(0, len(gh) - len(wh))
        m.differing += sum(1 for a, b in zip(gh, wh) if a != b)
    return m


def oracle_results(sf_dir: str, tables: Iterable[str], sqls: Dict[str, str]) -> Dict[str, tuple]:
    """Canonical row sets of each oracle query over ``sf_dir``'s tables."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        return {name: canonical(con.sql(sql).df()) for name, sql in sqls.items()}
    finally:
        con.close()


def canonical(frame: pd.DataFrame) -> tuple:
    """Column names and canonical row set, as the oracle gate compares them."""
    return sorted(frame.columns), frame_rowset(frame)
