"""Seeded input generator for the benchmark workloads.

Everything here is a pure function of the seed: no Spark, no threads, no
clock.  The documents table has the shape of the sf0.1 ``documents``
parquet (30-word vocabulary, 10-100 words per text, five languages, 20
sources, 5% near-duplicates that append `` dup`` to another text, a few
exact duplicates), so the registry queries see the same kind of data at
a size a benchmark run can repeat many times.  Extraction payloads are
rendered with the package's own corpus renderers
(``sources.corpus.render_html`` / ``render_pdf_payload``).
"""

from __future__ import annotations

import os
from typing import List

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from deepseek_ocr_2_spark.sources.corpus import (
    EOS_FAIL_MOD,
    render_html,
    render_pdf_payload,
    url_for,
)

VOCAB = (
    "a the data table column row value key join merge sort order group "
    "agg filter scan hash window stream batch vector query spark line "
    "part customer fast slow big small"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
NEAR_DUP_SHARE = 0.05
EXACT_DUP_SHARE = 0.002
EMBED_DIM = 64
N_LABELS = 10

PAGES_SCHEMA = pa.schema(
    [("url", pa.string()), ("html", pa.binary()), ("lang", pa.string())]
)


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream): adding a stream or
    changing one table's size never shifts another table's draws."""
    key = [seed] + [ord(c) for c in stream]
    return np.random.default_rng(np.random.SeedSequence(key))


def documents(rng: np.random.Generator, n: int, first_id: int = 0) -> pd.DataFrame:
    """sf-style ``documents`` rows: doc_id, text, lang, source, n_chars."""
    lengths = rng.integers(10, 101, n)
    words = np.asarray(VOCAB)[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    bounds = np.cumsum(lengths)[:-1]
    texts: List[str] = [" ".join(w) for w in np.split(words, bounds)]
    n_near = int(n * NEAR_DUP_SHARE)
    n_exact = max(1, int(n * EXACT_DUP_SHARE))
    picked = rng.choice(n, size=n_near + 2 * n_exact, replace=False)
    for i, j in zip(picked[:n_near], rng.integers(0, n, n_near)):
        if i != j:
            texts[i] = texts[j] + " dup"
    exact = picked[n_near:]
    for i, j in zip(exact[:n_exact], exact[n_exact:]):
        texts[i] = texts[j]
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return pd.DataFrame(
        {
            "doc_id": ids,
            "text": texts,
            "lang": np.asarray(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
            "source": [f"src{i % N_SOURCES}" for i in ids],
            "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """sf-style ``embeddings`` rows: unit float32 vectors with a label."""
    v = rng.standard_normal((n, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(v),
            "label": rng.integers(0, N_LABELS, n).astype(np.int32),
        }
    )


def lineitem(rng: np.random.Generator, n_orders: int) -> pd.DataFrame:
    """The two ``lineitem`` columns the registry's grouped concat reads:
    TPC-H-style sparse order keys with 1-7 lines each."""
    keys = np.sort(rng.choice(4 * n_orders, size=n_orders, replace=False))
    lines = rng.integers(1, 8, n_orders)
    return pd.DataFrame(
        {
            "l_orderkey": np.repeat(keys, lines).astype(np.int64),
            "l_linenumber": np.concatenate(
                [np.arange(1, k + 1) for k in lines]
            ).astype(np.int32),
        }
    )


def registry_tables(seed: int, n_docs: int, n_embeddings: int, n_orders: int) -> dict:
    """The tables the six registry queries read, by table name."""
    return {
        "documents": documents(rng_for(seed, "documents"), n_docs),
        "embeddings": embeddings(rng_for(seed, "embeddings"), n_embeddings),
        "lineitem": lineitem(rng_for(seed, "lineitem"), n_orders),
    }


def zipf_quantiles(n: int, a: float, cap: int) -> np.ndarray:
    """The ``(i + 0.5) / n`` quantiles of Zipf(``a``) capped at ``cap``,
    the tail beyond the cap folded onto it."""
    k = np.arange(1, cap + 1, dtype=np.float64)
    pmf = k**-a
    cdf = np.cumsum(pmf) / (pmf.sum() + k[-1] ** (1 - a) / (a - 1))
    cdf[-1] = 1.0
    return np.searchsorted(cdf, (np.arange(n) + 0.5) / n) + 1


def joined_texts(
    rng: np.random.Generator, base: pd.DataFrame, n: int, zipf_a: float, cap: int
) -> tuple:
    """``n`` (text, lang) pairs, each joining a heavy-tailed number of
    base texts (Zipf(``zipf_a``) capped at ``cap``).  The counts are the
    distribution's ``n`` stratified quantiles in seeded order, so every
    seed does the same total work and only its arrangement changes."""
    counts = rng.permutation(zipf_quantiles(n, zipf_a, cap))
    picks = rng.integers(0, len(base), int(counts.sum()))
    groups = np.split(picks, np.cumsum(counts)[:-1])
    texts = base["text"].to_numpy()
    langs = base["lang"].to_numpy()
    return [" ".join(texts[g]) for g in groups], [langs[g[0]] for g in groups]


def pages(
    rng: np.random.Generator,
    base: pd.DataFrame,
    n: int,
    first_id: int,
    kind: str,
) -> pd.DataFrame:
    """``n`` pages-table rows (url, html, lang) with consecutive doc ids
    from ``first_id``; every row has its own doc id, so no two payloads
    are equal.  Doc ids keep the corpus rules: 3 in 10 urls sit on the
    giant host, and for PDFs every ``doc_id % 10 == 0`` document has a
    last page without the EOS marker."""
    ids = range(first_id, first_id + n)
    if kind == "html":
        texts, langs = joined_texts(rng, base, n, zipf_a=2.0, cap=32)
        payloads = [render_html(d, t, l) for d, t, l in zip(ids, texts, langs)]
    else:
        texts, langs = joined_texts(rng, base, n, zipf_a=1.5, cap=48)
        payloads = [render_pdf_payload(d, t) for d, t in zip(ids, texts)]
    return pd.DataFrame({"url": [url_for(d) for d in ids], "html": payloads, "lang": langs})


def planted_incomplete_pages(first_id: int, n: int) -> int:
    """Pages the PDF generator renders without the EOS marker: the last
    page of every document whose doc id is a multiple of EOS_FAIL_MOD."""
    return sum(1 for d in range(first_id, first_id + n) if d % EOS_FAIL_MOD == 0)


def write_parquet(df: pd.DataFrame, path: str, schema: pa.Schema | None = None) -> int:
    """Write one parquet file; returns its size in bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(table, path)
    return os.path.getsize(path)
