"""Tests for the benchmark's own code.

Run from the repository root:  python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import os

import pandas as pd
import pytest

from perfbench import gen
from perfbench.trace import self_times


def _digest_of_inputs(seed: int, out_dir: str) -> str:
    """sha256 over the bytes of every staged input the seed produces."""
    base = gen.documents(gen.rng_for(seed, "base"), 300)
    frames = {
        "html.parquet": (gen.pages(gen.rng_for(seed, "html0"), base, 50, 1_000_000, "html"), gen.PAGES_SCHEMA),
        "pdf.parquet": (gen.pages(gen.rng_for(seed, "pdf0"), base, 50, 1_000_000, "pdf"), gen.PAGES_SCHEMA),
    }
    for name, df in gen.registry_tables(seed, 200, 50, 100).items():
        frames[f"{name}.parquet"] = (df, None)
    h = hashlib.sha256()
    for name, (df, schema) in sorted(frames.items()):
        path = os.path.join(out_dir, name)
        gen.write_parquet(df, path, schema)
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def test_generator_is_byte_deterministic_per_seed(tmp_path):
    a = _digest_of_inputs(7, str(tmp_path / "a"))
    b = _digest_of_inputs(7, str(tmp_path / "b"))
    c = _digest_of_inputs(8, str(tmp_path / "c"))
    assert a == b
    assert a != c


def test_generated_inputs_keep_the_corpus_rules():
    base = gen.documents(gen.rng_for(3, "base"), 300)
    assert base["text"].str.endswith(" dup").sum() > 0  # planted near-duplicates
    pages = gen.pages(gen.rng_for(3, "pdf0"), base, 100, 2_000_000, "pdf")
    assert pages["url"].is_unique
    assert pages["url"].str.contains("big.example-news.com").sum() == 30
    assert gen.planted_incomplete_pages(2_000_000, 100) == 10


def test_self_time_subtracts_the_union_of_children():
    spans = [
        {"id": 0, "name": "root", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "a", "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "b", "parent": 0, "start": 3.0, "end": 6.0},
        {"id": 3, "name": "c", "parent": 1, "start": 1.0, "end": 2.0},
        {"id": 4, "name": "a", "parent": 0, "start": 8.0, "end": 9.0},
    ]
    got = self_times(spans)
    # root: 10 minus [1,6] and [8,9]; a: (3 - 1) + 1; children overlap counted once
    assert got == pytest.approx({"root": 4.0, "a": 3.0, "b": 3.0, "c": 1.0})


def test_joined_text_counts_are_the_same_for_every_seed():
    # one-word base texts, so a joined text's word count is its text count
    base = pd.DataFrame({"text": ["w"] * 50, "lang": ["en"] * 50})
    counts = []
    for seed in (1, 2):
        texts, _ = gen.joined_texts(gen.rng_for(seed, "pdf0"), base, 400, 1.5, 48)
        counts.append([len(t.split()) for t in texts])
    assert sorted(counts[0]) == sorted(counts[1])  # same total work
    assert counts[0] != counts[1]  # seeded arrangement
    assert min(counts[0]) == 1 and max(counts[0]) == 48


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from perfbench.sparkenv import build_session

    session = build_session(str(tmp_path_factory.mktemp("spark")), 1)
    yield session
    session.stop()


def test_digest_check_catches_one_byte_change(spark, tmp_path):
    from perfbench import check
    from deepseek_ocr_2_spark.operators.extract import ExtractConfig

    base = gen.documents(gen.rng_for(5, "base"), 100)
    pages = gen.pages(gen.rng_for(5, "html0"), base, 20, 1_000_000, "html")
    want = check.local_extract(pages, ExtractConfig())
    changed = want.copy()
    text = changed.at[7, "extracted_text"]
    changed.at[7, "extracted_text"] = text[:5] + chr(ord(text[5]) ^ 1) + text[6:]
    check.write_expected(want, str(tmp_path / "want" / "p.parquet"))
    check.write_expected(changed, str(tmp_path / "got" / "p.parquet"))
    want_df = spark.read.parquet(str(tmp_path / "want"))
    got_df = spark.read.parquet(str(tmp_path / "got"))

    def agg(df):
        return check.agg_tuple(check.digest_aggregate(df).collect()[0])

    assert agg(want_df) == agg(spark.read.parquet(str(tmp_path / "want")))
    assert agg(got_df) != agg(want_df)
    m = check.diagnose(got_df, want_df)
    assert (m.missing, m.extra, m.differing) == (0, 0, 1)
