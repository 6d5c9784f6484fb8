"""Property/fuzz tests: the kernels are total and deterministic on
arbitrary inputs (the 100 TB guarantee — no payload can kill a task)."""

from __future__ import annotations

import json

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from deepseek_ocr_2_spark.functions.assemble import process_page
from deepseek_ocr_2_spark.functions.htmlmain import extract_main_content, parse_blocks
from deepseek_ocr_2_spark.functions.refparse import parse_coords
from deepseek_ocr_2_spark.functions.tiling import num_image_tokens, resize_dims
from deepseek_ocr_2_spark.operators.decode import PDF_MAGIC
from deepseek_ocr_2_spark.operators.extract import ExtractConfig, make_extract_kernel


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=4096))
def test_extract_main_content_total_on_bytes(blob):
    t1, s1 = extract_main_content(blob)
    t2, s2 = extract_main_content(blob)
    assert (t1, s1) == (t2, s2)
    assert isinstance(t1, str)


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=2048))
def test_parse_blocks_total_on_text(text):
    b1 = [(b.tag, b.text, b.link_density) for b in parse_blocks(text)]
    b2 = [(b.tag, b.text, b.link_density) for b in parse_blocks(text)]
    assert b1 == b2
    assert all(t for _, t, _ in b1)  # no empty blocks emitted


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=512))
def test_parse_coords_never_raises(payload):
    out = parse_coords(payload)
    assert isinstance(out, list)


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=1024), st.integers(0, 10000), st.integers(0, 10000))
def test_process_page_total(raw, w, h):
    md, elements = process_page(raw, w, h)
    assert isinstance(md, str)
    for e in elements:
        assert len(e["bbox_pixels"]) == 4


@settings(max_examples=300, deadline=None)
@given(st.integers(1, 20000), st.integers(1, 20000))
def test_token_count_in_published_range(w, h):
    t = num_image_tokens(w, h)
    assert t == 257 or t in {256 + 1 + 144 * k for k in range(2, 7)}


@settings(max_examples=300, deadline=None)
@given(st.integers(1, 100000), st.integers(1, 100000))
def test_resize_dims_caps_and_preserves_aspect(w, h):
    rw, rh = resize_dims(w, h)
    assert max(rw, rh) <= 4096
    assert rw <= w and rh <= h and rw >= 1 and rh >= 1
    if max(w, h) <= 4096:
        assert (rw, rh) == (w, h)
    elif min(rw, rh) >= 100:
        # aspect preserved within integer truncation (degenerate
        # 1..99-pixel outputs can't hold a ratio)
        assert abs(rw / rh - w / h) < 0.05 * (w / h)


_json_scalars = (
    st.none() | st.booleans() | st.integers()
    | st.floats(allow_nan=True, allow_infinity=True) | st.text(max_size=20)
)
_json_values = st.recursive(
    _json_scalars,
    lambda inner: st.lists(inner, max_size=4)
    | st.dictionaries(st.text(max_size=8), inner, max_size=4),
    max_leaves=12,
)
_dims = (
    st.floats(allow_nan=True, allow_infinity=True) | st.integers()
    | st.text(max_size=12) | st.integers(1, 5000).map(str)
)
_pages = st.lists(
    st.fixed_dictionaries(
        {"width": _dims, "height": _dims},
        optional={"raw_output": st.text(max_size=64) | _json_values},
    ),
    max_size=4,
)
_pdf_bodies = _json_values | st.fixed_dictionaries(
    {"pages": _pages | _json_values},
    optional={"doc_id": _json_values},
)


@settings(max_examples=300, deadline=None)
@given(st.lists(_pdf_bodies, min_size=1, max_size=5))
def test_extract_kernel_total_on_pdf_json(bodies):
    """Any JSON behind the stub-PDF magic (dims any float incl. inf/nan,
    int or string) gives exactly one row per input row, never a raise."""
    urls = [f"u{i}" for i in range(len(bodies))]
    frame = pd.DataFrame({
        "url": urls,
        "html": [PDF_MAGIC + json.dumps(b).encode("utf-8") for b in bodies],
        "lang": ["en"] * len(bodies),
    })
    out = pd.concat(
        list(make_extract_kernel(ExtractConfig())(iter([frame]))),
        ignore_index=True,
    )
    assert list(out["url"]) == urls
    bad = out[~out["ok"]]
    assert bad["error"].notna().all()
