"""Per-layer probes for the traced run.

Each probe times calls into one layer's public functions from outside:
Spark probes stop the extraction plan after a given layer (scan, then
keying + exchange, then the Arrow boundary with a trivial kernel), and
Spark-free probes call the kernels directly on a fixed sample of the
workload's payloads.  The ``html_pages`` traced run also times the six
registry queries.  A layer the workload does not use reports 0.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from typing import Callable, Dict, Iterator, List

import pandas as pd

from pyspark.sql import functions as F

from deepseek_ocr_2_spark.functions import htmlmain, textstats
from deepseek_ocr_2_spark.functions.assemble import process_page
from deepseek_ocr_2_spark.functions.refparse import has_eos
from deepseek_ocr_2_spark.operators import dedup
from deepseek_ocr_2_spark.operators.decode import (
    PDF_MAGIC,
    decode_pages,
    pack_micro_batches,
    parse_pdf_payload,
)
from deepseek_ocr_2_spark.operators.extract import with_partition_key
from deepseek_ocr_2_spark.operators.relational import load
from deepseek_ocr_2_spark.plans.pipeline import committed_urls, run_extraction

from . import gen
from .check import canonical, local_extract, oracle_results
from .sparkenv import job_counters
from .workloads import Extraction, HtmlPages, PdfCommit, Run

PROBE_REPEATS = 3
KERNEL_SAMPLE = 2000  # payloads per Spark-free kernel probe


def probe(run: Run, name: str, fn: Callable) -> float:
    """Median wall of ``PROBE_REPEATS`` calls, each in its own span."""
    walls = []
    for _ in range(PROBE_REPEATS):
        _, wall = run.timed(name, fn)
        walls.append(wall)
    return statistics.median(walls)


def _trivial_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield pd.DataFrame({"url": pdf["url"], "n": pdf["html"].map(len)})


def _payload_stats(df) -> list:
    return df.agg(F.count(F.lit(1)), F.sum(F.length("html"))).collect()


def spark_layers(run: Run, wl: Extraction) -> Dict[str, float]:
    spark, cfg = run.spark, run.cfg
    pages = lambda: wl.pages(run, wl.main_dir)  # noqa: E731
    # the same keying and partition count as extract_pages
    nparts = min(cfg.num_buckets, int(spark.conf.get("spark.sql.shuffle.partitions")))

    def exchanged():
        keyed = with_partition_key(pages(), cfg).select("url", "html", "lang", "bucket")
        return keyed.repartition(nparts, "bucket").drop("bucket")

    m = {
        "sources.scan_s": probe(run, "sources.scan", lambda: _payload_stats(pages())),
        "operators.extract.exchange_s": probe(
            run, "operators.extract.exchange", lambda: _payload_stats(exchanged())
        ),
        "operators.extract.boundary_s": probe(
            run,
            "operators.extract.boundary",
            lambda: exchanged()
            .mapInPandas(_trivial_kernel, "url string, n long")
            .agg(F.sum("n"))
            .collect(),
        ),
    }
    spark.sparkContext.setJobGroup("probe-stage", "probe-stage")
    m["operators.extract.stage_s"] = probe(
        run, "operators.extract.stage", lambda: wl.stage_aggregate(run, wl.main_dir)
    )
    counters = job_counters(spark, "probe-stage")
    reads = counters.kernel_task_read_bytes
    m["operators.extract.partition_skew"] = max(reads) / statistics.mean(reads) if reads else 0.0
    m["operators.extract.shuffle_bytes"] = counters.shuffle_write_bytes / PROBE_REPEATS
    m["operators.extract.kernel_s"] = m["operators.extract.stage_s"] - m["operators.extract.boundary_s"]
    hot = list(cfg.static_hot_hosts)
    m["operators.extract.salted_share"] = (
        with_partition_key(pages(), cfg)
        .agg(F.avg(F.col("host").isin(hot).cast("double")))
        .collect()[0][0]
    )
    return m


def html_layers(run: Run, payloads: List[bytes]) -> Dict[str, float]:
    texts = [p.decode("utf-8", errors="replace") for p in payloads]
    with run.tracer.span("functions.htmlmain.parse_blocks"):
        t0 = time.perf_counter()
        blocks = [htmlmain.parse_blocks(t) for t in texts]
        parse_s = time.perf_counter() - t0
    with run.tracer.span("functions.htmlmain.classify_blocks"):
        t0 = time.perf_counter()
        for b in blocks:
            htmlmain.classify_blocks(b)
        classify_s = time.perf_counter() - t0
    with run.tracer.span("functions.htmlmain.extract_main_content"):
        t0 = time.perf_counter()
        for p in payloads:
            htmlmain.extract_main_content(p)
        extract_s = time.perf_counter() - t0
    mb = sum(len(p) for p in payloads) / 1e6
    return {
        "functions.htmlmain.parse_blocks_s": parse_s,
        "functions.htmlmain.classify_blocks_s": classify_s,
        "functions.htmlmain.extract_main_content_s": extract_s,
        "functions.htmlmain.blocks": sum(len(b) for b in blocks),
        "functions.htmlmain.input_mb_per_s": mb / extract_s if payloads else 0.0,
    }


def pdf_layers(run: Run, payloads: List[bytes], first_id: int) -> Dict[str, float]:
    """Decode and postprocess layers; also checks the incomplete-page
    count against what the generator planted for these doc ids."""
    cap = run.cfg.max_batch_visual_tokens
    with run.tracer.span("operators.decode.parse_pdf_payload"):
        t0 = time.perf_counter()
        tasks = [t for p in payloads for t in parse_pdf_payload(p)]
        parse_s = time.perf_counter() - t0
    with run.tracer.span("operators.decode.decode_pages"):
        t0 = time.perf_counter()
        decoded = decode_pages(tasks, run.cfg.decode_batch, cap)
        decode_s = time.perf_counter() - t0
    with run.tracer.span("functions.assemble.process_page"):
        t0 = time.perf_counter()
        incomplete = 0
        for task, raw in decoded:
            if has_eos(raw):
                process_page(raw, task.width, task.height, task.page_index)
            else:
                incomplete += 1
        process_s = time.perf_counter() - t0
    planted = gen.planted_incomplete_pages(first_id, len(payloads))
    run.fail(abs(incomplete - planted), f"incomplete pages {incomplete} != planted {planted}")
    batches = sum(1 for _ in pack_micro_batches(tasks, cap))
    return {
        "operators.decode.parse_pdf_payload_s": parse_s,
        "operators.decode.decode_pages_s": decode_s,
        "operators.decode.micro_batches": batches,
        "operators.decode.batch_fill": (
            sum(t.est_visual_tokens for t in tasks) / (batches * cap) if batches else 0.0
        ),
        "functions.assemble.process_page_s": process_s,
        "functions.refparse.incomplete_pages": incomplete,
    }


def pipeline_layers(run: Run, wl: Extraction) -> Dict[str, float]:
    out = os.path.join(run.work, "out", "probe")
    run_extraction(run.spark, wl.pages(run, wl.main_dir), out, run.cfg)
    committed_s = probe(run, "plans.pipeline.committed_urls", lambda: committed_urls(run.spark, out).count())
    shutil.rmtree(out)
    return {"plans.pipeline.committed_urls_s": committed_s}


# the six registry queries the probe times, and the tables they read
REGISTRY_QUERIES = (
    "fingerprint_exact_dedup",
    "grouped_concat_lines",
    "cosine_topk",
    "ngram_jaccard_pairs",
    "minhash_lsh_dedup",
    "simhash_near_dups",
)
REGISTRY_TABLES = ("documents", "embeddings", "lineitem")
REGISTRY_ROWS = (1000, 2000, 5000)  # documents, embeddings, orders


def registry_layers(run: Run) -> Dict[str, float]:
    """The six registry queries from ``__spark_entry__.queries()`` on
    seeded tables in the shape of the sf0.1 ones: per query the median
    wall of ``PROBE_REPEATS`` calls after one warm call, and the Exchange
    nodes of its executed plan.  Every result is checked against its
    ``oracle_sql()`` twin in DuckDB."""
    import __spark_entry__ as entry

    queries, sqls = entry.queries(), entry.oracle_sql()
    sf_dir = os.path.join(run.work, "registry")
    tables = gen.registry_tables(run.seed, *REGISTRY_ROWS)
    for name, df in tables.items():
        gen.write_parquet(df, os.path.join(sf_dir, f"{name}.parquet"))
    oracle = oracle_results(sf_dir, REGISTRY_TABLES, {q: sqls[q] for q in REGISTRY_QUERIES})
    m: Dict[str, float] = {}

    def execute(query: str):
        df = queries[query](run.spark, sf_dir)
        return df, df.toPandas()

    for q in REGISTRY_QUERIES:
        span = f"{queries[q].__module__.split('.', 1)[1]}.{q}"
        walls = []
        for i in range(1 + PROBE_REPEATS):
            (df, result), wall = run.timed(span, lambda: execute(q))
            run.attempted += 1
            run.fail(int(canonical(result) != oracle[q]), f"{q} vs oracle")
            if i:
                walls.append(wall)
        plan = df._jdf.queryExecution().executedPlan().toString()
        m[f"{span}_s"] = statistics.median(walls)
        m[f"{span}.exchanges"] = sum("Exchange" in ln for ln in plan.splitlines())
    m["sources.stats.scan_partitions"] = sum(
        load(run.spark, sf_dir, t).rdd.getNumPartitions() for t in REGISTRY_TABLES
    )
    with run.tracer.span("functions.textstats.minhash_signature"):
        t0 = time.perf_counter()
        for text in tables["documents"]["text"]:
            toks = textstats.tokenize(text)
            if len(toks) >= dedup.SHINGLE_K:
                textstats.minhash_signature(toks, num_perm=dedup.NUM_PERM, k=dedup.SHINGLE_K)
        m["functions.textstats.minhash_signature_s"] = time.perf_counter() - t0
    return m


def layer_metrics(run: Run, wl: Extraction) -> Dict[str, float]:
    """Every per-layer probe that applies to ``wl``, plus the medians of
    the per-layer samples its iterations recorded."""
    m = {name: statistics.median(v) for name, v in run.layer.items()}
    m.update(spark_layers(run, wl))
    if isinstance(wl, HtmlPages):
        m.update(registry_layers(run))
    # after the Spark work, so the single-core sentinel runs alone
    _, local_s = run.timed(
        "operators.extract.local_kernel", lambda: local_extract(wl.sample, run.cfg)
    )
    m["operators.extract.local_kernel_docs_per_s"] = len(wl.sample) / local_s
    sample = wl.sample["html"].tolist()[:KERNEL_SAMPLE]
    m.update(html_layers(run, [p for p in sample if not p.startswith(PDF_MAGIC)]))
    pdfs = [p for p in sample if p.startswith(PDF_MAGIC)]
    m.update(pdf_layers(run, pdfs, wl.first))
    if isinstance(wl, PdfCommit):
        m.update(pipeline_layers(run, wl))
        m["plans.pipeline.write_s"] = (
            m["plans.pipeline.run_extraction_s"] - m["operators.extract.stage_s"]
        )
    return m
