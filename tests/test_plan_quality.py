"""Physical-plan quality gates: pushdown, pruning, broadcast, shuffle
count.  These are the 100-TB guarantees — a regression here is a
performance bug even when results stay correct."""

from __future__ import annotations

import re

import pytest

from deepseek_ocr_2_spark.operators import relational as R
from deepseek_ocr_2_spark.operators import textops
from deepseek_ocr_2_spark.operators.extract import ExtractConfig, extract_pages
from deepseek_ocr_2_spark.sources import corpus as C

from .conftest import SF_SMALL, SF_TINY


def formatted_plan(df) -> str:
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_q3_broadcasts_dims_and_prunes_columns(spark):
    plan = formatted_plan(R.q3_top_revenue_orders(spark, SF_SMALL))
    # the BUILDING filter reaches the customer scan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan
    # every join is broadcast (Spark may also broadcast the orders
    # side at this scale), never sort-merge
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    # lineitem scan reads only the 3 needed columns of 11
    m = re.search(r"ReadSchema: struct<(l_[^>]*)>", plan)
    assert m and len(m.group(1).split(",")) == 3


def test_q1_partial_aggregation_before_shuffle(spark):
    plan = formatted_plan(R.q1_pricing_summary(spark, SF_SMALL))
    # map-side partial agg: two HashAggregates around one exchange
    assert plan.count("HashAggregate") >= 2
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_token_count_prunes_to_two_columns(spark):
    plan = formatted_plan(textops.token_count(spark, SF_SMALL))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(c.split(":")[0] for c in m.group(1).split(",")) == {
        "doc_id",
        "text",
    }


def test_extract_fanout_knob_partition_counts(spark):
    """The payload-exchange partition count is ONE wave at the core
    count (``defaultParallelism``), capped at the bucket count: each
    Python task pays a fixed Arrow-boundary cost, so a second wave is a
    pure per-task-overhead loss.  ``spark.sql.shuffle.partitions`` does
    not size it."""
    pages = C.build_corpus(spark, SF_TINY)
    cores = spark.sparkContext.defaultParallelism

    def repart_n(cfg):
        plan = formatted_plan(extract_pages(pages, cfg))
        m = re.search(
            r"hashpartitioning\(bucket#\d+, (\d+)\), REPARTITION_BY_NUM", plan
        )
        assert m, plan
        return int(m.group(1))

    base = dict(static_hot_hosts=("big.example-news.com",))
    assert repart_n(ExtractConfig(num_buckets=1024, **base)) == min(1024, cores)
    assert repart_n(ExtractConfig(num_buckets=4, **base)) == min(4, cores)
    assert repart_n(ExtractConfig(num_buckets=2, **base)) == 2

    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try:
        assert repart_n(ExtractConfig(num_buckets=1024, **base)) == min(1024, cores)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_extract_shuffles_payload_exactly_once_and_narrow(spark):
    """One REPARTITION_BY_NUM exchange carries the payload, pruned to
    (url, html, lang, bucket); the hot-host detection path shuffles only
    (host, count) and joins back via broadcast."""
    pages = C.build_corpus(spark, SF_TINY)
    res = extract_pages(pages, ExtractConfig(num_buckets=16, hot_host_threshold=5))
    plan = formatted_plan(res)
    body = plan.split("== Physical Plan ==")[-1].split("===== Subqueries")[0]
    assert "BroadcastHashJoin" in body
    assert "SortMergeJoin" not in body

    # parse (input columns, partitioning kind) per exchange
    exchanges = re.findall(
        r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]\n"
        r"Arguments: hashpartitioning\([^)]*\), (\w+)",
        body,
    )
    repart = [cols for cols, kind in exchanges if kind == "REPARTITION_BY_NUM"]
    ensure = [cols for cols, kind in exchanges if kind == "ENSURE_REQUIREMENTS"]
    assert len(repart) == 1, exchanges
    names = {c.strip().split("#")[0] for c in repart[0].split(",")}
    assert names == {"url", "html", "lang", "bucket"}  # payload pruned
    for cols in ensure:  # hot-host agg shuffle: no payload bytes
        assert "html" not in cols and "url" not in cols


def test_lsh_near_dup_plan_reuses_keys_and_prunes(spark):
    """The banded-LSH branch (taken at pruning thresholds) must (a)
    reuse the persisted band keys on both sides of the candidate
    self-join (InMemoryTableScan, so the signature matmul runs once),
    and (b) never sort-merge the rerank joins at this scale
    (embeddings broadcast)."""
    from deepseek_ocr_2_spark.operators import simsearch
    from deepseek_ocr_2_spark.operators.cachereg import release_caches

    assert simsearch.lsh_prunes_at(0.9)
    df = simsearch.embedding_near_dup_lsh(spark, SF_SMALL, threshold=0.9)
    plan = formatted_plan(df)
    assert plan.count("InMemoryTableScan") >= 2, "band keys not reused"
    # embeddings scans are pruned to (vec_id, embedding)
    m = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    for schema in m:
        names = {c.split(":")[0] for c in schema.split(",")}
        assert names <= {"vec_id", "embedding"}
    release_caches()


def test_registered_scale_entry_runs_banded_branch(spark):
    """The REGISTERED ``embedding_near_dup_lsh_scale`` entry (the
    driver-verified scale path, VERDICT r03 #1) must itself plan the
    banded branch: persisted band keys reused on both candidate-join
    sides, embeddings scans pruned to (vec_id, embedding)."""
    import __spark_entry__ as entry

    from deepseek_ocr_2_spark.operators import simsearch
    from deepseek_ocr_2_spark.operators.cachereg import release_caches

    assert simsearch.lsh_prunes_at(simsearch.SCALE_NEAR_DUP_COSINE)
    df = entry.queries()["embedding_near_dup_lsh_scale"](spark, SF_SMALL)
    plan = formatted_plan(df)
    assert plan.count("InMemoryTableScan") >= 2, "band keys not reused"
    for schema in re.findall(r"ReadSchema: struct<([^>]*)>", plan):
        names = {c.split(":")[0] for c in schema.split(",")}
        assert names <= {"vec_id", "embedding"}
    release_caches()


def test_registered_scale_entry_finds_planted_pairs(spark):
    """The scale entry's result over the planted corpus must contain
    every exact-copy pair (cosine 1.0, same band keys by construction)
    and at least one sign-flip NEAR-threshold pair — i.e. the green
    driver row certifies recall through the candidate stage, not a
    vacuously empty set."""
    from deepseek_ocr_2_spark.operators import simsearch
    from deepseek_ocr_2_spark.operators.cachereg import release_caches
    from deepseek_ocr_2_spark.sources.stats import parquet_row_count

    rows = simsearch.embedding_near_dup_lsh_scale(spark, SF_SMALL).collect()
    release_caches()
    n = parquet_row_count(SF_SMALL, "embeddings")
    copies = {
        (v, v + simsearch.PLANT_COPY_OFFSET)
        for v in range(0, n, simsearch.PLANT_COPY_MOD)
    }
    got = {(r["vec_a"], r["vec_b"]) for r in rows}
    assert copies <= got, "banded branch missed exact-copy pairs"
    flips = [
        r
        for r in rows
        if r["vec_b"] >= simsearch.PLANT_FLIP_OFFSET
        and r["cosine"] < 1.0
    ]
    assert flips, "no near-threshold sign-flip pair survived"
    assert all(r["cosine"] >= simsearch.SCALE_NEAR_DUP_COSINE for r in rows)


def test_lsh_ann_bucket_table_computed_once(spark):
    """``lsh_ann_topk``'s bucket table feeds two consumers (query-bucket
    fetch + candidate filter); it must come back from cache in the
    returned plan so the hyperplane matmul runs once (VERDICT r03 #3)."""
    from deepseek_ocr_2_spark.operators import simsearch
    from deepseek_ocr_2_spark.operators.cachereg import release_caches

    df = simsearch.lsh_ann_topk(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan, "bucket table not persisted"
    release_caches()


def test_lsh_near_dup_routes_to_exact_below_pruning_threshold(spark):
    """At thresholds where the collision model shows the bands admit
    >=50% of random pairs (e.g. the registered 0.35), the router must
    take the plain all-pairs plan: no band-key stage, no L-x row
    explosion in front of an effectively-all-pairs self-join
    (ADVICE r02).  Both branches return the identical exact answer."""
    from deepseek_ocr_2_spark.operators import simsearch

    assert not simsearch.lsh_prunes_at(0.35)
    df = simsearch.embedding_near_dup_lsh(spark, SF_SMALL, threshold=0.35)
    plan = formatted_plan(df)
    assert "InMemoryTableScan" not in plan  # no banded-key stage
    assert "mapInPandas" not in plan.lower()  # no signature kernel
    # and the pruning regime boundary is where the math puts it: at
    # t=0.7 random pairs still collide at 0.62 (k=6, L=61), only past
    # ~0.75 do the bands reject a majority of random pairs
    assert simsearch.lsh_prunes_at(0.8) and simsearch.lsh_prunes_at(0.9)
    assert not simsearch.lsh_prunes_at(0.7)
    assert not simsearch.lsh_prunes_at(0.45)


def test_q17_single_fact_shuffle(spark):
    """The correlated-AVG rewrite shares one shuffle key (l_partkey):
    the per-part aggregate and the join co-partition, so the fact table
    moves at most twice (agg partials + join), never more."""
    plan = formatted_plan(R.q17_small_quantity_revenue(spark, SF_SMALL))
    body = plan.split("== Physical Plan ==")[-1]
    # partial agg before the exchange
    assert body.count("HashAggregate") >= 2
    # lineitem scans are pruned: only the 4 needed columns appear
    for m in re.findall(r"ReadSchema: struct<(l_[^>]*)>", body):
        names = {c.split(":")[0] for c in m.split(",")}
        assert names <= {
            "l_partkey", "l_quantity", "l_extendedprice", "l_returnflag",
        }


def test_simhash_explodes_once_no_per_combo_scan(spark):
    """The block-combination index must emit all combination keys from
    ONE pass over the signatures (generate/explode), not one scan per
    combination — 220 combinations at 10^12 docs cannot re-read the
    corpus 220 times."""
    from deepseek_ocr_2_spark.operators import dedup
    from deepseek_ocr_2_spark.operators.cachereg import release_caches

    df = dedup.simhash_near_dups(spark, SF_SMALL, n_blocks=8)
    plan = formatted_plan(df)
    # operator tree only (the details section repeats every node)
    tree = plan.split("== Physical Plan ==")[-1].split("\n\n(1)")[0]
    # the persisted signature table feeds both join sides
    assert tree.count("InMemoryTableScan") == 2
    # exactly one Generate (explode) per join side — C(8,5)=56
    # combination keys come from ONE array, not 56 scans
    assert tree.count("Generate") == 2, tree
    release_caches()


def test_partitioned_snapshot_read_prunes_partitions(spark, tmp_path):
    """A committed snapshot written with partition_by=("lang",) must give
    per-language readers PARTITION pruning: the lang predicate shows up
    in the scan's PartitionFilters (directories skipped at planning
    time), not as a post-scan data filter — at 100 TB this is the
    difference between reading one language's directories and scanning
    the whole snapshot."""
    from deepseek_ocr_2_spark.operators.extract import ExtractConfig
    from deepseek_ocr_2_spark.plans import pipeline as P

    out = str(tmp_path / "out")
    pages = C.build_corpus(spark, SF_TINY).limit(60)
    P.run_extraction(
        spark, pages, out,
        ExtractConfig(num_buckets=8,
                      static_hot_hosts=("big.example-news.com",)),
        partition_by=("lang",),
    )
    res = P.committed_results(spark, out)
    pruned = res.filter(res.lang == "en")
    plan = formatted_plan(pruned)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "lang" in m.group(1) and "en" in m.group(1), plan
    # the pruned read touches strictly fewer files than the full scan
    full_files = {f for f in res.inputFiles()}
    pruned_rows = pruned.count()
    assert pruned_rows > 0
    en_files = {f for f in full_files if "lang=en" in f}
    assert en_files and len(en_files) < len(full_files)


def test_ngram_posting_lists_single_shuffle(spark):
    """The posting-list build must shuffle the corpus ONCE (on the
    shingle key): per-(doc, shingle) dedup happens inside the
    aggregation (collect_set), not in a separate distinct() exchange —
    at corpus scale the second full shuffle was pure waste."""
    from pyspark.sql import functions as F

    from deepseek_ocr_2_spark.operators import dedup
    from deepseek_ocr_2_spark.operators.relational import load

    docs = load(spark, SF_SMALL, "documents").select("doc_id", "text")
    grouped = dedup._shingled(docs, distinct=False).groupBy("shingle").agg(
        F.sort_array(F.collect_set("doc_id")).alias("ds")
    )
    plan = formatted_plan(grouped)
    tree = plan.split("== Physical Plan ==")[-1].split("\n\n(1)")[0]
    assert tree.count("Exchange") == 1, tree


def test_registered_flagship_prunes_doc_json(spark):
    """The driver-registered flagship drops doc_json AFTER the select
    — Catalyst must prune the to_json expression entirely (at 100 TB
    serializing a JSON copy of every document that is then discarded
    would roughly double the post-kernel bytes for nothing), and the
    plan core must stay scan -> narrow projection -> ONE salted
    repartition -> mapInPandas."""
    import __spark_entry__ as entrymod

    df = entrymod._extraction_flagship_registered(spark, SF_SMALL)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "to_json" not in plan, plan[:1500]
    assert plan.count("MapInPandas") == 2  # corpus gen + extract kernel
    assert "RepartitionByExpression" in plan
