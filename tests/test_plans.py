"""Plan-shape regression tests: the efficiency properties SURVEY.md §4
commits to must hold in the physical plan, not just in intent."""

import re

import pytest
from pyspark.sql import functions as F

from nolock_social_ocr_services_spark import corpus, pipeline
from nolock_social_ocr_services_spark.plans.inspect import (
    arrow_eval_count,
    batch_eval_count,
    exchange_count,
    explain_str,
    has_broadcast_join,
    pushed_filters,
    read_schema,
    scan_count,
)
from nolock_social_ocr_services_spark.queries import q_customer_revenue


@pytest.fixture(scope="module")
def corpus_path(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plan_corpus"))
    corpus.write_corpus(spark, sf_dir, path, partitions=4)
    return path


def test_extract_pipeline_one_scan_one_shuffle(spark, corpus_path):
    docs = spark.read.parquet(corpus_path)
    flat = pipeline.extract_spans(docs)
    assert scan_count(flat) == 1
    assert exchange_count(flat) == 1  # the salted repartition only
    # repartition by columns only: a fixed count (REPARTITION_BY_NUM)
    # would forbid AQE from sizing the stage to the input
    plan = explain_str(flat)
    assert "REPARTITION_BY_COL" in plan
    assert "REPARTITION_BY_NUM" not in plan
    # default engine: classify is a codegen'd expression, so the OCR UDF
    # is the ONLY Python stage in the whole pipeline
    assert arrow_eval_count(flat) == 1
    assert batch_eval_count(flat) == 0  # no row-at-a-time Python anywhere


def _shuffle_read_partitions(plan) -> list[int]:
    """Partition counts of the AQEShuffleRead nodes in a physical plan."""
    name = plan.getClass().getSimpleName()
    if name == "AQEShuffleReadExec":
        return [plan.partitionSpecs().size()]
    if name.endswith("QueryStageExec"):  # a leaf that wraps its stage
        return _shuffle_read_partitions(plan.plan())
    children = plan.children()
    return [
        n for i in range(children.size()) for n in _shuffle_read_partitions(children.apply(i))
    ]


def test_salted_exchange_coalesced_to_input(spark, corpus_path):
    """After a small input runs, the final adaptive plan reads the
    salted exchange through an AQEShuffleRead with fewer partitions
    than the spark.sql.shuffle.partitions ceiling: AQE sized the
    post-exchange stage, not a constant."""
    docs = spark.read.parquet(corpus_path)
    flat = pipeline.extract_spans(docs)
    # execute through the SAME Dataset: only its QueryExecution carries
    # the final adaptive plan
    assert flat.collect()
    adaptive = flat._jdf.queryExecution().executedPlan()
    assert "isFinalPlan=true" in adaptive.toString()
    reads = _shuffle_read_partitions(adaptive.executedPlan())
    ceiling = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert len(reads) == 1, adaptive.toString()[:2000]
    assert 1 <= reads[0] < ceiling


def test_filtered_extract_single_ocr_stage(spark, corpus_path):
    """Success-filtered extract queries must NOT duplicate the OCR stage:
    before r3, `receipt.isNotNull()` inlined the whole extraction
    expression (OCR UDF included) and Catalyst pushed it below the
    salted exchange — 2 ArrowEvalPython stages, OCR run twice per media
    row. _ocr_udf.asNondeterministic() pins the filter above the single
    OCR projection."""
    docs = spark.read.parquet(corpus_path)
    flat = pipeline.extract_spans(docs)
    filtered = flat.filter(F.col("receipt").isNotNull()).select(
        "doc_id", "offset", "receipt"
    )
    assert arrow_eval_count(filtered) == 1
    assert batch_eval_count(filtered) == 0


def test_barrier_filter_tests_null_bit_only(spark, corpus_path):
    """__spark_entry__.barrier_filter pins a success filter ABOVE the
    extraction projection: the Filter node must test the struct's null
    bit, not an inlined copy of the per-field regex battery. Guards the
    ColumnPruning interaction — if the throwaway nondeterministic column
    stops being referenced by the predicate, Catalyst prunes it and
    re-inlines the whole extraction expression into a pre-projection
    Filter."""
    from __spark_entry__ import barrier_filter

    docs = spark.read.parquet(corpus_path)
    flat = pipeline.extract_spans(docs)
    filtered = barrier_filter(flat, F.col("receipt").isNotNull()).select(
        "doc_id", "offset", F.col("receipt.merchant_name").alias("m")
    )
    plan = explain_str(filtered)
    bad = [
        ln
        for ln in plan.splitlines()
        if "Filter" in ln and "regexp_extract" in ln
    ]
    assert not bad, f"filter re-inlined the extraction regexes: {bad[0][:200]}"
    assert arrow_eval_count(filtered) == 1
    # unfiltered pipeline carries <=12 regexp_replace; the barrier form
    # must not add inlined copies
    assert plan.count("regexp_replace") <= 12


def test_cleanup_chain_materialized_once(spark, corpus_path):
    """The T5 cleanup regex chain is projected once, not re-inlined per
    extracted field: the bare pipeline plan carries a handful of
    regexp_replace nodes (clean chain + boilerplate strip), not the
    ~300 of the per-field inlined form."""
    docs = spark.read.parquet(corpus_path)
    flat = pipeline.extract_spans(docs)
    n = explain_str(flat).count("regexp_replace")
    assert n <= 12, f"cleanup chain re-inlined: {n} regexp_replace nodes"


def test_classify_spans_has_no_arrow_stage(spark, sf_dir):
    """The driver's classify_spans query runs the pipeline's classifier,
    the codegen'd when-chain: no Python stage at all."""
    import __spark_entry__ as entrymod

    q = entrymod.queries()["classify_spans"](spark, sf_dir)
    assert arrow_eval_count(q) == 0
    assert batch_eval_count(q) == 0


def test_extracted_documents_two_shuffles_total(spark, corpus_path):
    docs = spark.read.parquet(corpus_path)
    nested = pipeline.extracted_documents(docs)
    assert scan_count(nested) == 1
    assert exchange_count(nested) == 2  # salt + reassembly hash-agg


def test_filter_pushdown_reaches_scan(spark, corpus_path):
    docs = spark.read.parquet(corpus_path)
    q = docs.filter(F.col("doc_id") == "doc-00000042").select("doc_id")
    assert "IsNotNull(doc_id)" in pushed_filters(q) or "EqualTo(doc_id" in pushed_filters(q)


def test_column_pruning_reaches_scan(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = li.select("l_orderkey").filter(F.col("l_orderkey") > 0)
    rs = read_schema(q)
    assert "l_orderkey" in rs
    assert "l_extendedprice" not in rs  # untouched columns pruned


def test_customer_revenue_join_is_broadcast(spark, sf_dir):
    q = q_customer_revenue(spark, sf_dir)
    assert has_broadcast_join(q)


def test_classifier_udf_input_is_prefix_projection(spark, corpus_path):
    # the classifier's when-chain reads a decoded substring(...) slice of
    # media_ref, never the whole payload
    docs = spark.read.parquet(corpus_path)
    flat = pipeline.extract_spans(docs)
    plan = explain_str(flat)
    assert "unbase64" in plan and "substring" in plan


def test_grouped_map_plan_and_values(spark, sf_dir):
    """applyInPandas tier: exactly one FlatMapGroupsInPandas node over
    one shuffle on the group key, and values match the built-in
    aggregate computed from the same input."""
    from nolock_social_ocr_services_spark.operators.grouped import (
        doc_span_summary,
    )

    flat = corpus.flat_spans(spark, sf_dir)
    out = doc_span_summary(flat)
    plan = explain_str(out)
    assert plan.count("FlatMapGroupsInPandas") == 1
    expected = {
        (r.doc_id, r.n_spans, r.n_media, r.text_chars)
        for r in flat.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(F.col("kind").isin("image", "pdf").cast("long")).alias("n_media"),
            F.coalesce(F.sum(F.length("text")), F.lit(0)).alias("text_chars"),
        )
        .collect()
    }
    got = {(r.doc_id, r.n_spans, r.n_media, r.text_chars) for r in out.collect()}
    assert got == expected


def test_aqe_splits_skewed_join_partitions(spark):
    """Runtime skew handling: with AQE skew-join enabled (our session
    default) a pathologically hot join key is split into multiple
    tasks — 'skew=true' appears in the adaptive plan — instead of one
    straggler task processing the whole key. Static salting
    (operators/salt.py) covers the pipeline's own shuffle; AQE covers
    ad-hoc joins at runtime."""
    conf = spark.conf
    old = {
        k: conf.get(k)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32KB")
    conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
    conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
    try:
        left = spark.range(40000).select(
            # 90% of rows share key 0 -> one hot shuffle partition
            F.when(F.col("id") % 10 < 9, 0).otherwise(F.col("id")).alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad"),
        )
        # right side: unique keys, so the join's output stays left-sized
        right = spark.range(40000).select(
            F.col("id").alias("k"),
            F.sha2(F.col("id").cast("string"), 512).alias("pad2"),
        )
        j = left.join(right, "k")
        # execute through the SAME Dataset: AQE's final plan (with the
        # skew split) only exists on the executed QueryExecution
        assert len(j.collect()) == 40000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            conf.set(k, v)


def test_partitioned_write_prunes_partitions(spark, tmp_path_factory):
    """Hive-style partitioned output (the standard 100-TB table layout:
    partition by low-cardinality routing columns) + proof that a filter
    on the partition column becomes a PartitionFilter — pruned at
    planning, non-matching directories never opened."""
    out = str(tmp_path_factory.mktemp("part_out"))
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
    back = spark.read.parquet(out).filter(F.col("event_type") == "click")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_type" in plan.split(
        "PartitionFilters"
    )[1][:120]
    # count matches the unpartitioned source
    assert back.count() == ev.filter(F.col("event_type") == "click").count()


def test_length_curriculum_has_no_global_sort_ntile(spark, sf_dir):
    """The registered curriculum query must be the boundary-bin form:
    no ntile over a global ordering of the corpus (the documented
    scale-killer, kept only as the length_curriculum_ntile baseline).
    Its window runs over the VALUE HISTOGRAM — i.e. above a hash
    aggregate, never directly over the scan."""
    from nolock_social_ocr_services_spark.queries import q_length_curriculum

    q = q_length_curriculum(spark, sf_dir)
    plan = explain_str(q)
    assert "ntile" not in plan
    assert scan_count(q) == 1
    # the single-partition window section must sit ABOVE the histogram
    # aggregate (plans print root-first): an aggregate appears after
    # the last Window line, proving the window input is pre-aggregated
    assert "Window" in plan and "HashAggregate" in plan
    after_window = plan[plan.rindex("Window"):]
    assert "HashAggregate" in after_window


def test_block_dedup_plan_no_python_no_cartesian(spark, sf_dir):
    """block_dedup's plan must be all-JVM (built-ins only) with the
    owner resolution as a hash-agg + equi-join on the digest — never a
    window over a corpus-wide partition, never a cartesian."""
    from nolock_social_ocr_services_spark.queries import q_block_dedup

    q = q_block_dedup(spark, sf_dir)
    plan = explain_str(q)
    assert batch_eval_count(q) == 0
    assert arrow_eval_count(q) == 0
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan


def test_semantic_dedup_pair_join_is_equi_not_cartesian(spark, sf_dir):
    """SemDeDup's pair stage must join on the cluster id (equi-join on
    ca = cb with the id inequality as a residual), never degenerate to
    a cartesian/broadcast-nested-loop over the corpus."""
    from nolock_social_ocr_services_spark.queries import q_semantic_dedup

    q = q_semantic_dedup(spark, sf_dir)
    plan = explain_str(q)
    assert "CartesianProduct" not in plan
    assert batch_eval_count(q) == 0


def test_dsir_plan_broadcast_model_topk_no_sort_merge(spark, sf_dir):
    """DSIR's scale claim: the bucket log-ratio model reaches the
    corpus-sized gram stream as a BROADCAST join (never a SortMergeJoin
    shuffle of the corpus against a 64-row table), selection is a top-k
    (TakeOrderedAndProject, no global Sort), and no row-Python exists."""
    from nolock_social_ocr_services_spark.functions import corpus_ops as co

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sel = co.dsir_select(docs, F.col("source") == "src0", k=50)
    plan = explain_str(sel)
    assert has_broadcast_join(sel)
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan
    assert batch_eval_count(sel) == 0


def test_domain_cap_plan_broadcast_thresholds(spark, sf_dir):
    """domain_cap: the quota table joins back as a broadcast (the corpus
    never shuffles for the cap) and the filter is pure codegen."""
    from nolock_social_ocr_services_spark.functions import corpus_ops as co

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    capped = co.domain_cap(docs)
    plan = explain_str(capped)
    assert has_broadcast_join(capped)
    assert "SortMergeJoin" not in plan
    assert batch_eval_count(capped) == 0


def _plan_nodes(plan):
    """A physical plan and every node below it (through AQE's wrapper)."""
    yield plan
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        yield from _plan_nodes(plan.inputPlan())
        return
    children = plan.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i))


def test_recall_audits_brute_side_is_hash_capped(spark, sf_dir):
    """r5 audit contract: bitext_recall / srp_recall execute their
    brute (quadratic) twin only over a deterministic hash60-sampled
    slice — the audit can never itself become the scale-killer it
    measures, and the modulus is the dial that keeps the sampled
    subproblem task-sized at any corpus scale. Every all-pairs join in
    the plan must read through the cap itself: a Filter testing
    ``pmod(hash60(vec_id), mod) = 0``, hash60 being the md5 prefix."""
    from nolock_social_ocr_services_spark.queries import (
        _BTX_AUDIT_MOD,
        _SRP_AUDIT_MOD,
        q_bitext_recall,
        q_srp_recall,
    )

    for q, mod in ((q_bitext_recall, _BTX_AUDIT_MOD), (q_srp_recall, _SRP_AUDIT_MOD)):
        cap = re.compile(
            r"pmod\(cast\(conv\(substring\(md5\(cast\(cast\(vec_id#\d+L as string\)"
            rf" as binary\)\), 1, 15\), 16, 10, true\) as bigint\), {mod}\) = 0\)"
        )
        plan = q(spark, sf_dir)._jdf.queryExecution().executedPlan()
        brute = [
            n
            for n in _plan_nodes(plan)
            if n.getClass().getSimpleName()
            in ("CartesianProductExec", "BroadcastNestedLoopJoinExec")
        ]
        assert brute, q.__name__
        for join in brute:
            capped = [
                n
                for n in _plan_nodes(join)
                if n.getClass().getSimpleName() == "FilterExec"
                and cap.search(n.condition().toString())
            ]
            assert capped, f"{q.__name__}: {join.simpleString(200)}"
