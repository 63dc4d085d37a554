"""Physical-plan regression guards: the scale-critical plan properties
PLANS.md documents, asserted on the executed plans so optimizer or
query refactors can't silently regress them."""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def qreg():
    from pdf_parser_spark.queries import QUERIES
    return QUERIES


def test_q01_pushdown_and_pruning(spark, qreg):
    plan = _plan(qreg["q01_pricing_summary"](spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual" in plan
    # column pruning: the 16-column lineitem scan reads only what's used
    rs = plan[plan.index("ReadSchema"):][:400]
    assert "l_comment" not in rs and "l_partkey" not in rs
    # map-side partial aggregation
    assert plan.count("HashAggregate") >= 2


def test_q02_star_join_broadcasts_dims(spark, qreg):
    plan = _plan(qreg["q02_revenue_by_nation"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan  # fact table never shuffles


def test_q15_has_no_driver_broadcast_of_aggregate(spark, qreg):
    plan = _plan(qreg["q15_orders_above_cust_avg"](spark, SF))
    assert "BroadcastExchange" not in plan
    assert "Window" in plan


def test_q04_semi_join_with_pushed_predicates(spark, qreg):
    plan = _plan(qreg["q04_building_customers_with_orders"](spark, SF))
    assert "LeftSemi" in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan.replace(" ", "")


def _materialized_turns(spark):
    """A small turns table checkpointed out of its generator, so the
    extraction kernel is the plan's only Python node (the generator
    runs one too) and the pruning projection stays a plan node."""
    from pdf_parser_spark.sources.turns import synthetic_turns

    return synthetic_turns(spark, 3).localCheckpoint()


def test_extraction_projection_is_narrow(spark):
    from pdf_parser_spark.operators.extraction import extract_turns

    df = extract_turns(_materialized_turns(spark))
    plan = _plan(df)
    # exactly one extraction boundary node, fed by a projection of
    # exactly (conv_id, turn_idx, text) — role/tool/ts never cross
    assert plan.count("MapInArrow") == 1
    import re
    proj = re.search(r"Project \[conv_id#\d+, turn_idx#\d+, text#\d+\]",
                     plan)
    assert proj is not None, plan


def test_dedup_kernel_width_is_explicit(spark):
    """extract_turns_dedup must pin the kernel stage's partition count
    with a user-specified repartition: AQE sizes post-shuffle
    partitions by BYTES (64MB advisory) and was measured collapsing
    the distinct-documents kernel stage to ONE partition on a 64MB
    distinct set — serializing the CPU-heavy stage. A user-specified
    count is exempt from AQE coalescing."""
    from pdf_parser_spark.operators.extraction import extract_turns_dedup

    df = extract_turns_dedup(_materialized_turns(spark))
    plan = _plan(df)
    sc = spark.sparkContext
    n_kernel = max(sc.defaultParallelism * 2,
                   int(spark.conf.get("spark.sql.shuffle.partitions")))
    assert f"RoundRobinPartitioning({n_kernel})" in plan, plan
    # kernel runs on the distinct set: exactly one extraction boundary
    assert plan.count("MapInArrow") == 1


def test_dd03_signature_pipeline_not_duplicated(spark):
    """The LSH candidate stage must not evaluate the shingle+signature
    pipeline twice (the round-2 groupBy rework): exactly one xxhash64
    signature fold appears in the plan."""
    from pdf_parser_spark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sigs = dedup.minhash_signatures(docs, num_perm=8, k=2)
    cands = dedup.lsh_candidate_pairs(sigs, bands=4, rows_per_band=2)
    plan = _plan(cands)
    assert plan.count("aggregate(sh#") <= plan.count("Scan parquet") * 1
    # one scan of the documents table, not two
    assert plan.count("documents.parquet") == 1


def test_dd07_runs_the_dd03_pipeline(spark, qreg):
    """dd07 (md5 family, cell-exact oracled) must run the same LSH
    pipeline as dd03 (xxhash64 family, the scale path): groupBy
    banding, giant-bucket guard, melted verify. Equal operator counts
    in the executed plans; a separate self-join pipeline shows up as
    more Exchanges and BroadcastHashJoins."""
    from pdf_parser_spark.queries import dd03_minhash_lsh

    md5 = _plan(qreg["dd07_minhash_md5"](spark, SF))
    xx = _plan(dd03_minhash_lsh(spark, SF))
    for op in ("Exchange", "HashAggregate", "ObjectHashAggregate",
               "BroadcastHashJoin"):
        assert md5.count(op) == xx.count(op), op


def test_contamination_broadcasts_benchmark_side(spark):
    """ngram_contamination must BROADCAST the (tiny) benchmark n-gram
    set — the corpus side must not shuffle before its per-doc
    aggregate. A sort-merge join here would shuffle the entire
    exploded 100 TB corpus on n-gram strings."""
    from pdf_parser_spark.operators.curation import ngram_contamination

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bench = docs.filter("doc_id % 7 = 0")
    plan = _plan(ngram_contamination(docs, bench, k=3))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_deterministic_sample_is_pure_filter(spark):
    """deterministic_sample must plan as a codegen'd filter — no
    shuffle, no Python, no sample operator (its whole point is a
    partitioning-independent deterministic selection)."""
    from pdf_parser_spark.operators.curation import deterministic_sample

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(deterministic_sample(docs, {"src0": 0.5, "src1": 1.0}))
    assert "Exchange" not in plan
    assert "Sample" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "*(" in plan        # whole-stage-codegen'd filter stage


def test_repetition_is_pure_projection(spark):
    """with_repetition must stay a shuffle-free JVM projection."""
    from pdf_parser_spark.operators.textstats import with_repetition

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(with_repetition(docs))
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
