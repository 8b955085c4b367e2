"""Physical-plan regression tests: the scale-critical plan properties
(PLANS.md is the full audit; these pin the load-bearing ones so a
refactor that silently loses them fails CI)."""

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
        df.explain("codegen")
    return buf.getvalue()


def test_extraction_has_no_exchange_before_kernel(spark, sf_dir):
    """Map-only extraction: the Python kernel must consume scan output
    directly (the single most important plan property at 100 TB)."""
    from html_parser_spark.plans.pipeline import PipelineConfig, extract_turns
    from html_parser_spark.sources.transcripts import transcripts_from_documents

    t = transcripts_from_documents(spark, sf_dir, n_convs=20)
    p = plan_of(extract_turns(t.drop("doc_id", "expected_main_text"),
                              PipelineConfig()))
    assert "ArrowEvalPython" in p
    tree = p.split("== Physical Plan ==")[1].splitlines()
    idx = {}
    for i, ln in enumerate(tree):
        for key in ("ArrowEvalPython", "Exchange", "Scan parquet"):
            if key in ln and key not in idx:
                idx[key] = i
    assert "ArrowEvalPython" in idx and "Scan parquet" in idx
    # formatted tree lists operators top-down: any Exchange between the
    # kernel and its scan means a shuffle feeds the kernel
    if "Exchange" in idx:
        assert not (idx["ArrowEvalPython"] < idx["Exchange"] < idx["Scan parquet"])


def test_dimension_joins_broadcast(spark, sf_dir):
    import __spark_entry__ as m

    p = plan_of(m.queries()["join_region_revenue"](spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    import __spark_entry__ as m

    p = plan_of(m.queries()["window_top_order"](spark, sf_dir))
    assert "PushedFilters" in p and "o_custkey" in p.split("PushedFilters")[1][:200]


def test_topk_is_take_ordered(spark, sf_dir):
    import __spark_entry__ as m

    p = plan_of(m.queries()["topk_orders"](spark, sf_dir))
    assert "TakeOrderedAndProject" in p


def test_column_pruning(spark, sf_dir):
    """A two-column aggregate over lineitem must not read the wide
    comment column."""
    import __spark_entry__ as m

    p = plan_of(m.queries()["tpch_pricing_summary"](spark, sf_dir))
    assert "l_comment" not in p


def test_write_plan_has_one_bucket_exchange_after_kernel(spark, sf_dir):
    """What run_extraction writes: the kernel still reads the scan
    directly, and the one Exchange is the bucket rebalance above it (AQE
    sizes its partitions; a fixed-count repartition would not shrink)."""
    from html_parser_spark.plans.pipeline import PipelineConfig, bucketed_output
    from html_parser_spark.sources.transcripts import transcripts_from_documents

    t = transcripts_from_documents(spark, sf_dir, n_convs=20)
    p = plan_of(bucketed_output(t.drop("doc_id", "expected_main_text"), PipelineConfig()))
    section = p.split("== Physical Plan ==")[1]
    tree = section.split("\n\n")[0].splitlines()
    exchanges = [i for i, ln in enumerate(tree) if "Exchange" in ln]
    kernel = next(i for i, ln in enumerate(tree) if "ArrowEvalPython" in ln)
    assert len(exchanges) == 1 and exchanges[0] < kernel
    node = tree[exchanges[0]].split("Exchange")[1].strip()       # "(5)"
    details = section.split(f"\n{node} Exchange")[1].split("\n\n")[0]
    assert "hashpartitioning(bucket#" in details
    assert "REBALANCE_PARTITIONS_BY_COL" in details
