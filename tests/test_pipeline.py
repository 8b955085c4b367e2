"""End-to-end pipeline: per-turn text equality under stable turn
ordering, bucket checkpointing, idempotent resume."""

import os
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from html_parser_spark.plans.pipeline import (
    CONTROL_COLUMNS, PipelineConfig, assert_turn_ordering, completed_buckets,
    run_extraction, with_bucket,
)
from html_parser_spark.sources.transcripts import transcripts_from_documents


@pytest.fixture(scope="module")
def transcripts(spark, sf_dir):
    return transcripts_from_documents(spark, sf_dir, n_convs=50).cache()


def test_per_turn_text_equality(spark, transcripts):
    """The north-rule invariant: extracted main_text equals the known
    main content for EVERY turn, joined on (conv_id, turn_idx)."""
    from html_parser_spark.plans.pipeline import extract_turns

    expected = transcripts.select("conv_id", "turn_idx", "expected_main_text")
    out = extract_turns(transcripts.drop("expected_main_text", "doc_id"),
                        PipelineConfig(n_buckets=8, n_salts=2))
    joined = out.join(expected, ["conv_id", "turn_idx"])
    total = joined.count()
    mismatches = joined.where(F.col("main_text") != F.col("expected_main_text")).count()
    assert total == transcripts.count()
    assert mismatches == 0


def test_ordering_assertion_passes_and_detects_violations(spark, transcripts):
    assert assert_turn_ordering(transcripts) == 0
    assert assert_turn_ordering(transcripts, strict=True) == 0
    # break it: duplicate a turn
    broken = transcripts.union(transcripts.limit(1))
    assert assert_turn_ordering(broken) >= 1


def test_run_and_resume(spark, transcripts, tmp_path):
    out_dir = str(tmp_path / "out")
    ctl_dir = str(tmp_path / "control")
    cfg = PipelineConfig(n_buckets=4, n_salts=2)

    m1 = run_extraction(spark, transcripts.drop("doc_id", "expected_main_text"),
                        out_dir, ctl_dir, run_id="r1", cfg=cfg)
    assert m1["rows_total"] == transcripts.count() == spark.read.parquet(out_dir).count()
    assert m1["buckets_skipped"] == 0
    assert completed_buckets(spark, ctl_dir, "r1") == {0, 1, 2, 3}

    # resume same run: everything skipped, output unchanged, control grows idempotently
    m2 = run_extraction(spark, transcripts.drop("doc_id", "expected_main_text"),
                        out_dir, ctl_dir, run_id="r1", cfg=cfg)
    assert m2["buckets_skipped"] == 4
    assert m2["rows_total"] == m1["rows_total"] == spark.read.parquet(out_dir).count()

    # output joins back losslessly
    out = spark.read.parquet(out_dir)
    assert out.select("conv_id", "turn_idx").distinct().count() == m1["rows_total"]
    # control table carries lineage metrics
    ctl = spark.read.parquet(ctl_dir)
    assert ctl.columns == CONTROL_COLUMNS
    assert ctl.where(F.col("run_id") == "r1").agg(F.sum("n_rows")).collect()[0][0] >= m1["rows_total"]
    # each control row carries its bucket's counts in the output table
    expected = out.groupBy("bucket").agg(
        F.count("*"), F.countDistinct("conv_id"), F.sum(F.octet_length("main_text")))
    got = ctl.select("bucket", "n_rows", "n_convs", "n_chars_out")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expected.collect()))


def test_partial_resume_processes_only_missing_buckets(spark, transcripts, tmp_path):
    out_dir = str(tmp_path / "out2")
    ctl_dir = str(tmp_path / "control2")
    cfg = PipelineConfig(n_buckets=4, n_salts=1)
    src = transcripts.drop("doc_id", "expected_main_text")

    # Simulate a crashed run: process buckets {0,1} only, with control rows.
    part = with_bucket(src, 4).where(F.col("bucket") < 2)
    m0 = run_extraction(spark, part.drop("bucket"), out_dir, ctl_dir, run_id="r2", cfg=cfg)
    assert m0["rows_total"] == spark.read.parquet(out_dir).count() == part.count()
    pre = completed_buckets(spark, ctl_dir, "r2")
    assert pre == {0, 1}

    m = run_extraction(spark, src, out_dir, ctl_dir, run_id="r2", cfg=cfg)
    assert m["buckets_skipped"] == 2
    assert completed_buckets(spark, ctl_dir, "r2") == {0, 1, 2, 3}
    assert m["rows_total"] == spark.read.parquet(out_dir).count() == src.count()


def test_mid_bucket_crash_overwrites_partial_output(spark, transcripts, tmp_path):
    """The idempotency contract's hardest case: a run crashed MID-bucket
    — the bucket's output partition holds a partial write, but its
    control row (the commit record) never appended.  On resume the
    bucket is not in completed_buckets, so it re-extracts, and dynamic
    partition overwrite must REPLACE the partial partition, not append
    beside it — otherwise every mid-write crash duplicates rows."""
    from html_parser_spark.plans.pipeline import extract_turns
    from html_parser_spark.sources.catalog import write_table

    out_dir, ctl_dir = str(tmp_path / "out3"), str(tmp_path / "ctl3")
    cfg = PipelineConfig(n_buckets=4, n_salts=1)
    src = transcripts.drop("doc_id", "expected_main_text")

    # bucket 0 committed cleanly (data + control row)
    b0 = with_bucket(src, 4).where(F.col("bucket") == 0)
    run_extraction(spark, b0.drop("bucket"), out_dir, ctl_dir, run_id="r3", cfg=cfg)
    assert completed_buckets(spark, ctl_dir, "r3") == {0}

    # crash mid-bucket-1: half its extracted rows reach the output
    # partition through the same writer, control row never appended
    b1 = with_bucket(src, 4).where(F.col("bucket") == 1)
    partial = extract_turns(b1, cfg).where(F.col("turn_idx") % 2 == 0)
    n_partial = partial.count()
    assert 0 < n_partial < b1.count()
    write_table(partial.repartition(1, F.col("bucket")), out_dir)
    assert completed_buckets(spark, ctl_dir, "r3") == {0}  # still uncommitted

    m = run_extraction(spark, src, out_dir, ctl_dir, run_id="r3", cfg=cfg)
    assert m["buckets_skipped"] == 1  # only the committed bucket 0
    out = spark.read.parquet(out_dir)
    assert out.count() == src.count() == m["rows_total"]  # partial partition replaced, not appended
    assert out.select("conv_id", "turn_idx").distinct().count() == src.count()
    assert completed_buckets(spark, ctl_dir, "r3") == {0, 1, 2, 3}


def _drain_listeners(spark):
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def _sql_executions(spark, group):
    """Ids of the SQL executions that ran a job of job group ``group``."""
    _drain_listeners(spark)
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    jobs = set(spark.sparkContext.statusTracker().getJobIdsForGroup(group))
    store = spark._jsparkSession.sharedState().statusStore()
    return [e.executionId() for e in conv.asJava(store.executionsList())
            if jobs & {int(j) for j in conv.asJava(e.jobs().keySet())}]


def _grouped_run(spark, group, *args, **kwargs):
    spark.sparkContext.setJobGroup(group, "run_extraction")
    try:
        m = run_extraction(spark, *args, **kwargs)
    finally:
        spark.sparkContext.setJobGroup("", "")
    return m, _sql_executions(spark, group)


def test_run_submits_lookup_plus_two_queries(spark, transcripts, tmp_path):
    """A fresh run is the control lookup plus two queries: the write,
    then the commit (ordering check, control rows, row total).  An input
    rescan or a re-read of the output adds a query and fails here."""
    src = transcripts.drop("doc_id", "expected_main_text")
    out, ctl = str(tmp_path / "out"), str(tmp_path / "ctl")
    cfg = PipelineConfig(n_buckets=4)

    m, q = _grouped_run(spark, "fresh-no-control", src, out, ctl, "q1", cfg=cfg)
    assert len(q) == 2            # no control table yet: the lookup reads nothing
    m, q = _grouped_run(spark, "fresh", src, out, ctl, "q2", cfg=cfg)
    assert len(q) == 3            # lookup + write + commit
    m, q = _grouped_run(spark, "full-resume", src, out, ctl, "q2", cfg=cfg)
    assert len(q) == 2            # lookup + count of the skipped buckets
    assert m["buckets_skipped"] == 4 and m["rows_total"] == src.count()


def test_ordering_violation_raises_before_any_commit(spark, transcripts, tmp_path):
    """Ordering is checked before any commit: a planted duplicate turn
    raises with the written buckets left uncommitted (no control row),
    and the next clean run overwrites them and commits every bucket."""
    src = transcripts.drop("doc_id", "expected_main_text")
    out, ctl = str(tmp_path / "out"), str(tmp_path / "ctl")
    cfg = PipelineConfig(n_buckets=4)

    with pytest.raises(ValueError, match="turn-ordering violated in 1 conversations"):
        run_extraction(spark, src.union(src.limit(1)), out, ctl, "v", cfg=cfg)
    assert completed_buckets(spark, ctl, "v") == set()

    m = run_extraction(spark, src, out, ctl, "v", cfg=cfg)
    assert m["buckets_skipped"] == 0
    assert completed_buckets(spark, ctl, "v") == {0, 1, 2, 3}
    assert m["rows_total"] == spark.read.parquet(out).count() == src.count()


def test_unreadable_control_table_raises(spark, tmp_path):
    """Only a missing (or still empty) control table means "nothing
    completed"; one that cannot be read fails the resume instead of
    silently recomputing the whole corpus."""
    ctl = tmp_path / "ctl"
    assert completed_buckets(spark, str(ctl), "r") == set()
    ctl.mkdir()
    assert completed_buckets(spark, str(ctl), "r") == set()
    (ctl / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        completed_buckets(spark, str(ctl), "r")


@contextmanager
def _jvm_errors(spark):
    """Lines the JVM logs at ERROR while the block runs."""
    jvm = spark._jvm
    ctx = jvm.org.apache.logging.log4j.LogManager.getContext(False)
    writer = jvm.java.io.StringWriter()
    appender = jvm.org.apache.logging.log4j.core.appender.WriterAppender.createAppender(
        None, None, writer, "test-errors", False, True)
    appender.start()
    root = ctx.getConfiguration().getRootLogger()
    root.addAppender(appender, jvm.org.apache.logging.log4j.Level.ERROR, None)
    ctx.updateLoggers()
    lines = []
    try:
        yield lines
    finally:
        _drain_listeners(spark)
        root.removeAppender("test-errors")
        ctx.updateLoggers()
        appender.stop()
        lines.extend(str(writer.toString()).splitlines())


def test_normal_runs_log_no_errors(spark, transcripts, tmp_path):
    """The commit observes its row total (an Observation, whose session
    listener logs an error for every failed read after it); normal runs,
    fresh ones included, must not fail a read and log nothing at ERROR."""
    src = transcripts.drop("doc_id", "expected_main_text")
    cfg = PipelineConfig(n_buckets=4)
    with _jvm_errors(spark) as errors:
        for i in range(2):
            run_extraction(spark, src, str(tmp_path / f"out{i}"),
                           str(tmp_path / f"ctl{i}"), "n", cfg=cfg)
        run_extraction(spark, src, str(tmp_path / "out1"), str(tmp_path / "ctl1"), "n", cfg=cfg)
    assert errors == []


def test_skewed_conversations_are_salted(spark, sf_dir):
    t = transcripts_from_documents(spark, sf_dir, n_convs=50, skew_pct=2, skew_factor=20)
    counts = t.groupBy("conv_id").count()
    mx = counts.agg(F.max("count")).collect()[0][0]
    med = counts.approxQuantile("count", [0.5], 0.01)[0]
    assert mx >= 5 * med  # the generator really makes skew
    from html_parser_spark.plans.pipeline import extract_turns, with_bucket

    out = extract_turns(t.drop("doc_id", "expected_main_text"),
                        PipelineConfig(n_buckets=4, n_salts=4))
    assert out.count() == t.count()

    # The salted pre-shuffle really spreads a monster conversation over
    # multiple tasks: its rows land in >1 physical partition, while the
    # unsalted repartition(bucket) would pin each conv to exactly one.
    # Explicit partition count: plain repartition(cols) lets AQE
    # coalesce this tiny shuffle into ONE partition, which is correct
    # behavior at test scale but would hide what salting does at real
    # scale (where partitions are ~64 MB and never collapse).
    monster = counts.orderBy(F.col("count").desc()).first()["conv_id"]
    salted = with_bucket(t, 4).repartition(
        8,
        F.col("bucket"),
        F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(4)).cast("int"),
    ).withColumn("pid", F.spark_partition_id())
    n_parts = (salted.where(F.col("conv_id") == monster)
               .select("pid").distinct().count())
    assert n_parts > 1

    # And the salted path produces byte-identical extraction output.
    out_salted = extract_turns(
        t.drop("doc_id", "expected_main_text"),
        PipelineConfig(n_buckets=4, n_salts=4, shuffle_before_extract=True))
    a = out.select("conv_id", "turn_idx", "main_text")
    b = out_salted.select("conv_id", "turn_idx", "main_text")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_dedup_before_extract_equivalence(spark, sf_dir):
    """Extract-once-per-unique-page returns row-for-row identical
    results to the map-only path on a corpus with duplicate pages."""
    from pyspark.sql import functions as F

    from html_parser_spark.plans.pipeline import PipelineConfig, extract_turns
    from html_parser_spark.sources.transcripts import transcripts_from_documents

    # replicate=3 duplicates every page text across conversations
    t = transcripts_from_documents(spark, sf_dir, n_convs=10, replicate=3)
    t = t.drop("doc_id", "expected_main_text")
    base = PipelineConfig(n_buckets=4)
    dd = PipelineConfig(n_buckets=4, dedup_before_extract=True)
    cols = ["conv_id", "turn_idx", "main_text", "n_nodes", "n_removed"]
    a = {tuple(r) for r in extract_turns(t, base).select(cols).collect()}
    b = {tuple(r) for r in extract_turns(t, dd).select(cols).collect()}
    assert a == b and len(a) == t.count()


def test_dedup_before_extract_keeps_null_text_rows(spark):
    """Rows with null text must survive the dedup-first path with a
    null extraction struct, exactly like the map-only path."""
    import datetime

    from pyspark.sql import functions as F

    from html_parser_spark.plans.pipeline import PipelineConfig, extract_turns

    ts = datetime.datetime(2026, 1, 1)
    rows = [
        ("c1", 0, "user", "<p>hello</p>", "", ts),
        ("c1", 1, "assistant", None, "", ts),
        ("c2", 0, "user", "<p>hello</p>", "", ts),   # duplicate page
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string, "
                                     "text string, tool string, ts timestamp")
    for cfg in (PipelineConfig(n_buckets=2),
                PipelineConfig(n_buckets=2, dedup_before_extract=True)):
        out = extract_turns(df, cfg)
        got = {(r["conv_id"], r["turn_idx"]): r["main_text"] for r in out.collect()}
        assert len(got) == 3, cfg
        assert got[("c1", 1)] is None
        assert got[("c1", 0)] == "hello" and got[("c2", 0)] == "hello"
