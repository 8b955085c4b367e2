"""End-to-end extraction pipeline: partitioning, skew salting, ordering
assertion, per-bucket commit/lineage control table, idempotent resume.

Design for the 10^12-turn target (north_rule):

* **Stable buckets, not task ids.**  Work is keyed by
  ``bucket = pmod(xxhash64(conv_id), n_buckets)`` — deterministic
  across runs and cluster sizes, unlike ``spark_partition_id()``.
  Output is written ``partitionBy("bucket")`` with dynamic partition
  overwrite, so re-processing a bucket is idempotent (task retries and
  resumed runs overwrite, never duplicate).
* **Shuffle AFTER the kernel, not before.**  Extraction is row-parallel
  (map-only), so the kernel runs directly on the scan partitions with
  ZERO data movement; the only shuffle is the rebalance of the
  *extracted* output on ``bucket`` for the partitioned write (AQE sizes
  its partitions) — and the extracted text is several times smaller
  than the raw HTML input.  At
  10^12 turns this is the difference between shuffling ~100 TB of raw
  pages and shuffling the ~20 TB of main text.  (Measured on this box:
  pre-kernel shuffle capped 4→16-core scaling efficiency at 0.62;
  map-only extraction restores 0.87.)
* **Skew salting.**  When the input layout is pathological (a few
  monster files clustering one conversation), ``shuffle_before_extract``
  re-enables the old input redistribution on ``(bucket, salt)`` where
  ``salt = pmod(xxhash64(conv_id, turn_idx), n_salts)`` — a single
  monster conversation spreads over ``n_salts`` tasks instead of
  stalling one.  For ordinary appends-of-many-files layouts the scan
  partitioning already balances, and AQE skew handling is the backstop.
* **Ordering assertion.**  Correctness is defined under stable turn
  ordering: per-conversation turn_idx density (count == distinct ==
  max-min+1, min == 0, ``conversation_density``) is checked over the
  buckets a run wrote, in the same query that appends their control
  rows, so a violation fails the run before any commit.
  ``assert_turn_ordering`` runs the same check on any frame; its
  windowed ``row_number`` variant (``strict=True``) is the only window
  use in the pipeline, exactly as the north star limits it.
* **Control table.**  One lineage/metric row per completed bucket
  ``(run_id, bucket, n_rows, n_convs, n_chars_out, started_at,
  finished_at, wall_sec)``; the counts are the bucket's, the three
  time columns are the run's (start, end of its write, and their
  difference), the same on every row of the run.  Resume = anti-join of
  buckets against completed control rows for the run_id.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Optional

from pyspark.errors import SparkRuntimeException
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.html_ops import extract_struct_udf


@dataclass
class PipelineConfig:
    n_buckets: int = 32
    n_salts: int = 4
    drop_whitespace_text_nodes: bool = False
    use_link_density: bool = True
    shuffle_before_extract: bool = False
    # Opt-in sparse-link-grid strip (text bytes per descendant element).
    min_text_density: Optional[float] = None
    # Poison-pill guard: truncate pathological giant documents before
    # parsing (permissive parser => truncation == EOF).  None disables.
    max_doc_bytes: int = 16 * 1024 * 1024
    # Extract each UNIQUE page once and join results back (exact web
    # corpora run 30-60% duplicate pages): trades two shuffles of the
    # (hash, extracted) pairs for kernel time proportional to the dup
    # rate.  Worth it when kernel cost/page >> shuffle cost/row, i.e.
    # big pages or high dup rates; off by default because the map-only
    # plan is strictly better on near-unique corpora.  Measured (this
    # box, 40x dup rate): 2.24x faster at 200k rows, 0.82x (slower) at
    # 20k rows where fixed join overhead dominates.
    dedup_before_extract: bool = False


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn("bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int"))


def extract_turns(df: DataFrame, cfg: PipelineConfig = PipelineConfig()) -> DataFrame:
    """The kernel stage: text → (main_text, spans, n_nodes, n_removed).

    Row-parallel; when ``shuffle_before_extract`` the input is
    redistributed on (bucket, salt) to even out skewed conversations.
    """
    df = with_bucket(df, cfg.n_buckets)
    if cfg.shuffle_before_extract:
        salt = F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(cfg.n_salts)).cast("int")
        df = df.repartition(F.col("bucket"), salt)
    ex = extract_struct_udf(
        drop_whitespace_text_nodes=cfg.drop_whitespace_text_nodes,
        use_link_density=cfg.use_link_density,
        min_text_density=cfg.min_text_density,
        max_doc_bytes=cfg.max_doc_bytes,
    )
    if cfg.dedup_before_extract:
        # kernel runs once per unique page; results join back on the
        # 16-byte hash (shuffled hash join on both sides — the join key
        # is uniform by construction, no skew handling needed).
        # md5(NULL) is NULL, so the join must be null-safe or rows with
        # null text would silently vanish (the map-only path keeps them
        # with a null extraction struct).
        hashed = df.withColumn("_h", F.md5("text"))
        uniq = hashed.select("_h", "text").dropDuplicates(["_h"])
        extracted = uniq.withColumn("_ex", ex(F.col("text"))).drop("text")
        out = (
            hashed.drop("text").alias("l")
            .join(extracted.alias("r"), F.col("l._h").eqNullSafe(F.col("r._h")))
            .drop("_h")
        )
    else:
        out = df.withColumn("_ex", ex(F.col("text")))
    return out.select(
        "conv_id", "turn_idx", "role", "tool", "ts", "bucket",
        F.col("_ex.main_text").alias("main_text"),
        F.col("_ex.spans").alias("spans"),
        F.col("_ex.n_nodes").alias("n_nodes"),
        F.col("_ex.n_removed").alias("n_removed"),
    )


def conversation_density(df: DataFrame, *keys: str, aggs=()) -> DataFrame:
    """One row per conversation (grouped by ``keys`` + ``conv_id``): its
    turn count ``n``, ``bad`` when its turn_idx are not exactly
    0..n-1 (count == countDistinct == max-min+1, min == 0), and
    ``aggs``.  The one definition of dense turn ordering, shared by
    :func:`assert_turn_ordering` and the commit of :func:`run_extraction`."""
    n = F.count("*")
    return df.groupBy(*keys, "conv_id").agg(
        n.alias("n"),
        ((n != F.countDistinct("turn_idx")) | (F.min("turn_idx") != 0)
         | (F.max("turn_idx") != n - 1)).alias("bad"),
        *aggs,
    )


def assert_turn_ordering(df: DataFrame, strict: bool = False) -> int:
    """Return number of conversations violating dense turn ordering.

    Cheap path: one :func:`conversation_density` aggregation.  Strict
    path: window row_number must equal the rank of turn_idx (the
    pipeline's single sanctioned window use).
    """
    if strict:
        w = Window.partitionBy("conv_id").orderBy(F.col("turn_idx").asc())
        bad = (
            df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") - 1 != F.col("turn_idx"))
            .select("conv_id").distinct().count()
        )
        return bad
    return conversation_density(df).where("bad").count()


CONTROL_COLUMNS = [
    "run_id", "bucket", "n_rows", "n_convs", "n_chars_out",
    "started_at", "finished_at", "wall_sec",
]

ORDERING_ERROR = "turn-ordering violated"


def completed_buckets(spark: SparkSession, control_dir: str, run_id: str):
    """Buckets with a control row for ``run_id``; empty when the control
    table does not exist yet or holds no data file (a first run that
    failed before its commit leaves an empty directory).  Any other read
    error propagates: a control table that cannot be read must not
    silently turn a resume into a recompute of the whole corpus."""
    from ..sources.catalog import read_table, table_exists

    if not table_exists(spark, control_dir):
        return set()
    ctl = read_table(spark, control_dir, schema="run_id string, bucket int")
    rows = ctl.where(F.col("run_id") == run_id).select("bucket").distinct().collect()
    return {r[0] for r in rows}


def bucketed_output(df: DataFrame, cfg: PipelineConfig = PipelineConfig()) -> DataFrame:
    """What :func:`run_extraction` writes: :func:`extract_turns`, then one
    shuffle of the (much smaller) extracted columns on ``bucket``, so each
    bucket's files come from few tasks (no small-files blowup).
    ``REBALANCE`` starts from ``n_buckets`` partitions and lets AQE
    coalesce small ones and split oversized ones."""
    return extract_turns(df, cfg).hint("rebalance", cfg.n_buckets, "bucket")


def _commit(written: DataFrame, control_dir: str, run_id: str,
            started: float, finished: float, check_ordering: bool) -> int:
    """One query over the buckets a run wrote: per bucket ``n_rows``,
    ``n_convs`` and ``n_chars_out``, appended as control rows; returns
    the rows in ``written``.  With ``check_ordering`` a conversation that
    is not dense fails the query (``raise_error``) before the append
    commits, and this raises ``ValueError``."""
    from ..sources.catalog import _is_table_ident, iceberg_available

    chars = F.sum(F.octet_length("main_text")).alias("n_chars")
    rows = conversation_density(written, "bucket", aggs=[chars]).groupBy("bucket").agg(
        F.sum("n").alias("n_rows"),
        F.count("conv_id").alias("n_convs"),
        F.sum("n_chars").alias("n_chars_out"),
        F.count(F.when(F.col("bad"), 1)).alias("n_bad"),
    )
    if check_ordering:
        msg = F.format_string(ORDERING_ERROR + " in %d conversations of bucket %d",
                              "n_bad", "bucket")
        rows = rows.where(F.when(F.col("n_bad") > 0, F.raise_error(msg)).otherwise(True))
    totals = Observation()
    rows = (
        rows.observe(totals, F.sum("n_rows").alias("n_rows"))
        .withColumn("run_id", F.lit(run_id))
        .withColumn("started_at", F.lit(started))
        .withColumn("finished_at", F.lit(finished))
        .withColumn("wall_sec", F.lit(round(finished - started, 3)))
        .select(*CONTROL_COLUMNS)
    )
    try:
        # Control rows append (Iceberg append when dst is a table ident).
        if _is_table_ident(control_dir) and iceberg_available(written.sparkSession):
            rows.writeTo(control_dir).append()
        else:
            rows.write.mode("append").parquet(control_dir)
    except SparkRuntimeException as e:
        if ORDERING_ERROR not in str(e):
            raise
        n_bad = assert_turn_ordering(written)
        raise ValueError(f"{ORDERING_ERROR} in {n_bad} conversations") from None
    return totals.get["n_rows"] or 0


def run_extraction(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    control_dir: str,
    run_id: str,
    cfg: PipelineConfig = PipelineConfig(),
    resume: bool = True,
    check_ordering: bool = True,
) -> dict:
    """Run (or resume) the extraction job; returns run metrics.

    Idempotency: output parquet is partitioned by ``bucket`` and
    written with dynamic partition overwrite; the control table is the
    commit record — a bucket counts as done only once its control row
    exists, and the control row is appended only after the bucket's
    data write completed.

    After the control-table lookup a run submits two queries: the write
    of :func:`bucketed_output`, then :func:`_commit`.  Ordering is thus
    checked before any commit, not before any write: a violating run
    leaves its written buckets uncommitted, as a mid-bucket crash does.
    ``rows_total`` (the output table's row count) adds, on a resume, a
    count of the skipped buckets.
    """
    from ..sources.catalog import read_table, write_table

    started = time.time()

    skipped = completed_buckets(spark, control_dir, run_id) if resume else set()
    done = F.col("bucket").isin(sorted(skipped))
    todo = with_bucket(transcripts, cfg.n_buckets)
    extracted = bucketed_output(todo.where(~done) if skipped else todo, cfg)
    pending = len(skipped) < cfg.n_buckets
    if pending:
        # write_table: Iceberg overwritePartitions when dst is a table
        # identifier and the runtime is present, parquet dynamic
        # partition overwrite otherwise (same idempotency either way).
        write_table(extracted, out_dir)
    finished = time.time()

    # the known schema spares a schema-inference job per read
    out = read_table(spark, out_dir, schema=extracted.schema)
    rows_total = 0
    if pending:
        written = out.where(~done) if skipped else out
        rows_total = _commit(written, control_dir, run_id, started, finished, check_ordering)
    if skipped:
        rows_total += out.where(done).count()
    return {
        "run_id": run_id,
        "rows_total": rows_total,
        "buckets_skipped": len(skipped),
        "wall_sec": round(finished - started, 3),
    }
