"""The traced run: per-layer metrics, measured from outside the program.

Every number comes from timing calls into one layer's public functions;
nothing inside ``html_parser_spark`` is instrumented.  Layers:

* ``sources``   -- the parquet scan and the partitioned write;
* ``operators`` -- the JVM<->Python Arrow hand-off and the pandas UDFs
  (result building, pandas -> Arrow), plus each SQL function;
* ``kernel``    -- parse, selector match, link density, text emission
  and the query functions, single-threaded on a fixed sample;
* ``plans``     -- the ordering check, ``extract_turns``, the commit
  tail of ``run_extraction``, resume, shuffle and GC.

The ladder runs the same input through growing prefixes of the job:
scan -> identity UDF -> extraction UDF -> ``extract_turns`` -> ordering
check -> extract + bucket shuffle + write -> full ``run_extraction``;
differences between neighbours give each layer's cost.
"""


import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from typing import Dict, Iterator, List, Optional

FULL_JOB_GROUP = "perfbench.full"
SQL_VIEW = "perfbench_turns"

# name -> (unit, better, the end-to-end metric and workload it should
# move); the order is the report order.  The SQL functions have no
# end-to-end workload of their own and are timed here only.
_CHAT = "turns_per_s on chat-turns"
_WEB = "turns_per_s on web-pages"
_SQL = "no end-to-end metric (SQL functions only)"
PER_LAYER = {
    "sources.scan_s": ("s", "lower", _CHAT + "; plans.resume_s (input rescan)"),
    "sources.write_bytes_per_turn": ("B", "lower", _CHAT + "; plans.resume_s (output re-read)"),
    "sources.write_files": ("count", "lower", _CHAT + "; plans.resume_s"),
    "operators.arrow_roundtrip_s": ("s", "lower", _CHAT),
    "operators.udf_s": ("s", "lower", _WEB + "; " + _CHAT),
    "operators.result_build_us_per_turn": ("us", "lower", _CHAT + "; worker_peak_rss_mb on web-pages"),
    "operators.to_arrow_us_per_turn": ("us", "lower", _CHAT + "; worker_peak_rss_mb on web-pages"),
    "operators.sql.html_query_count_s": ("s", "lower", _SQL),
    "operators.sql.html_inner_text_s": ("s", "lower", _SQL),
    "operators.sql.html_attr_s": ("s", "lower", _SQL),
    "operators.sql.html_markdown_s": ("s", "lower", _SQL),
    "kernel.parse_us_p50": ("us", "lower", _WEB + " (most); little on chat-turns"),
    "kernel.parse_us_p99": ("us", "lower", _WEB),
    "kernel.parse_ns_per_node": ("ns", "lower", _WEB),
    "kernel.nodes_per_turn": ("count", "lower", _WEB),
    "kernel.match_us_p50": ("us", "lower", _WEB),
    "kernel.link_density_us_p50": ("us", "lower", _WEB),
    "kernel.emit_us_p50": ("us", "lower", _WEB),
    "kernel.extract_us_p50": ("us", "lower", _WEB + "; little on chat-turns"),
    "kernel.extract_us_p99": ("us", "lower", _WEB),
    "kernel.extract_mb_per_s": ("MB/s", "higher", _WEB),
    "kernel.selector_compile_us": ("us", "lower", "setup_s; " + _SQL),
    "kernel.query_all_us_p50": ("us", "lower", _SQL),
    "kernel.inner_text_us_p50": ("us", "lower", _SQL),
    "kernel.markdown_us_p50": ("us", "lower", _SQL),
    "plans.ordering_check_s": ("s", "lower", _CHAT + "; plans.resume_s"),
    "plans.extract_turns_s": ("s", "lower", _CHAT + "; " + _WEB),
    "plans.commit_s": ("s", "lower", _CHAT + "; plans.resume_s"),
    "plans.completed_buckets_s": ("s", "lower", "plans.resume_s"),
    "plans.resume_s": ("s", "lower", "no end-to-end metric (resume wall is too noisy here to bound)"),
    "plans.shuffle_bytes_per_turn": ("B", "lower", _CHAT),
    "plans.gc_share": ("ratio", "lower", _CHAT),
    "plans.pipeline_efficiency": ("ratio", "higher", _WEB),
}

SQL_FUNCTIONS = {
    "html_query_count": "html_query_count(text, sel)",
    "html_inner_text": "html_inner_text(text, sel)",
    "html_attr": "html_attr(text, sel, attr)",
    "html_markdown": "html_markdown(text)",
}


class Tracer:
    """Spans kept in memory and written out once, at the end."""

    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self.spans: List[dict] = []
        self._stack: List[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"trace": self.trace_id, "id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def seconds(self, name: str) -> float:
        return next(s["end"] - s["start"] for s in reversed(self.spans) if s["name"] == name)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def pct(values: List[float], q: float) -> float:
    s = sorted(values)
    return s[min(len(s) - 1, int(q * len(s)))]


def identity_udf():
    """An Arrow round trip with no work: the UDF-boundary control."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType

    @F.pandas_udf(StringType())
    def identity(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        yield from it
    return identity


def sql_query(view: str, selectors: List[str], attrs: List[str],
              columns: Optional[List[str]] = None) -> str:
    """The SQL query of the traced run: per-row selector and attribute
    from the seeded set, then the SQL functions, over the tool turns."""
    from gen import SELECTOR_INDEX_SQL

    for s in selectors + attrs:
        if "'" in s or "\\" in s:
            raise ValueError(f"cannot quote {s!r} as a SQL literal")
    sels = ", ".join(f"'{s}'" for s in selectors)
    ats = ", ".join(f"'{a}'" for a in attrs)
    idx = SELECTOR_INDEX_SQL.format(n=len(selectors))
    cols = columns or [f"{SQL_FUNCTIONS['html_query_count']} AS n_match",
                       f"{SQL_FUNCTIONS['html_inner_text']} AS first_text",
                       f"{SQL_FUNCTIONS['html_attr']} AS first_attr",
                       f"{SQL_FUNCTIONS['html_markdown']} AS md"]
    return (f"SELECT conv_id, turn_idx, {', '.join(cols)} FROM ("
            f"SELECT conv_id, turn_idx, text, element_at(array({sels}), {idx} + 1) AS sel, "
            f"element_at(array({ats}), {idx} + 1) AS attr FROM {view} WHERE role = 'tool')")


# ------------------------------------------------------------------ kernel

def kernel_sample(texts: List[str], selectors: List[str],
                  sel_index: List[Optional[int]], tracer: Tracer) -> Dict[str, float]:
    """Single-threaded, in-process kernel timings over a fixed sample.

    ``sel_index[i]`` is the row's selector (None for rows the SQL
    functions skip)."""
    from html_parser_spark.kernel.extract import DEFAULT_REMOVE_SELECTOR, extract_main
    from html_parser_spark.kernel.htmlparse import ELEMENT, parse
    from html_parser_spark.kernel.markdown import to_markdown
    from html_parser_spark.kernel.matcher import iter_query, query_all, query_one
    from html_parser_spark.kernel.selector import compile_selector
    from html_parser_spark.kernel.text import inner_text

    clock = time.perf_counter_ns
    with tracer.span("kernel.selector_compile"):
        compiled, compile_ns = [], []
        for s in selectors + [DEFAULT_REMOVE_SELECTOR]:
            t = clock()
            compiled.append(compile_selector(s))
            compile_ns.append(clock() - t)
    remove = compiled.pop()
    parse_ns, nodes, match_ns, ext_ns, ld_ns, emit_ns = [], [], [], [], [], []
    query_ns, text_ns, md_ns = [], [], []
    n_bytes = 0
    with tracer.span("kernel.sample", rows=len(texts)):
        for h, k in zip(texts, sel_index):
            data = h.encode("utf-8")
            n_bytes += len(data)
            t = clock()
            dom = parse(data)
            t1 = clock()
            root = next((i for i in range(1, len(dom.kind))
                         if dom.kind[i] == ELEMENT and dom.name_lower[i] == b"body"), 0)
            t2 = clock()
            for _ in iter_query(dom, remove, None if root == 0 else root):
                pass
            t3 = clock()
            extract_main(data)
            t4 = clock()
            extract_main(data, use_link_density=False)
            t5 = clock()
            parse_ns.append(t1 - t)
            nodes.append(len(dom.kind))
            match_ns.append(t3 - t2)
            ext_ns.append(t4 - t3)
            ld_ns.append((t4 - t3) - (t5 - t4))
            emit_ns.append((t5 - t4) - (t1 - t) - (t3 - t2))
            if k is not None:
                t = clock()
                query_all(dom, compiled[k])
                t1 = clock()
                idx = query_one(dom, compiled[k])
                if idx is not None:
                    inner_text(dom, idx, True)
                t2 = clock()
                to_markdown(dom, 0)
                t3 = clock()
                query_ns.append(t1 - t)
                text_ns.append(t2 - t1)
                md_ns.append(t3 - t2)
    us = 1e-3
    return {
        "kernel.parse_us_p50": pct(parse_ns, 0.5) * us,
        "kernel.parse_us_p99": pct(parse_ns, 0.99) * us,
        "kernel.parse_ns_per_node": sum(parse_ns) / sum(nodes),
        "kernel.nodes_per_turn": sum(nodes) / len(nodes),
        "kernel.match_us_p50": pct(match_ns, 0.5) * us,
        "kernel.link_density_us_p50": pct(ld_ns, 0.5) * us,
        "kernel.emit_us_p50": pct(emit_ns, 0.5) * us,
        "kernel.extract_us_p50": pct(ext_ns, 0.5) * us,
        "kernel.extract_us_p99": pct(ext_ns, 0.99) * us,
        "kernel.extract_mb_per_s": n_bytes / (sum(ext_ns) * 1e-9) / 1e6,
        "kernel.selector_compile_us": statistics.median(compile_ns) * us,
        "kernel.query_all_us_p50": pct(query_ns, 0.5) * us,
        "kernel.inner_text_us_p50": pct(text_ns, 0.5) * us,
        "kernel.markdown_us_p50": pct(md_ns, 0.5) * us,
        # sum of in-process extract_main time, for pipeline efficiency
        "_extract_s_per_turn": sum(ext_ns) * 1e-9 / len(ext_ns),
    }


def operators_in_process(texts: List[str], tracer: Tracer, repeats: int = 3) -> Dict[str, float]:
    """The extraction UDF's Python body, called in-process through its
    ``.func`` on one batch, minus ``extract_main`` over the same rows
    (both timed ``repeats`` times, interleaved; fastest kept); and the
    pandas -> Arrow conversion of its result."""
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    from html_parser_spark.kernel.extract import extract_main
    from html_parser_spark.operators.html_ops import EXTRACT_SCHEMA, extract_struct_udf

    func = extract_struct_udf().func
    batch = pd.Series(texts)
    udf_s, kernel_s = [], []
    with tracer.span("operators.udf_body", rows=len(texts), repeats=repeats):
        for _ in range(repeats):
            t = time.perf_counter()
            for h in texts:
                extract_main(h.encode("utf-8"))
            kernel_s.append(time.perf_counter() - t)
            t = time.perf_counter()
            (out,) = list(func(iter([batch])))
            udf_s.append(time.perf_counter() - t)
    struct_t = to_arrow_type(EXTRACT_SCHEMA)
    with tracer.span("operators.to_arrow", rows=len(texts)):
        t = time.perf_counter()
        pa.StructArray.from_arrays(
            [pa.Array.from_pandas(out[f.name], type=f.type) for f in struct_t],
            fields=list(struct_t))
        arrow_s = time.perf_counter() - t
    n = len(texts)
    return {
        "operators.result_build_us_per_turn": (min(udf_s) - min(kernel_s)) / n * 1e6,
        "operators.to_arrow_us_per_turn": arrow_s / n * 1e6,
    }


# -------------------------------------------------------------- event log

def event_log_metrics(events_dir: str, group: str) -> Dict[str, float]:
    """Task totals of one job group from the Spark event log (read after
    Spark stopped, when the log is complete)."""
    stages = set()
    shuffle = gc = run = spill = 0
    tasks = 0
    for path in glob.glob(os.path.join(events_dir, "**", "*"), recursive=True):
        if not os.path.isfile(path) or os.path.basename(path).startswith("appstatus"):
            continue
        with open(path) as f:
            events = [json.loads(line) for line in f if line.strip()]
        for ev in events:
            if ev.get("Event") == "SparkListenerJobStart" and \
                    (ev.get("Properties") or {}).get("spark.jobGroup.id") == group:
                stages.update(ev.get("Stage IDs", []))
        for ev in events:
            if ev.get("Event") != "SparkListenerTaskEnd" or ev.get("Stage ID") not in stages:
                continue
            m = ev.get("Task Metrics") or {}
            tasks += 1
            run += m.get("Executor Run Time", 0)
            gc += m.get("JVM GC Time", 0)
            spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            shuffle += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    return {"tasks": tasks, "shuffle_bytes": shuffle, "gc_ms": gc, "run_ms": run, "spill_bytes": spill}


# ------------------------------------------------------------------ ladder

def ladder(spark, paths, cfg, n_turns: int, selectors: List[str], attrs: List[str],
           tracer: Tracer) -> Dict[str, float]:
    """Run the ladder on the workload's table (``paths`` as in ``run.Paths``);
    afterwards the SQL functions are registered and the table is the
    temporary view ``SQL_VIEW``."""
    from pyspark.sql import functions as F

    from html_parser_spark.operators.html_ops import extract_struct_udf, register_sql_functions
    from html_parser_spark.plans.pipeline import (
        assert_turn_ordering, completed_buckets, extract_turns, run_extraction, with_bucket,
    )
    from html_parser_spark.sources.catalog import read_transcripts, write_table

    df = read_transcripts(spark, paths.input_dir)
    # one whole job first, so no step of the ladder runs with a cold JIT
    with tracer.span("warm_job"):
        run_extraction(spark, df, paths.scratch_out + "-warm", paths.ctl_dir + "-warm", "warm", cfg)
    with tracer.span("sources.scan"):
        noop(df)
    with tracer.span("operators.identity"):
        noop(df.select(identity_udf()(F.col("text")).alias("t")))
    with tracer.span("operators.extract_udf"):
        noop(df.select(extract_struct_udf()(F.col("text")).alias("e")))
    with tracer.span("plans.extract_turns"):
        noop(extract_turns(df, cfg))
    with tracer.span("plans.ordering_check"):
        if assert_turn_ordering(df):
            raise RuntimeError("generated input violates dense turn ordering")
    with tracer.span("plans.extract_shuffle_write"):
        extracted = extract_turns(with_bucket(df, cfg.n_buckets), cfg)
        write_table(extracted.repartition(cfg.n_buckets, F.col("bucket")), paths.scratch_out)
    spark.sparkContext.setJobGroup(FULL_JOB_GROUP, "run_extraction")
    with tracer.span("plans.run_extraction"):
        run_extraction(spark, df, paths.out_dir, paths.ctl_dir, "traced", cfg)
    spark.sparkContext.setJobGroup("", "")
    with tracer.span("plans.completed_buckets"):
        done = completed_buckets(spark, paths.ctl_dir, "traced")
    if not done:
        raise RuntimeError("finished run left no control rows")
    # Resume of a finished run: every bucket must be skipped and the
    # output must stay as it is, or a silent recompute would only read
    # as slow.
    with tracer.span("plans.resume"):
        m = run_extraction(spark, df, paths.out_dir, paths.ctl_dir, "traced", cfg, resume=True)
    if m["rows_total"] != n_turns or m["buckets_skipped"] != len(done):
        raise RuntimeError(f"resume recomputed or changed the output: {m}, {len(done)} buckets done")

    register_sql_functions(spark)
    df.createOrReplaceTempView(SQL_VIEW)
    for fn, expr in SQL_FUNCTIONS.items():
        q = sql_query(SQL_VIEW, selectors, attrs, [f"{expr} AS v"])
        with tracer.span(f"operators.sql.{fn}"):
            noop(spark.sql(q))

    out_files = glob.glob(os.path.join(paths.out_dir, "bucket=*", "*.parquet"))
    s = tracer.seconds
    scan, ident, udf = s("sources.scan"), s("operators.identity"), s("operators.extract_udf")
    full, ordering, ext = s("plans.run_extraction"), s("plans.ordering_check"), s("plans.extract_turns")
    metrics = {
        "sources.scan_s": scan,
        "sources.write_bytes_per_turn": sum(os.path.getsize(p) for p in out_files) / n_turns,
        "sources.write_files": float(len(out_files)),
        "operators.arrow_roundtrip_s": ident - scan,
        "operators.udf_s": udf - ident,
        "plans.ordering_check_s": ordering,
        "plans.extract_turns_s": ext,
        "plans.commit_s": full - ordering - ext,
        "plans.completed_buckets_s": s("plans.completed_buckets"),
        "plans.resume_s": s("plans.resume"),
        "_full_s": full,
        # the part of run_extraction no ladder step covers: the resume
        # lookup, the control rows and the final count
        "_unaccounted_s": full - ordering - s("plans.extract_shuffle_write"),
    }
    for fn in SQL_FUNCTIONS:
        metrics[f"operators.sql.{fn}_s"] = s(f"operators.sql.{fn}")
    return metrics
