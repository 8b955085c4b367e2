"""Vectorized Spark operators over HTML columns.

Every operator is an Arrow-batched pandas UDF (``Iterator[pd.Series]``
form so per-batch state — the compiled selector — is set up once per
executor task, not per row).  No row-at-a-time Python UDFs anywhere:
the per-row work happens inside the kernel on ``bytes`` with C-speed
scanning, and batches move JVM↔Python as Arrow buffers.

Selectors are compiled once on the driver (cheap, pure Python) and
shipped to executors inside the UDF closure — the Spark-native
equivalent of the reference's "compile once, query cached" API
(document.zig:406-412).
"""

from __future__ import annotations

from functools import lru_cache
from typing import Iterator, Optional, Tuple

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, IntegerType, LongType, StringType, StructField, StructType,
)

from ..kernel.extract import DEFAULT_REMOVE_SELECTOR, extract_main
from ..kernel.htmlparse import parse
from ..kernel.matcher import query_all, query_one
from ..kernel.selector import Selector, compile_selector
from ..kernel.text import inner_text
from ..kernel.attrs import get_attr

SPAN_TYPE = ArrayType(
    StructType([
        StructField("start", IntegerType(), False),
        StructField("end", IntegerType(), False),
    ])
)

EXTRACT_SCHEMA = StructType([
    StructField("main_text", StringType(), True),
    StructField("spans", SPAN_TYPE, True),
    StructField("n_nodes", IntegerType(), True),
    StructField("n_removed", IntegerType(), True),
])


def _series_map(it: Iterator[pd.Series], fn) -> Iterator[pd.Series]:
    for s in it:
        yield s.map(lambda v: None if v is None else fn(v))


def _compiled(selector) -> Selector:
    return selector if isinstance(selector, Selector) else compile_selector(selector)


@lru_cache(maxsize=1024)
def _compile_cached(source: str) -> Selector:
    """Worker-side cache for dynamic (per-row) selector columns."""
    return compile_selector(source)


def node_count_udf():
    """Parsed node count per document (document node included) —
    mirrors ParseInstrumentationStats.node_count."""
    @F.pandas_udf(LongType())
    def udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        yield from _series_map(it, lambda h: len(parse(h.encode("utf-8"))))
    return udf


def query_count_udf(selector):
    """count(queryAll(selector)) per document."""
    sel = _compiled(selector)

    @F.pandas_udf(LongType())
    def udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        yield from _series_map(it, lambda h: len(query_all(parse(h.encode("utf-8")), sel)))
    return udf


def inner_text_udf(selector, normalize_whitespace: bool = True, joiner: str = "\x1f"):
    """innerText of every match, joined by ``joiner`` (empty string when
    no match) — queryAll → innerText composition."""
    sel = _compiled(selector)

    def one(h: str) -> str:
        dom = parse(h.encode("utf-8"))
        parts = [
            inner_text(dom, i, normalize_whitespace).decode("utf-8", errors="replace")
            for i in query_all(dom, sel)
        ]
        return joiner.join(parts)

    @F.pandas_udf(StringType())
    def udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        yield from _series_map(it, one)
    return udf


def attr_value_udf(selector, attr_name: str):
    """Decoded attribute value of the FIRST match (null when the
    selector misses or the attribute is absent) — queryOne →
    getAttributeValue composition."""
    sel = _compiled(selector)

    def one(h: str) -> Optional[str]:
        dom = parse(h.encode("utf-8"))
        idx = query_one(dom, sel)
        if idx is None:
            return None
        v = get_attr(dom, idx, attr_name)
        return None if v is None else v.decode("utf-8", errors="replace")

    @F.pandas_udf(StringType())
    def udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        yield from _series_map(it, one)
    return udf


def to_markdown_udf(selector=None):
    """Markdown rendering of the document (or of the FIRST ``selector``
    match when one is given; null when it misses) — the structural
    sibling of extraction: headings/lists/links/code survive as
    Markdown instead of being flattened to plain text.  Map-only, same
    Arrow-batch shape as every other kernel operator."""
    from ..kernel.markdown import to_markdown

    sel = _compiled(selector) if selector is not None else None

    def one(h: str) -> Optional[str]:
        dom = parse(h.encode("utf-8"))
        if sel is None:
            return to_markdown(dom, 0)
        idx = query_one(dom, sel)
        return None if idx is None else to_markdown(dom, idx)

    @F.pandas_udf(StringType())
    def udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        yield from _series_map(it, one)
    return udf


TABLE_CELL_TYPE = ArrayType(
    StructType([
        StructField("table_idx", IntegerType(), False),
        StructField("row_idx", IntegerType(), False),
        StructField("cell_idx", IntegerType(), False),
        StructField("cell", StringType(), False),
    ])
)


def table_cells_udf(selector: str = "table"):
    """Structured table extraction: every cell of every ``selector``
    match as ``(table_idx, row_idx, cell_idx, cell)`` — the relational
    twin of the Markdown pipe-table renderer (same kernel walk, same
    inline/whitespace semantics).  Returned as one array per document
    so the caller explodes JVM-side; empty array when no table.

    Nested tables: the inner ``<table>`` is its own match (own
    ``table_idx``, its cells emitted separately) AND its text is
    inline-rendered into the enclosing cell's string — the same
    contract the Markdown renderer applies to any element inside a
    cell.  Filter matches (e.g. ``table:not(table table)`` is NOT in
    the supported grammar — pre-filter by table_idx instead) when only
    outermost tables are wanted."""
    from ..kernel.markdown import table_rows

    sel = _compiled(selector)

    def one(h: str):
        dom = parse(h.encode("utf-8"))
        out = []
        for t, idx in enumerate(query_all(dom, sel)):
            for r, row in enumerate(table_rows(dom, idx)):
                for c, cell in enumerate(row):
                    out.append((t, r, c, cell))
        return out

    @F.pandas_udf(TABLE_CELL_TYPE)
    def udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        yield from _series_map(it, one)
    return udf


def fields_udf(fields):
    """Multi-field record extraction ("wrapper extraction"): a dict of
    ``name -> selector`` (innerText of the FIRST match) or
    ``name -> (selector, attr)`` (decoded attribute of the first
    match) evaluated with ONE parse per document, returned as a struct
    column — k fields cost one DOM, not k (``inner_text_udf`` /
    ``attr_value_udf`` chained would parse k times).  Missing
    selector/attribute → null field.  The queryOne → innerText /
    getAttributeValue composition over the kernel, batched per Arrow
    block like every other operator."""
    if not fields:
        raise ValueError("fields_udf needs at least one field "
                         "(Arrow cannot ship an empty struct)")
    compiled = []
    for name, spec in fields.items():
        if isinstance(spec, str):
            sel, attr = spec, None
        else:
            sel, attr = spec
        compiled.append((name, _compiled(sel), attr))
    names = [n for n, _, _ in compiled]
    schema = StructType([StructField(n, StringType(), True) for n in names])

    def one(h: str):
        dom = parse(h.encode("utf-8"))
        out = {}
        for name, sel, attr in compiled:
            idx = query_one(dom, sel)
            if idx is None:
                out[name] = None
            elif attr is None:
                out[name] = inner_text(dom, idx, True).decode("utf-8", "replace")
            else:
                v = get_attr(dom, idx, attr)
                out[name] = None if v is None else v.decode("utf-8", "replace")
        return out

    @F.pandas_udf(schema)
    def udf(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        empty = {n: None for n in names}
        for s in it:
            yield pd.DataFrame(
                [empty if v is None else one(v) for v in s], columns=names)
    return udf


def extract_struct_udf(
    remove_selector: str = DEFAULT_REMOVE_SELECTOR,
    drop_whitespace_text_nodes: bool = False,
    use_link_density: bool = True,
    link_density_threshold: float = 0.5,
    min_text_density: Optional[float] = None,
    max_doc_bytes: Optional[int] = 16 * 1024 * 1024,
):
    """Main-content extraction returning struct(main_text, spans,
    n_nodes, n_removed).  The flagship operator of the pipeline.

    ``max_doc_bytes`` is the poison-pill guard for web-scale corpora: a
    single pathological multi-hundred-MB document must not blow up
    executor memory (output buffers are ~input-sized, and an Arrow
    batch holds thousands of rows).  Oversized documents are truncated
    to the limit before parsing — safe because the parser is permissive
    (truncation ≡ EOF: open elements close, raw text runs out) — and
    ``n_removed`` is reported as usual; pass ``None`` to disable."""
    sel = compile_selector(remove_selector)

    def one(h: str):
        data = h.encode("utf-8")
        if max_doc_bytes is not None and len(data) > max_doc_bytes:
            data = data[:max_doc_bytes]
        r = extract_main(
            data,
            remove_selector=sel,
            drop_whitespace_text_nodes=drop_whitespace_text_nodes,
            use_link_density=use_link_density,
            link_density_threshold=link_density_threshold,
            min_text_density=min_text_density,
        )
        return {
            "main_text": r.main_text,
            "spans": [{"start": s, "end": e} for s, e in r.spans],
            "n_nodes": r.n_nodes,
            "n_removed": r.n_removed,
        }

    @F.pandas_udf(EXTRACT_SCHEMA)
    def udf(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for s in it:
            rows = [
                {"main_text": None, "spans": None, "n_nodes": None, "n_removed": None}
                if v is None else one(v)
                for v in s
            ]
            yield pd.DataFrame(rows, columns=["main_text", "spans", "n_nodes", "n_removed"])
    return udf


LINKS_SCHEMA = ArrayType(StructType([
    StructField("tag", StringType(), False),
    StructField("url", StringType(), False),
    StructField("text", StringType(), True),
]))


def links_udf(selector: str = "a[href], img[src], script[src], link[href]",
              attrs: tuple = ("href", "src")):
    """URL mining: every matched element's first present URL attribute,
    with its (normalized) innerText — the standard link-graph /
    crawl-frontier extraction of a web pipeline, expressed as
    queryAll → getAttributeValue → innerText over the kernel."""
    sel = _compiled(selector)
    names = list(attrs)

    def one(h: str):
        dom = parse(h.encode("utf-8"))
        out = []
        for idx in query_all(dom, sel):
            for a in names:
                v = get_attr(dom, idx, a)
                if v is not None:
                    out.append({
                        "tag": (dom.name_disp[idx] or b"").decode("utf-8", "replace"),
                        "url": v.decode("utf-8", "replace"),
                        "text": inner_text(dom, idx, True).decode("utf-8", "replace"),
                    })
                    break
        return out

    @F.pandas_udf(LINKS_SCHEMA)
    def udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        yield from _series_map(it, one)
    return udf


EXPLAIN_SCHEMA = StructType([
    StructField("matched_index", IntegerType(), True),
    StructField("matched_group", IntegerType(), True),
    StructField("visited_elements", IntegerType(), True),
    StructField("n_near_misses", IntegerType(), True),
    StructField("first_failure_kind", StringType(), True),
])


def explain_udf(selector):
    """Near-miss diagnostics of the first-match scan per document —
    explainFirstMatch as a diagnostics column (matcher_debug.zig:18-70).
    ``matched_index``/``matched_group`` are null on no match;
    ``first_failure_kind`` is the classified failure of the first
    near-miss (tag|id|class|attr|pseudo|not_simple|combinator|scope)."""
    from ..kernel.matcher_debug import explain_first_match
    from ..kernel.htmlparse import INVALID

    sel = _compiled(selector)

    def one(h: str):
        rpt = explain_first_match(parse(h.encode("utf-8")), sel)
        return {
            "matched_index": None if rpt.matched_index == INVALID else rpt.matched_index,
            "matched_group": None if rpt.matched_index == INVALID else rpt.matched_group,
            "visited_elements": rpt.visited_elements,
            "n_near_misses": len(rpt.near_misses),
            "first_failure_kind": rpt.near_misses[0].reason.kind if rpt.near_misses else None,
        }

    cols = [f.name for f in EXPLAIN_SCHEMA.fields]

    @F.pandas_udf(EXPLAIN_SCHEMA)
    def udf(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for s in it:
            rows = [dict.fromkeys(cols) if v is None else one(v) for v in s]
            yield pd.DataFrame(rows, columns=cols)
    return udf


PARSE_STATS_SCHEMA = StructType([
    StructField("input_len", LongType(), True),
    StructField("node_count", IntegerType(), True),
    StructField("elapsed_ns", LongType(), True),
])


def parse_stats_udf():
    """Per-document ParseInstrumentationStats
    (instrumentation.zig:18-32): input_len, node_count, elapsed_ns.
    Aggregated over a table these are the parse-side metrics the
    pipeline writes to its control table."""
    from ..kernel.instrumentation import parse_with_hooks

    def one(h: str):
        box = {}
        parse_with_hooks(h, on_parse_end=lambda st: box.update(
            input_len=st.input_len, node_count=st.node_count, elapsed_ns=st.elapsed_ns))
        return box

    cols = [f.name for f in PARSE_STATS_SCHEMA.fields]

    @F.pandas_udf(PARSE_STATS_SCHEMA)
    def udf(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for s in it:
            rows = [dict.fromkeys(cols) if v is None else one(v) for v in s]
            yield pd.DataFrame(rows, columns=cols)
    return udf


def register_sql_functions(spark) -> None:
    """Expose the HTML kernel to ``spark.sql`` users:

    - ``html_node_count(html)``
    - ``html_query_count(html, selector)``
    - ``html_inner_text(html, selector)``  (first match, normalized)
    - ``html_attr(html, selector, attr)``
    - ``html_markdown(html)``  (whole-document Markdown rendering)

    Selector arguments are ordinary columns, so they may vary per row;
    compilation is lru-cached per worker (the reference's runtime
    compile is likewise cheap and cacheable, document.zig:439-462)."""
    @F.pandas_udf(LongType())
    def _node_count(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in it:
            yield s.map(lambda v: None if v is None else len(parse(v.encode("utf-8"))))

    @F.pandas_udf(LongType())
    def _query_count(it: Iterator[Tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
        for html, sel in it:
            yield pd.Series([
                None if h is None or q is None
                else len(query_all(parse(h.encode("utf-8")), _compile_cached(q)))
                for h, q in zip(html, sel)
            ])

    @F.pandas_udf(StringType())
    def _inner_text(it: Iterator[Tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
        def one(h, q):
            if h is None or q is None:
                return None
            dom = parse(h.encode("utf-8"))
            idx = query_one(dom, _compile_cached(q))
            if idx is None:
                return None
            return inner_text(dom, idx, True).decode("utf-8", errors="replace")
        for html, sel in it:
            yield pd.Series([one(h, q) for h, q in zip(html, sel)])

    @F.pandas_udf(StringType())
    def _attr(it: Iterator[Tuple[pd.Series, pd.Series, pd.Series]]) -> Iterator[pd.Series]:
        def one(h, q, a):
            if h is None or q is None or a is None:
                return None
            dom = parse(h.encode("utf-8"))
            idx = query_one(dom, _compile_cached(q))
            if idx is None:
                return None
            v = get_attr(dom, idx, a)
            return None if v is None else v.decode("utf-8", errors="replace")
        for html, sel, attr in it:
            yield pd.Series([one(h, q, a) for h, q, a in zip(html, sel, attr)])

    @F.pandas_udf(StringType())
    def _markdown(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        from ..kernel.markdown import to_markdown
        for s in it:
            yield s.map(lambda v: None if v is None
                        else to_markdown(parse(v.encode("utf-8")), 0))

    spark.udf.register("html_node_count", _node_count)
    spark.udf.register("html_query_count", _query_count)
    spark.udf.register("html_inner_text", _inner_text)
    spark.udf.register("html_attr", _attr)
    spark.udf.register("html_markdown", _markdown)


def serialize_html_udf(selector):
    """Re-serialize the first matching subtree (writeHtml semantics for
    a pristine parse: raw attrs verbatim, void tags unclosed)."""
    sel = _compiled(selector)
    from ..kernel.serialize import write_html

    def one(h: str) -> Optional[str]:
        dom = parse(h.encode("utf-8"))
        idx = query_one(dom, sel)
        if idx is None:
            return None
        return write_html(dom, idx).decode("utf-8", errors="replace")

    @F.pandas_udf(StringType())
    def udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        yield from _series_map(it, one)
    return udf
