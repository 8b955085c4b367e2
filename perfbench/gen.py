"""Seeded workload generator.

``generate(name, seed)`` returns a :class:`Workload`: the transcript
table in the ``input_hint`` schema (the only thing the program sees) and
the outputs the program must produce for it, computed from the page
model in :mod:`pages`.  The same ``(name, seed)`` gives byte-identical
tables.  Volumes, conversation lengths and page sizes come from fixed
grids that the seed only permutes, so every seed carries the same amount
of work; the seed chooses the words, structure and order.

Workloads:

* ``chat-turns`` -- many conversations; two thirds of the turns are
  plain-prose user/assistant messages and one third are tool turns
  carrying a small (~0.7 KB, ~30 node) boilerplate page.  Every turn is
  unique.  Per-row and per-job Spark costs dominate; the kernel does
  little (about a tenth of the cores' time in a job on 4 cores).
* ``web-pages`` -- user prompt, several tool turns holding full web
  pages (3 KB to 200 KB, median ~30 KB: deep nesting, nav/header/
  footer/aside/form chrome, link farms that only link density strips,
  entities, inline script/style, tables), then an assistant answer.
  About a third of the tool turns re-fetch a page seen earlier in the
  same conversation.  The kernel's share is the largest here (about a
  third of the job on 4 cores), and only here can a result cache or
  ``dedup_before_extract`` save work.

Both also carry a seeded set of a few dozen CSS selectors (tag/class/id,
attribute operators, combinators, ``:not``, ``:nth-child``), each paired
with an attribute name; the SQL query of the traced run gives every tool
row one of them, by a formula it evaluates per row.  With ``with_sql``
the generator also returns, per tool row of ``web-pages``, the values
``html_query_count``, ``html_inner_text``, ``html_attr`` and
``html_markdown`` must return.
"""

from __future__ import annotations

import gc
import multiprocessing
import random
from multiprocessing import resource_tracker
from dataclasses import dataclass, field
from statistics import NormalDist
from typing import Dict, List, Optional, Tuple

from pages import (
    Compound as C, El, Selector as S, Tx, expected_main_text, expected_markdown,
    inner_text, link, to_html,
)

WORKLOADS = ("chat-turns", "web-pages")

CHAT_CONVS = 600              # conversation lengths cycle 6..42 turns
CHAT_LENGTHS = tuple(range(6, 43, 3))
WEB_CONVS = 70                # tool pages per conversation cycle 2..6
WEB_TOOL_COUNTS = (2, 3, 4, 5, 6)
PAGE_MEDIAN = 30_000          # characters
PAGE_SIGMA = 0.8
PAGE_MIN, PAGE_MAX = 3_000, 200_000
N_SELECTORS = 32
N_CHUNKS = 16                 # generation units; fixed so output never depends on workers

WORDS = """
the of and to in is that for it as was with be by on not he this are or
his from at which but have an they you were her she there one all we can
data model page table query result engine parser token stream batch
worker shuffle bucket commit resume index vector record column schema
field value cache memory thread process signal report metric trace span
layer kernel operator source plan scan write read merge split join filter
sort group window count sum mean median quantile sample seed budget limit
river mountain forest harbor garden market bridge tower castle village
winter summer autumn spring morning evening orange purple silver golden
quickly slowly gently boldly rarely often always never seldom already
""".split()
RARE_WORDS = ("café", "naïve", "Zürich", "東京", "München", "façade", "smörgåsbord")
ENTITIES = (("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
            ("&apos;", "'"), ("&#169;", "©"), ("&#x2014;", "—"))
NL = "\n"


@dataclass
class Workload:
    name: str
    seed: int
    columns: Dict[str, list]                  # conv_id, turn_idx, role, text, tool, ts_s
    expected_main: List[str]                  # per row, in table order
    selectors: List[str] = field(default_factory=list)
    selector_attrs: List[str] = field(default_factory=list)
    # (conv_id, turn_idx) -> (query_count, inner_text, attr, markdown), tool rows only
    expected_sql: Dict[Tuple[str, int], tuple] = field(default_factory=dict)
    stats: Dict[str, float] = field(default_factory=dict)

    @property
    def n_turns(self) -> int:
        return len(self.columns["conv_id"])


def selector_index(conv_id: str, turn_idx: int, n: int) -> int:
    """Per-row selector choice; ``SELECTOR_INDEX_SQL`` is the same formula."""
    return (turn_idx * 7 + int(conv_id[1:]) * 3) % n


SELECTOR_INDEX_SQL = "pmod(turn_idx * 7 + cast(substr(conv_id, 2) as int) * 3, {n})"


class _Text:
    """Seeded text with entities and multi-byte words mixed in.

    Text is cut from one seeded stream of words at random offsets, which
    keeps generation far cheaper than the extraction it feeds."""

    STREAM = 1 << 16

    def __init__(self, rng: random.Random):
        self.rng = rng
        raw: List[str] = []
        dec: List[str] = []
        for w in rng.choices(WORDS, k=self.STREAM):
            r = rng.random()
            if r < 0.03:
                w, d = rng.choice(ENTITIES)
            elif r < 0.05:
                w = d = rng.choice(RARE_WORDS)
            else:
                d = w
            raw.append(w)
            dec.append(d)
        self.raw = " ".join(raw) + " "
        self.dec = " ".join(dec) + " "
        self.raw_at = [0]
        self.dec_at = [0]
        for w, d in zip(raw, dec):
            self.raw_at.append(self.raw_at[-1] + len(w) + 1)
            self.dec_at.append(self.dec_at[-1] + len(d) + 1)

    def words(self, k: int) -> List[str]:
        return self.rng.choices(WORDS, k=k)

    def plain(self, k: int) -> str:
        return " ".join(self.words(k))

    def tx(self, k: int) -> Tx:
        o = self.rng.randrange(self.STREAM - k)
        return Tx(self.raw[self.raw_at[o]:self.raw_at[o + k] - 1],
                  self.dec[self.dec_at[o]:self.dec_at[o + k] - 1])


# ----------------------------------------------------------------- web pages

def _inline_paragraph(t: _Text, cls: Optional[str] = None) -> El:
    rng = t.rng
    kids: List = [t.tx(rng.randint(6, 14))]
    for _ in range(rng.randint(1, 5)):
        kids.append(Tx(" "))
        r = rng.random()
        if r < 0.25:
            w = t.plain(rng.randint(1, 2))
            href = rng.choice((f"/wiki/{w.replace(' ', '_')}.html",
                               f"https://{w.split()[0]}.example.com/{rng.randint(1, 999)}",
                               f"/item?id={rng.randint(1, 99999)}"))
            attrs = {"href": href}
            if rng.random() < 0.3:
                attrs["rel"] = "nofollow noopener"
            if rng.random() < 0.2:
                attrs["title"] = t.plain(2)
            kids.append(El("a", attrs, [Tx(w)]))
        elif r < 0.4:
            kids.append(El(rng.choice(("b", "strong")), None, [t.tx(rng.randint(1, 3))]))
        elif r < 0.55:
            kids.append(El(rng.choice(("em", "i")), None, [t.tx(rng.randint(1, 3))]))
        elif r < 0.65:
            kids.append(El("code", None, [Tx("x &lt; y", "x < y")]))
        elif r < 0.75:
            kids.append(El("span", {"class": "hl"}, [t.tx(rng.randint(1, 4))]))
        elif r < 0.8:
            kids.append(El("br"))
        elif r < 0.85:
            w = t.plain(2)
            kids.append(El("img", {"src": f"/img/{w.replace(' ', '-')}.png", "alt": w}))
        kids.append(Tx(" "))
        kids.append(t.tx(rng.randint(4, 12)))
    return El("p", {"class": cls} if cls else None, kids)


def _list(t: _Text, links_only: bool) -> El:
    rng = t.rng
    items = []
    for _ in range(rng.randint(3, 8)):
        if links_only:
            w = t.plain(rng.randint(1, 3))
            items.append(El("li", None, [El("a", {"href": f"/wiki/{w.replace(' ', '_')}.html"}, [Tx(w)])]))
        else:
            items.append(El("li", None, [t.tx(rng.randint(3, 10))]))
        items.append(Tx(NL))
    return El("ul", {"class": "links"} if links_only else None, items)


def _table(t: _Text) -> El:
    rng = t.rng
    cols = rng.randint(3, 5)
    head = El("thead", None, [El("tr", None, [El("th", None, [Tx(t.plain(1))]) for _ in range(cols)])])
    rows = []
    for _ in range(rng.randint(3, 10)):
        cells = [El("td", None, [t.tx(rng.randint(1, 3))])]
        cells += [El("td", {"class": "num"}, [Tx(str(rng.randint(0, 99999)))]) for _ in range(cols - 1)]
        rows.append(El("tr", None, cells))
        rows.append(Tx(NL))
    return El("table", {"class": "data"}, [head, El("tbody", None, rows)])


def _section(t: _Text, n: int) -> El:
    rng = t.rng
    kids: List = [El("h2", {"id": f"h{n}"}, [t.tx(rng.randint(2, 6))]), Tx(NL)]
    for _ in range(rng.randint(1, 4)):
        r = rng.random()
        if r < 0.5:
            node = _inline_paragraph(t, "lead" if rng.random() < 0.15 else None)
        elif r < 0.62:
            node = _list(t, links_only=False)
        elif r < 0.7:
            node = _list(t, links_only=True)
        elif r < 0.8:
            node = _table(t)
        elif r < 0.86:
            v = rng.randint(1, 9)
            node = El("pre", None, [El("code", None, [Tx(
                f"if (a &lt; {v}) {{ return b &amp;&amp; c; }}",
                f"if (a < {v}) {{ return b && c; }}")])])
        elif r < 0.93:
            node = El("div", {"class": "note"}, [_inline_paragraph(t)])
        elif r < 0.97:
            node = El("script", None, [Tx(f"var k{rng.randint(0, 99)} = 1 < 2; track('{t.plain(1)}');")])
        else:
            node = El("style", None, [Tx(".hl{color:#c00} .note>p{margin:0}")])
        kids += [node, Tx(NL)]
    return El("section", {"id": f"s{n}"}, kids)


def web_page(t: _Text, target: int, k: int) -> List:
    """Top-level nodes of one web page of about ``target`` characters."""
    rng = t.rng
    menu = El("ul", None, [El("li", None, [El("a", {"class": "nav-link", "href": f"/{w}.html"}, [Tx(w)])])
                           for w in t.words(rng.randint(4, 8))])
    header = El("header", {"id": "top"}, [
        El("div", {"class": "brand"}, [t.tx(2)]), El("nav", {"class": "menu"}, [menu])])
    sections: List = [
        El("h1", None, [t.tx(rng.randint(3, 8))]), Tx(NL),
        _inline_paragraph(t, "lead"), Tx(NL)]
    size = 2_500
    n = 0
    while size < target:
        s = _section(t, n)
        n += 1
        s.html = to_html([s])
        size += len(s.html) + 1
        sections += [s, Tx(NL)]
    article = El("article", {"class": "post", "data-k": f"v{k % 10}"}, sections)
    farm_links = max(4, min(40, target // 3_000))
    farm = El("div", {"class": "related farm"}, [
        El("h3", None, [Tx("Related")]),
        El("ul", None, [El("li", None, [El("a", {"href": f"/wiki/{w}.html"}, [Tx(w)])])
                        for w in t.words(farm_links)])])
    aside = El("aside", {"id": "sidebar"}, [
        El("h3", None, [t.tx(2)]),
        El("ul", None, [El("li", None, [El("a", {"href": f"/tag/{w}"}, [Tx(w)])]) for w in t.words(5)]),
        El("p", None, [t.tx(8)])])
    inner: El = El("div", {"class": "wrap"}, [
        Tx(NL), El("main", {"id": "main"}, [article]), Tx(NL), farm, Tx(NL), aside, Tx(NL)])
    for depth in range(rng.randint(2, 24)):
        inner = El("div", {"class": f"wrap w{depth}"}, [Tx(NL), inner, Tx(NL)])
    form = El("form", {"class": "search", "action": "/search"}, [
        El("input", {"name": "q", "type": "text"}), El("button", {"type": "submit"}, [Tx("Search")])])
    w = t.plain(2)
    footer = El("footer", None, [
        El("p", None, [Tx(f"&#169; 2026 {w}", f"© 2026 {w}")]),
        El("a", {"href": "/privacy.html"}, [Tx("Privacy")])])
    head = El("head", None, [
        El("title", None, [t.tx(4)]), El("meta", {"charset": "utf-8"}),
        El("style", None, [Tx("body{font:14px sans-serif} .farm a{color:#333}")]),
        El("script", None, [Tx("var ready = 1 < 2; if (ready) { boot(); }")])])
    body = El("body", None, [header, Tx(NL), inner, Tx(NL), form, Tx(NL), footer])
    return [El("html", {"lang": "en"}, [head, body])]


# ------------------------------------------------------------ template pages

def template_page(t: _Text, ref: int) -> List:
    """The small boilerplate page of a ``chat-turns`` tool turn."""
    rng = t.rng
    items = [El("li", None, [El("a", {"href": f"/{w}"}, [Tx(w)])]) for w in t.words(rng.randint(2, 4))]
    main_kids: List = [El("p", None, [t.tx(rng.randint(10, 20)), Tx(f" (ref {ref})")])]
    if rng.random() < 0.5:
        main_kids.append(El("p", None, [t.tx(rng.randint(3, 8)), Tx(" "),
                                        El("b", None, [Tx(t.plain(1))]), Tx(" "), t.tx(rng.randint(3, 8))]))
    head = El("head", None, [
        El("title", None, [Tx(t.plain(2))]),
        El("script", None, [Tx("var x = 1 < 2;")]),
        El("style", None, [Tx(".m{color:red}")])])
    body = El("body", None, [
        El("nav", None, [El("ul", None, items)]),
        El("header", None, [El("h1", None, [Tx(t.plain(2))])]),
        El("main", {"id": "main"}, main_kids),
        El("aside", None, [El("a", {"href": "/ad"}, [Tx("ad")])]),
        El("footer", None, [El("p", None, [Tx("(c) " + t.plain(1))])])])
    return [El("html", None, [head, body])]


def prose(t: _Text, ref: int) -> str:
    """A plain-prose message (no markup, no entities): its main text is
    the whitespace-collapsed message itself."""
    rng = t.rng
    sents = [" ".join(t.words(rng.randint(6, 18))).capitalize() + "." for _ in range(rng.randint(1, 4))]
    return "  ".join(sents) + f"\n(ref {ref})"


# ---------------------------------------------------------------- selectors

def selector_pool(rng: random.Random) -> List[Tuple[S, str]]:
    """A few dozen (selector, attribute) pairs; a few take seeded values."""
    a, b = rng.randint(2, 4), rng.randint(0, 2)
    pool = [
        (S(C("a")), "href"), (S(C("p")), "class"), (S(C("li")), "class"),
        (S(C("td")), "class"), (S(C("h2")), "id"), (S(C("img")), "alt"),
        (S(C(classes=["lead"])), "class"), (S(C(classes=["nav-link"])), "href"),
        (S(C(id="main")), "id"), (S(C(id="sidebar")), "id"),
        (S(C("a", attrs=[("href", "", "")])), "href"),
        (S(C("a", attrs=[("href", "^=", "https")])), "href"),
        (S(C("a", attrs=[("href", "$=", ".html")])), "href"),
        (S(C("a", attrs=[("href", "*=", "?id=")])), "href"),
        (S(C("a", attrs=[("rel", "~=", "nofollow")])), "rel"),
        (S(C("img", attrs=[("alt", "", "")])), "src"),
        (S(C(attrs=[("data-k", "=", f"v{rng.randint(0, 9)}")])), "data-k"),
        (S(C("article"), [(" ", C("p"))]), "class"),
        (S(C("ul"), [(">", C("li"))]), "class"),
        (S(C("nav"), [(" ", C("a"))]), "href"),
        (S(C("h2"), [("+", C("p"))]), "class"),
        (S(C("h2"), [("~", C("p"))]), "class"),
        (S(C("div", classes=["note"]), [(">", C("p"))]), "class"),
        (S(C("table"), [(" ", C("td"))]), "class"),
        (S(C("footer"), [(" ", C("a"))]), "href"),
        (S(C("li", pseudos=[("nth-child", 0, rng.randint(1, 4))])), "class"),
        (S(C("tr", pseudos=[("nth-child", 2, 1)])), "class"),
        (S(C("li", pseudos=[("nth-child", a, b)])), "class"),
        (S(C("p", pseudos=[("first-child",)])), "class"),
        (S(C("li", pseudos=[("last-child",)])), "class"),
        (S(C("td", nots=[C(classes=["num"])])), "class"),
        (S(C("a", nots=[C(attrs=[("rel", "", "")])])), "href"),
        (S(C("p", nots=[C(classes=["lead"])])), "class"),
        (S(C("section", nots=[C(id="s1")]), [(" ", C("h2"))]), "id"),
        (S(C(classes=["related"]), [(" ", C("a"))]), "href"),
        (S(C(id="sidebar"), [(" ", C("li"))]), "class"),
        (S(C("main"), [(" ", C("article")), (">", C("h1"))]), "class"),
        (S(C("td", classes=["num"])), "class"),
        (S(C("span", classes=["hl"])), "class"),
        (S(C("pre"), [(">", C("code"))]), "class"),
        (S(C("tr", pseudos=[("nth-child", -1, 3)]), [(" ", C("td"))]), "class"),
        (S(C("ul", classes=["links"]), [(" ", C("a", attrs=[("href", "", "")]))]), "href"),
        (S(C("div", classes=["wrap"]), [(">", C("div"))]), "class"),
        (S(C("header"), [(" ", C(classes=["brand"]))]), "class"),
        (S(C("a", attrs=[("title", "", "")])), "title"),
        (S(C("button")), "type"),
    ]
    return rng.sample(pool, N_SELECTORS)


# --------------------------------------------------------------- generation

def _page_sizes(n: int, rng: random.Random) -> List[int]:
    """``n`` page sizes at fixed log-normal quantiles, in seeded order."""
    nd = NormalDist()
    sizes = [min(PAGE_MAX, max(PAGE_MIN, int(PAGE_MEDIAN * 2.718281828 ** (PAGE_SIGMA * nd.inv_cdf((i + 0.5) / n)))))
             for i in range(n)]
    rng.shuffle(sizes)
    return sizes


def _new_columns() -> Dict[str, list]:
    return {k: [] for k in ("conv_id", "turn_idx", "role", "text", "tool", "ts_s")}


def _append(cols: Dict[str, list], c: int, turn: int, role: str, text: str, ref: int) -> None:
    cols["conv_id"].append(f"c{c:07d}")
    cols["turn_idx"].append(turn)
    cols["role"].append(role)
    cols["text"].append(text)
    cols["tool"].append("browser" if role == "tool" else "")
    cols["ts_s"].append(ref * 7)


def _chat_chunk(job) -> tuple:
    seed, chunk, convs = job
    t = _Text(random.Random(f"chat-turns/{seed}/{chunk}"))
    cols = _new_columns()
    expected: List[str] = []
    for c, length, ref in convs:
        for turn in range(length):
            ref += 1
            role = ("user", "assistant", "tool")[turn % 3]
            if role == "tool":
                top = template_page(t, ref)
                text = to_html(top)
                expected.append(expected_main_text(top, link(top)))
            else:
                text = prose(t, ref)
                expected.append(" ".join(text.split()))
            _append(cols, c, turn, role, text, ref)
    return cols, expected, {}


def _web_chunk(job) -> tuple:
    seed, chunk, convs, sizes, pool = job
    rng = random.Random(f"web-pages/{seed}/{chunk}")
    t = _Text(rng)
    cols = _new_columns()
    expected: List[str] = []
    expected_sql: Dict[Tuple[str, int], tuple] = {}
    pages: Dict[int, tuple] = {}
    for c, plan, ref in convs:
        seen: List[int] = []
        turns: List[Optional[int]] = [None]
        for pid in plan:
            if pid is None:
                pid = rng.choice(seen)
            else:
                top = web_page(t, sizes[pid], pid)
                order = link(top)
                md = expected_markdown(top) if pool else None
                pages[pid] = (to_html(top), expected_main_text(top, order), order, md)
            seen.append(pid)
            turns.append(pid)
        turns.append(None)
        for turn, pid in enumerate(turns):
            ref += 1
            if pid is None:
                role = "user" if turn == 0 else "assistant"
                text = prose(t, ref)
                expected.append(" ".join(text.split()))
            else:
                role = "tool"
                text, exp, order, md = pages[pid]
                expected.append(exp)
                if pool:
                    conv_id = f"c{c:07d}"
                    sel, attr = pool[selector_index(conv_id, turn, len(pool))]
                    hits = sel.query_all(order)
                    first = hits[0] if hits else None
                    expected_sql[(conv_id, turn)] = (
                        len(hits),
                        None if first is None else inner_text(first),
                        None if first is None else first.attrs.get(attr),
                        md,
                    )
            _append(cols, c, turn, role, text, ref)
    return cols, expected, expected_sql


def _chunks(items: list) -> List[list]:
    step = -(-len(items) // N_CHUNKS)
    return [items[i:i + step] for i in range(0, len(items), step)]


def _pool_map(fn, jobs: list, workers: int) -> list:
    """``map`` over a spawned pool that leaves no process behind: the
    workers are joined, and the resource tracker the pool's locks started
    is stopped once the locks are collected (a lock finalized later would
    start it again)."""
    pool = multiprocessing.get_context("spawn").Pool(min(workers, len(jobs)))
    try:
        parts = pool.map(fn, jobs)
        pool.close()
    except BaseException:
        pool.terminate()
        raise
    finally:
        pool.join()
        del pool
        gc.collect()
        resource_tracker._resource_tracker._stop()
    return parts


def generate(name: str, seed: int, workers: int = 1, with_sql: bool = False) -> Workload:
    """Build workload ``name`` for ``seed``.  Conversations are made in
    fixed chunks with their own seeded streams, so ``workers`` (worker
    processes) changes only how fast, never what, is generated."""
    if name not in WORKLOADS:
        raise ValueError(f"unknown workload {name!r}; expected one of {WORKLOADS}")
    rng = random.Random(f"{name}/{seed}")
    stats: Dict[str, float] = {}
    pool = selector_pool(random.Random(f"{name}/{seed}/selectors"))
    selectors = [s.css() for s, _ in pool]
    attrs = [a for _, a in pool]
    if name == "chat-turns":
        lengths = [CHAT_LENGTHS[i % len(CHAT_LENGTHS)] for i in range(CHAT_CONVS)]
        rng.shuffle(lengths)
        convs, ref = [], 0
        for c, length in enumerate(lengths):
            convs.append((c, length, ref))
            ref += length
        fn = _chat_chunk
        jobs = [(seed, i, part) for i, part in enumerate(_chunks(convs))]
    else:
        # Re-fetch plan, fixed before the seed shuffles the conversations:
        # two of every five tool turns that have an earlier page in their
        # conversation repeat one of them (None below).
        plans: List[List[bool]] = []
        g = 0
        for i in range(WEB_CONVS):
            flags = []
            for j in range(WEB_TOOL_COUNTS[i % len(WEB_TOOL_COUNTS)]):
                g += 1
                flags.append(j > 0 and g % 5 in (1, 3))
            plans.append(flags)
        rng.shuffle(plans)
        convs, ref, n_unique = [], 0, 0
        for c, flags in enumerate(plans):
            plan: List[Optional[int]] = []
            for refetch in flags:
                plan.append(None if refetch else n_unique)
                n_unique += not refetch
            convs.append((c, plan, ref))
            ref += len(flags) + 2
        sizes = _page_sizes(n_unique, rng)
        stats["page_kb_median"] = sorted(sizes)[n_unique // 2] / 1000
        stats["refetch_share"] = 1 - n_unique / sum(len(f) for f in plans)
        fn = _web_chunk
        jobs = [(seed, i, part, {pid: sizes[pid] for _, plan, _ in part for pid in plan if pid is not None},
                 pool if with_sql else None)
                for i, part in enumerate(_chunks(convs))]
    parts = _pool_map(fn, jobs, workers) if workers > 1 else [fn(j) for j in jobs]
    cols = _new_columns()
    expected: List[str] = []
    expected_sql: Dict[Tuple[str, int], tuple] = {}
    for part_cols, part_exp, part_sql in parts:
        for k in cols:
            cols[k].extend(part_cols[k])
        expected.extend(part_exp)
        expected_sql.update(part_sql)
    return Workload(name, seed, cols, expected, selectors, attrs, expected_sql, stats)
