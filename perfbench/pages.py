"""Page model for the benchmark's generated inputs, with expected outputs.

The generator builds every HTML payload as a small tree of :class:`El`
and :class:`Tx` nodes, serializes it, and computes the values the
program must return for it from the tree itself -- never by running the
program.  The semantics modelled here are the program's documented
contracts for well-formed markup (every element explicitly closed, no
block element inside ``<p>``, no comments, attribute values without
entities or quotes):

* ``extract_main`` (kernel/extract.py): root is the first ``<body>``
  (else the document); subtrees matching the default remove selector
  are dropped; then, in preorder, a block container whose link text
  exceeds half of its text is dropped; surviving text nodes are
  entity-decoded, concatenated and whitespace-collapsed.
* ``to_markdown`` of a whole ``<html>`` document (kernel/markdown.py):
  ``html`` and ``body`` are not block elements, so the document renders
  as one inline run -- links, emphasis, code and images keep their
  Markdown form, ``head``/``script``/``style``/``title`` vanish,
  ``<br>`` becomes a newline, and everything else is a transparent
  wrapper.
* selector matching (kernel/matcher.py): standard CSS over elements,
  sibling relations over element siblings only, ``:nth-child`` never
  matching a child of the document.
"""

from __future__ import annotations

import re
from typing import Dict, List, Optional, Sequence, Tuple

VOID = frozenset(("br", "img", "meta", "input", "hr", "link"))
REMOVE_TAGS = frozenset((
    "script", "style", "title", "textarea", "nav", "header", "footer",
    "aside", "form", "svg",
))
DENSITY_BLOCKS = frozenset(("div", "section", "ul", "ol", "table", "p", "article"))
MD_DROP = frozenset(("script", "style", "template", "head", "title", "noscript"))
MD_BLOCK = frozenset((
    "p", "h1", "h2", "h3", "h4", "h5", "h6", "ul", "ol", "li",
    "blockquote", "pre", "hr", "table", "div", "section", "article",
    "main", "header", "footer", "nav", "aside", "figure", "figcaption",
    "details", "summary", "form", "fieldset", "address", "dl", "dt", "dd",
))
_WS_RUN = re.compile(r"[ \t\n\r\x0c]+")


class Tx:
    """A text node: ``raw`` as written in the page, ``dec`` as decoded."""

    __slots__ = ("raw", "dec")

    def __init__(self, raw: str, dec: Optional[str] = None):
        self.raw = raw
        self.dec = raw if dec is None else dec


class El:
    __slots__ = ("tag", "attrs", "kids", "parent", "prev", "next", "pos", "html")

    def __init__(self, tag: str, attrs: Optional[Dict[str, str]] = None, kids=()):
        self.tag = tag
        self.attrs = attrs or {}
        # The parser yields one text node per run of text, so adjacent
        # text children are one node here too (whitespace trimming in
        # link density is per node).
        self.kids: List = []
        for k in kids:
            if isinstance(k, Tx) and self.kids and isinstance(self.kids[-1], Tx):
                last = self.kids[-1]
                self.kids[-1] = Tx(last.raw + k.raw, last.dec + k.dec)
            else:
                self.kids.append(k)
        self.html: Optional[str] = None    # serialization, once computed
        self.parent: Optional[El] = None   # parent ELEMENT (None under the document)
        self.prev: Optional[El] = None     # previous element sibling
        self.next: Optional[El] = None     # next element sibling
        self.pos = 0                       # 1-based position among element siblings


def collapse(s: str) -> str:
    """HTML whitespace collapse with both ends trimmed (kernel/text.py)."""
    return _WS_RUN.sub(" ", s).strip(" ")


def to_html(nodes: Sequence) -> str:
    out: List[str] = []
    stack = [(n, False) for n in reversed(nodes)]
    while stack:
        n, closing = stack.pop()
        if isinstance(n, Tx):
            out.append(n.raw)
            continue
        if n.html is not None:
            out.append(n.html)
            continue
        if closing:
            out.append(f"</{n.tag}>")
            continue
        attrs = "".join(f' {k}="{v}"' for k, v in n.attrs.items())
        out.append(f"<{n.tag}{attrs}>")
        if n.tag in VOID:
            continue
        stack.append((n, True))
        stack.extend((k, False) for k in reversed(n.kids))
    return "".join(out)


def link(top: Sequence) -> List[El]:
    """Set parent/sibling links; return all elements in preorder."""
    order: List[El] = []

    def walk(kids, parent):
        prev = None
        pos = 0
        for k in kids:
            if not isinstance(k, El):
                continue
            pos += 1
            k.parent, k.prev, k.next, k.pos = parent, prev, None, pos
            if prev is not None:
                prev.next = k
            prev = k
            order.append(k)
            walk(k.kids, k)

    walk(top, None)
    return order


# ---------------------------------------------------------------- extraction

def _text_bytes(t: Tx) -> int:
    return len(t.dec.encode("utf-8").strip(b" \t\n\r\x0c"))


def expected_main_text(top: Sequence, order: List[El]) -> str:
    """``extract_main(...).main_text`` with the pipeline's defaults."""
    root = next((e for e in order if e.tag == "body"), None)
    kids = top if root is None else root.kids

    def lengths(n):
        # (text bytes, link text bytes) of a surviving node
        if isinstance(n, Tx):
            return _text_bytes(n), 0
        if n.tag in REMOVE_TAGS:
            return None
        t = lk = 0
        for k in n.kids:
            r = lengths(k)
            if r is None:
                continue
            t += r[0]
            lk += r[0] if isinstance(k, El) and k.tag == "a" else r[1]
        n_len[id(n)] = (t, lk)
        return t, lk

    n_len: Dict[int, Tuple[int, int]] = {}
    for k in kids:
        lengths(k)

    parts: List[str] = []

    def emit(n):
        if isinstance(n, Tx):
            parts.append(n.dec)
            return
        if n.tag in REMOVE_TAGS:
            return
        t, lk = n_len[id(n)]
        if n.tag in DENSITY_BLOCKS and t > 0 and 2 * lk > t:
            return
        for k in n.kids:
            emit(k)

    for k in kids:
        emit(k)
    return collapse("".join(parts))


# ------------------------------------------------------------------ markdown

def _md(n, out: List[str]) -> None:
    if isinstance(n, Tx):
        out.append(n.dec)
        return
    tag = n.tag
    if tag in MD_DROP:
        return
    if tag == "br":
        out.append("\x00")
    elif tag == "img":
        out.append("![%s](%s)" % (n.attrs.get("alt", ""), n.attrs.get("src", "")))
    elif tag == "a":
        inner: List[str] = []
        for k in n.kids:
            _md(k, inner)
        out.append("[%s](%s)" % ("".join(inner), n.attrs.get("href", "")))
    elif tag in ("b", "strong", "em", "i", "code"):
        marker = "**" if tag in ("b", "strong") else ("*" if tag in ("em", "i") else "`")
        inner = []
        for k in n.kids:
            _md(k, inner)
        body = "".join(inner)
        out.append(marker + body + marker if body else "")
    else:
        for k in n.kids:
            _md(k, out)


def expected_markdown(top: Sequence) -> str:
    """``to_markdown(dom, 0)`` for a document whose top-level nodes are
    all inline (an ``<html>`` element is)."""
    out: List[str] = []
    for n in top:
        if isinstance(n, El) and n.tag in MD_BLOCK:
            raise ValueError("model covers inline top-level documents only")
        _md(n, out)
    text = collapse("".join(out))
    text = text.replace(" \x00", "\x00").replace("\x00 ", "\x00")
    return text.replace("\x00", "\n").strip("\n")


def inner_text(el: El) -> str:
    parts: List[str] = []
    stack = list(reversed(el.kids))
    while stack:
        n = stack.pop()
        if isinstance(n, Tx):
            parts.append(n.dec)
        else:
            stack.extend(reversed(n.kids))
    return collapse("".join(parts))


# ----------------------------------------------------------------- selectors

class Compound:
    """One compound selector: ``tag#id.cls[attr op "v"]:pseudo:not(x)``."""

    __slots__ = ("tag", "id", "classes", "attrs", "pseudos", "nots")

    def __init__(self, tag=None, id=None, classes=(), attrs=(), pseudos=(), nots=()):
        self.tag = tag
        self.id = id
        self.classes = tuple(classes)
        self.attrs = tuple(attrs)      # (name, op, value); op in "" = ^= $= *= ~=
        self.pseudos = tuple(pseudos)  # ("first-child",) | ("last-child",) | ("nth-child", a, b)
        self.nots = tuple(nots)        # Compound with exactly one item

    def css(self) -> str:
        s = self.tag or ""
        if self.id:
            s += "#" + self.id
        s += "".join("." + c for c in self.classes)
        for name, op, value in self.attrs:
            s += f"[{name}]" if op == "" else f'[{name}{op}"{value}"]'
        for p in self.pseudos:
            if p[0] != "nth-child":
                s += ":" + p[0]
            else:
                a, b = p[1], p[2]
                if a == 0:
                    s += f":nth-child({b})"
                else:
                    s += f":nth-child({a}n{'+' if b >= 0 else '-'}{abs(b)})"
        s += "".join(f":not({n.css()})" for n in self.nots)
        return s or "*"

    def matches(self, e: El) -> bool:
        if self.tag is not None and e.tag != self.tag:
            return False
        a = e.attrs
        if self.id is not None and a.get("id") != self.id:
            return False
        if self.classes:
            have = a.get("class", "").split()
            if any(c not in have for c in self.classes):
                return False
        for name, op, value in self.attrs:
            v = a.get(name)
            if v is None:
                return False
            if op == "=" and v != value:
                return False
            if op == "^=" and not v.startswith(value):
                return False
            if op == "$=" and not v.endswith(value):
                return False
            if op == "*=" and value not in v:
                return False
            if op == "~=" and value not in v.split():
                return False
        for p in self.pseudos:
            if p[0] == "first-child" and e.prev is not None:
                return False
            if p[0] == "last-child" and e.next is not None:
                return False
            if p[0] == "nth-child":
                if e.parent is None or not _nth(p[1], p[2], e.pos):
                    return False
        return not any(n.matches(e) for n in self.nots)


def _nth(a: int, b: int, pos: int) -> bool:
    if a == 0:
        return pos == b
    d = pos - b
    return d % a == 0 and d // a >= 0


class Selector:
    """Compounds joined left to right by combinators ``" " > + ~``."""

    def __init__(self, first: Compound, rest: Sequence[Tuple[str, Compound]] = ()):
        self.parts = [(None, first)] + list(rest)

    def css(self) -> str:
        s = self.parts[0][1].css()
        for comb, comp in self.parts[1:]:
            s += " " + comp.css() if comb == " " else f" {comb} {comp.css()}"
        return s

    def _match(self, e: El, i: int) -> bool:
        comb, comp = self.parts[i]
        if not comp.matches(e):
            return False
        if i == 0:
            return True
        if comb == ">":
            return e.parent is not None and self._match(e.parent, i - 1)
        if comb == "+":
            return e.prev is not None and self._match(e.prev, i - 1)
        step = "parent" if comb == " " else "prev"
        o = getattr(e, step)
        while o is not None:
            if self._match(o, i - 1):
                return True
            o = getattr(o, step)
        return False

    def query_all(self, order: List[El]) -> List[El]:
        last = len(self.parts) - 1
        return [e for e in order if self._match(e, last)]
