"""Tests of the benchmark itself (no Spark):

    python3 -m pytest perfbench/test_perfbench.py -q

from the repository root.
"""

import hashlib
import os

import pyarrow as pa
import pytest

import gen
import run
from check import count_failed, main_text_failures, sql_failures


@pytest.fixture
def small(monkeypatch):
    monkeypatch.setattr(gen, "CHAT_CONVS", 24)
    monkeypatch.setattr(gen, "WEB_CONVS", 6)


def _digest(path):
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            h.update(name.encode() + f.read())
    return h.hexdigest()


@pytest.mark.parametrize("name", gen.WORKLOADS)
def test_same_seed_gives_byte_identical_tables(small, tmp_path, name):
    a = gen.generate(name, 7)
    b = gen.generate(name, 7, workers=2)
    assert a.columns == b.columns and a.expected_main == b.expected_main
    run.write_input(a, str(tmp_path / "a"))
    run.write_input(b, str(tmp_path / "b"))
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert gen.generate(name, 8).columns["text"] != a.columns["text"]


def test_workload_properties(small):
    chat = gen.generate("chat-turns", 3)
    assert len(set(chat.columns["text"])) == chat.n_turns
    tool = [t for t, r in zip(chat.columns["text"], chat.columns["role"]) if r == "tool"]
    assert abs(len(tool) / chat.n_turns - 1 / 3) < 0.05
    web = gen.generate("web-pages", 3)
    assert 0.2 < web.stats["refetch_share"] < 0.4
    pages = [t for t, r in zip(web.columns["text"], web.columns["role"]) if r == "tool"]
    assert len(set(pages)) < len(pages)
    assert len(web.selectors) == gen.N_SELECTORS


@pytest.mark.parametrize("name", gen.WORKLOADS)
def test_expected_outputs_match_the_kernel(small, name):
    from html_parser_spark.kernel.attrs import get_attr
    from html_parser_spark.kernel.extract import extract_main
    from html_parser_spark.kernel.htmlparse import parse
    from html_parser_spark.kernel.markdown import to_markdown
    from html_parser_spark.kernel.matcher import query_all, query_one
    from html_parser_spark.kernel.selector import compile_selector
    from html_parser_spark.kernel.text import inner_text

    w = gen.generate(name, 11, with_sql=True)
    for text, want in zip(w.columns["text"], w.expected_main):
        assert extract_main(text.encode("utf-8")).main_text == want
    sels = [compile_selector(s) for s in w.selectors]
    for (conv, turn), want in w.expected_sql.items():
        i = next(k for k, (c, t) in enumerate(zip(w.columns["conv_id"], w.columns["turn_idx"]))
                 if (c, t) == (conv, turn))
        k = gen.selector_index(conv, turn, len(sels))
        dom = parse(w.columns["text"][i].encode("utf-8"))
        first = query_one(dom, sels[k])
        attr = None if first is None else get_attr(dom, first, w.selector_attrs[k])
        got = (len(query_all(dom, sels[k])),
               None if first is None else inner_text(dom, first, True).decode("utf-8"),
               None if attr is None else attr.decode("utf-8"),
               to_markdown(dom, 0))
        assert got == want, (w.selectors[k], w.selector_attrs[k])
    assert (name == "web-pages") == bool(w.expected_sql)


def test_check_catches_a_planted_wrong_row():
    expected = {("c1", 0): "a", ("c1", 1): "b", ("c2", 0): "c"}
    good = list(expected.items())
    assert count_failed(expected, good) == 0
    assert count_failed(expected, good[:2] + [(("c2", 0), "x")]) == 1        # wrong value
    assert count_failed(expected, good[:2] + [(("c2", 0), None)]) == 1       # null result
    assert count_failed(expected, good[:2]) == 1                             # missing turn
    assert count_failed(expected, good + [good[0]]) == 1                     # duplicated turn
    assert count_failed(expected, good + [(("c9", 0), "a")]) == 1            # unexpected turn

    table = pa.table({"conv_id": ["c1", "c1", "c2"], "turn_idx": [0, 1, 0],
                      "main_text": ["a", "B", "c"]})
    assert main_text_failures(expected, table) == 1

    sql = {("c1", 2): (3, "t", None, "md")}
    table = pa.table({"conv_id": ["c1"], "turn_idx": [2], "n_match": [3], "first_text": ["t"],
                      "first_attr": [None], "md": ["md"]})
    assert sql_failures(sql, table) == 0
    assert sql_failures(sql, table.set_column(2, "n_match", pa.array([4]))) == 1
