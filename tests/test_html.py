"""DOM + CSS selector engine tests, including the canonical fixture page
from /root/reference/test/utils/test_utils.go:49-66 (CreateBasicHTML)."""

from datascrapexter_spark.html import parse_html, select, matches

# test_utils.go:49-66, verbatim structure
BASIC_HTML = """
<html>
<head><title>Test Page</title></head>
<body>
    <h1>Test Page Title</h1>
    <div class="description">This is a test page description</div>
    <span class="price">$99.99</span>
    <div class="rating">4.5 stars</div>
    <ul class="items">
        <li>Item 1</li>
        <li>Item 2</li>
        <li>Item 3</li>
    </ul>
</body>
</html>
"""


def test_basic_selectors():
    doc = parse_html(BASIC_HTML)
    assert select(doc, "h1")[0].text() == "Test Page Title"
    assert select(doc, ".description")[0].text() == "This is a test page description"
    assert select(doc, ".price")[0].text() == "$99.99"
    assert select(doc, "title")[0].text() == "Test Page"
    items = select(doc, "ul.items li")
    assert [n.text() for n in items] == ["Item 1", "Item 2", "Item 3"]


def test_id_and_attr_selectors():
    doc = parse_html(
        '<div id="main"><a href="/x" rel="nofollow">A</a>'
        '<a href="/y">B</a><a>C</a></div>'
    )
    assert len(select(doc, "#main")) == 1
    assert [n.text() for n in select(doc, "a[href]")] == ["A", "B"]
    assert [n.text() for n in select(doc, 'a[rel="nofollow"]')] == ["A"]
    assert [n.text() for n in select(doc, "a[rel='nofollow']")] == ["A"]


def test_child_vs_descendant():
    doc = parse_html("<div><p>direct</p><section><p>nested</p></section></div>")
    assert len(select(doc, "div p")) == 2
    assert [n.text() for n in select(doc, "div > p")] == ["direct"]


def test_comma_groups_document_order():
    doc = parse_html("<table><tr><th>h</th><td>d</td></tr></table>")
    cells = select(doc, "td, th")
    assert [n.text() for n in cells] == ["h", "d"]  # document order


def test_first_child_pseudo():
    doc = parse_html("<ul><li>one</li><li>two</li></ul>")
    assert [n.text() for n in select(doc, "li:first-child")] == ["one"]


def test_implied_tbody():
    doc = parse_html("<table><tr><td>x</td></tr></table>")
    assert len(select(doc, "tbody")) == 1
    assert select(doc, "tbody tr td")[0].text() == "x"
    # a self-closed row is appended as it is, with no tbody
    doc = parse_html("<table><tr/><td>y</td></table>")
    assert [n.tag for n in select(doc, "table")[0].children] == ["tr", "td"]


def test_auto_close_li():
    doc = parse_html("<ul><li>a<li>b<li>c</ul>")
    assert [n.text() for n in select(doc, "li")] == ["a", "b", "c"]


def test_void_elements():
    doc = parse_html('<div><br><img src="x.png">text</div>')
    div = select(doc, "div")[0]
    assert div.text() == "text"
    assert select(doc, "img")[0].attr("src") == "x.png"


def test_entities_decoded_in_text():
    doc = parse_html("<p>a &amp; b &lt;c&gt;</p>")
    assert select(doc, "p")[0].text() == "a & b <c>"


def test_inner_html_escaping():
    doc = parse_html("<div><b>bold &amp; strong</b></div>")
    assert select(doc, "div")[0].inner_html() == "<b>bold &amp; strong</b>"


def test_matches_filter_semantics():
    doc = parse_html("<table class='t'><tr><td>x</td></tr></table>")
    table = select(doc, "table")[0]
    assert matches(table, "table")
    assert matches(table, ".t")
    assert not matches(table, "td")


def test_script_content_preserved():
    doc = parse_html('<script type="application/ld+json">{"a": 1}</script>')
    assert select(doc, "script")[0].text() == '{"a": 1}'


def test_class_multi():
    doc = parse_html('<div class="a b c">x</div>')
    assert len(select(doc, ".b")) == 1
    assert len(select(doc, "div.a.c")) == 1
    assert select(doc, "div")[0].has_class("b")


# -- indexed select vs a plain walk ------------------------------------------

PARITY_HTML = """
<html><head><title>T</title><base href="/b/"></head>
<body id="main">
  <div class="a c"><p>one</p><div class="b"><p class="x">two</p>
    <span data-k="abc">s</span></div><p>three</p></div>
  <ul class="outer"><li>a</li><li class="x">b<ul><li>b1</li><li>b2</li>
    </ul></li><li>c</li></ul>
  <table class="t1"><tr><th>h1</th><th>h2</th></tr>
    <tr><td>1</td><td>2</td></tr><tr><td>3</td><td>4</td></tr></table>
  <table class="t2"><thead><tr><th>k</th></tr></thead>
    <tbody><tr><td>v</td></tr></tbody>
    <tr><td>stray</td></tr></table>
  <a href="/x" rel="nofollow">A</a><a href="/y">B</a><a>no href</a>
  <div><div><p>deep</p></div></div>
</body></html>
"""

PARITY_SELECTORS = [
    "p", "li", "td", "a", "*", "nosuch",
    ".x", ".b", "div.a.c", "[href]", "a[href]", "a[rel='nofollow']",
    "[data-k^=ab]", "#main", "#main p",
    "div p", "ul li", "ul.outer li", "ul li ul li", "div > p",
    "ul > li", "body > div > p", "div div p", "table tr td", "div nosuch",
    "td, th", "h1, .x, li", "p, div p", "thead tr th, tbody tr:first-child "
    "th, tr:first-child th", "tbody tr, tr",
    "li:first-child", "tr:first-child th", "li:nth-child(2)",
    "ul li:nth-child(3)", "tr:last-child td",
    "tbody", "tbody tr", "table > tbody > tr", "tbody tr td",
]


def _walk_matches(node, seq, root) -> bool:
    """Right-to-left match of one combinator sequence, every ancestor
    strictly inside `root`."""
    combinator, compound = seq[-1]
    if not compound.matches(node):
        return False
    if len(seq) == 1:
        return True
    parent = node.parent
    if combinator == "child":
        return (parent is not None and parent is not root
                and _walk_matches(parent, seq[:-1], root))
    while parent is not None and parent is not root:
        if _walk_matches(parent, seq[:-1], root):
            return True
        parent = parent.parent
    return False


def _walk_select(root, selector):
    """Oracle: a plain document-order walk of `root`'s subtree, no index."""
    from datascrapexter_spark.html.css import parse_selector

    groups = parse_selector(selector)
    return [n for n in root.iter_elements()
            if any(_walk_matches(n, seq, root) for seq in groups)]


def _parity_docs():
    from tests.webgen import make_web

    pages, _, _ = make_web(n_hosts=2, pages_per_host=4)
    return [PARITY_HTML, BASIC_HTML] + [html for _, _, html, _, _ in pages]


def test_indexed_select_matches_walk_on_document_and_subtree_roots():
    import random

    rng = random.Random(7)
    fuzzed = [_fuzz_doc(rng, odd=False) for _ in range(100)]
    for html in _parity_docs() + fuzzed:
        doc = parse_html(html)
        for sel in PARITY_SELECTORS:
            for root in [doc, *doc.iter_elements()]:
                got = select(root, sel)
                assert [id(n) for n in got] == \
                    [id(n) for n in _walk_select(root, sel)], (sel, root)
        assert doc.doc_index() is doc.doc_index()   # built once, cached
    # implied tbody: one for the bare rows of t1, a second for t2's stray row
    doc = parse_html(PARITY_HTML)
    assert [n.text() for n in select(doc, "table.t1 > tbody > tr > td")] \
        == ["1", "2", "3", "4"]
    assert len(select(doc, "table.t2 > tbody")) == 2


def test_extract_links_df_matches_walk_select(spark, monkeypatch):
    from datascrapexter_spark.frontier import links
    from tests.webgen import make_web

    pages, _, _ = make_web(n_hosts=3, pages_per_host=6)
    df = spark.createDataFrame([(u, h) for u, _, h, _, _ in pages],
                               "url_canon string, html binary")
    got = sorted((r[0], r[1]) for r in links.extract_links_df(df).collect())
    monkeypatch.setattr(links, "select", _walk_select)
    want = sorted((u, o) for u, _, h, _, _ in pages
                  for o in links.extract_links_py(h, u))
    assert got == want and got


# -- one-pass builder vs html.parser ----------------------------------------

_FUZZ_TAGS = ["div", "p", "span", "a", "ul", "li", "table", "tr", "td", "th",
              "tbody", "thead", "tfoot", "br", "img", "input", "hr", "option",
              "dt", "dd", "b", "h1", "section", "DIV", "Table", "TR", "Li"]
_FUZZ_TEXT = ["hello", " ", "\n  ", "a & b", "&amp;", "&lt;x&gt;", "&#39;",
              "&#x41;", "&nbsp;", "&nbsp", "&bogus;", "&", ">", "café",
              " ", "x=1", "'q'", '"dq"', "&#0;", "1 &lt 2"]
_FUZZ_VALUES = ["x", "a b", "", "&amp;", "/p/1", "a>b", "&#39;s", "x/",
                "&quot;", "http://h/?a=1&b=2", "café", "a\nb"]
# constructs the one-pass grammar leaves to html.parser
_FUZZ_ODD = ["<", "a < b", "<?xml version='1.0'?>", "<![CDATA[x<y]]>",
             "<!x>", "</>", "</ 3>", "< p>", '<a x="1"y="2">', "<a x==y>",
             "<a\x0bb>", "<a/ >", "<div class=\"open", "<p", "</div foo>",
             "<a x= >", "<a  x>", "<!-->", "<!--->", "&#", "<3",
             "<span x=a\"b>", "<img src='x'/ alt>"]


def _fuzz_attrs(rng) -> str:
    out = []
    for _ in range(rng.randrange(4)):
        name = rng.choice(["class", "id", "href", "data-x", "CLASS", "title",
                           "x", "Id", "aria-label"])
        value = rng.choice(_FUZZ_VALUES)
        form = rng.randrange(5)
        ws = rng.choice([" ", "  ", "\n", "\t"])
        if form == 0:
            out.append(f'{ws}{name}="{value}"')
        elif form == 1:
            out.append(f"{ws}{name}='{value}'")
        elif form == 2 and value and not any(c in value for c in " \n'\"=<>`"):
            out.append(f"{ws}{name}={value}")
        elif form == 3:
            out.append(f'{ws}{name} = "{value}"')
        else:
            out.append(f"{ws}{name}")
    return "".join(out)


def _fuzz_raw(rng, tag: str) -> str:
    body = "".join(rng.choice(["if (a < b) {}", "x = '</scr' + 'ipt>';",
                               "<b>not a tag</b>", "&amp;", "</scripty>",
                               "a</style x>", " ", "\n", "<!-- c -->",
                               "</\u017fcript>", "</\u017ftyle>"])
                   for _ in range(rng.randrange(4)))
    close = rng.choice([f"</{tag}>", f"</{tag.upper()}>", f"</{tag} >",
                        f"</ {tag}>"])
    return f"<{tag}{_fuzz_attrs(rng)}>{body}{close}"


def _fuzz_doc(rng, odd: bool) -> str:
    parts = []
    if rng.random() < 0.3:
        parts.append(rng.choice(["<!DOCTYPE html>", "<!doctype html>\n"]))
    for _ in range(rng.randrange(1, 40)):
        r = rng.random()
        if r < 0.35:
            tag = rng.choice(_FUZZ_TAGS)
            end = rng.choice([">", ">", ">", "/>", " />", "\n>"])
            parts.append(f"<{tag}{_fuzz_attrs(rng)}{end}")
        elif r < 0.6:
            parts.append(rng.choice(["</", "</", "</ "])
                         + rng.choice(_FUZZ_TAGS)
                         + rng.choice([">", ">", " >"]))
        elif r < 0.85:
            parts.append(rng.choice(_FUZZ_TEXT))
        elif r < 0.92:
            parts.append(rng.choice(["<!-- c -->", "<!---->", "<!-- a -- b -->",
                                     "<!--<p>-->", "<!-- x --\n>"]))
        else:
            parts.append(_fuzz_raw(rng, rng.choice(["script", "style"])))
    if odd:
        parts.insert(rng.randrange(len(parts) + 1), rng.choice(_FUZZ_ODD))
    return "".join(parts)


def _shape(node):
    if node.is_text:
        return node.text_data
    return (node.tag, list(node.attrs.items()),
            [_shape(c) for c in node.children])


def _index_shape(root):
    index = root.doc_index()
    assert index.elements == list(root.iter_elements())
    return ([(n.tag, n._pos, n._end) for n in index.elements],
            {t: [n._pos for n in b] for t, b in index.by_tag.items()},
            index.tag_pos)


def test_one_pass_builder_matches_html_parser_fuzz():
    """Seeded documents: where the one-pass builder takes a document, its
    tree and its index equal html.parser's tree and a walked index."""
    import random

    from datascrapexter_spark.html import dom

    rng = random.Random(20261018)
    n_fast = n_docs = 0
    for k in range(6000):
        html = _fuzz_doc(rng, odd=k % 3 == 0)
        builder = dom._TreeBuilder()
        builder.feed(html)
        builder.close()
        want = builder.tree.finish()
        recorded = _index_shape(want)       # recorded by the fallback's pass
        want._index = dom.DocIndex.walk(want)
        assert _index_shape(want) == recorded, html
        got = dom._build_one_pass(html)
        n_docs += 1
        if got is None:
            continue
        n_fast += 1
        assert _shape(got) == _shape(want), html
        assert _index_shape(got) == _index_shape(want), html
    # both paths get real coverage
    assert 0.3 < n_fast / n_docs < 0.95, (n_fast, n_docs)


def test_one_pass_builder_takes_real_pages():
    from datascrapexter_spark.html import dom
    from tests.webgen import make_web

    pages, _, _ = make_web(n_hosts=2, pages_per_host=4)
    docs = [PARITY_HTML, BASIC_HTML] + [h.decode() for _, _, h, _, _ in pages]
    for html in docs:
        assert dom._build_one_pass(html) is not None
    for html in ["a < b", "<?xml?><p>x</p>", "<script>never closed"]:
        assert dom._build_one_pass(html) is None
        assert dom.build_stdlib_tree(html).doc_index() is not None
