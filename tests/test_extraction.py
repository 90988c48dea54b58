"""Golden extraction fixtures ported from the reference:
/root/reference/internal/scraper/enhanced_extractor_test.go:13-350.
Same HTML snippets, same field configs, same expected typed values.
"""

import pytest

from datascrapexter_spark.extract.config import FieldConfig
from datascrapexter_spark.extract.fields import (
    ExtractionFailed,
    extract_all,
    extract_field,
)
from datascrapexter_spark.html import parse_html

CASES = [
    # (html, config kwargs, expected)
    ('<div class="price">$19.99</div>',
     dict(name="price", selector=".price", type="number"), 19.99),
    ('<div class="balance">+1500.75</div>',
     dict(name="balance", selector=".balance", type="float"), 1500.75),
    ('<div class="deficit">-250.50</div>',
     dict(name="deficit", selector=".deficit", type="number"), -250.50),
    ('<div class="count">42 items</div>',
     dict(name="count", selector=".count", type="integer"), 42),
    ('<div class="status">Available</div>',
     dict(name="status", selector=".status", type="boolean"), True),
    ('<div class="status">false</div>',
     dict(name="status", selector=".status", type="boolean"), False),
    ('<div class="status">Out of Stock</div>',
     dict(name="status", selector=".status", type="boolean"), False),
    ('<div class="status active"></div>',
     dict(name="status", selector=".status", type="boolean"), True),
    ('<div class="availability">Sold Out</div>',
     dict(name="avail", selector=".availability", type="boolean"), False),
    ('<div class="status">Coming Soon</div>',
     dict(name="status", selector=".status", type="boolean"), False),
    ('<div class="custom">Custom Status Message</div>',
     dict(name="custom", selector=".custom", type="boolean"), True),
    ('<input type="checkbox" disabled>',
     dict(name="cb", selector="input", type="boolean"), False),
    ('<input type="checkbox" checked>',
     dict(name="cb", selector="input", type="boolean"), True),
    ('<time datetime="2023-12-25">December 25, 2023</time>',
     dict(name="date", selector="time", type="date"), "2023-12-25"),
    ('<time datetime="2023-12-25T15:30:00Z">Christmas Day</time>',
     dict(name="dt", selector="time", type="datetime"),
     "2023-12-25T15:30:00Z"),
    ('<a href="https://example.com/page">Link</a>',
     dict(name="url", selector="a", type="url"), "https://example.com/page"),
    ('<img src="https://example.com/image.jpg" alt="Image">',
     dict(name="img", selector="img", type="url"),
     "https://example.com/image.jpg"),
    ('<base href="https://example.com/"><a href="/page">Link</a>',
     dict(name="url", selector="a", type="url"), "https://example.com/page"),
    ('<link rel="canonical" href="https://example.com/current">'
     '<a href="relative/page">Link</a>',
     dict(name="url", selector="a", type="url"),
     "https://example.com/relative/page"),
    ('<div class="contact">Contact us at info@example.com</div>',
     dict(name="email", selector=".contact", type="email"),
     "info@example.com"),
    ('<a href="mailto:support@example.com">Email Us</a>',
     dict(name="email", selector="a", type="email"), "support@example.com"),
    ('<div class="phone">Call us: +1 (555) 123-4567</div>',
     dict(name="phone", selector=".phone", type="phone"), "+15551234567"),
    ('<div class="phone">0123 456 789</div>',
     dict(name="phone", selector=".phone", type="phone"), "0123456789"),
    ('<ul><li>Item 1</li><li>Item 2</li><li>Item 3</li></ul>',
     dict(name="count", selector="li", type="count"), 3),
    ('<div class="warning">Warning message</div>',
     dict(name="exists", selector=".warning", type="exists"), True),
    ('<div class="other">x</div>',
     dict(name="exists", selector=".warning", type="exists"), False),
]


@pytest.mark.parametrize("html,cfg,expected", CASES)
def test_golden_extraction(html, cfg, expected):
    doc = parse_html(html)
    value = extract_field(doc, FieldConfig(**cfg))
    assert value == expected
    assert type(value) is type(expected)


def test_extract_json():
    doc = parse_html(
        '<script type="application/json">{"name": "John", "age": 30}</script>'
    )
    value = extract_field(doc, FieldConfig(name="j", selector="script", type="json"))
    assert value == {"name": "John", "age": 30}


def test_extract_table():
    html = """
        <table>
            <thead>
                <tr><th>Name</th><th>Age</th></tr>
            </thead>
            <tbody>
                <tr><td>John</td><td>30</td></tr>
                <tr><td>Jane</td><td>25</td></tr>
            </tbody>
        </table>
    """
    doc = parse_html(html)
    value = extract_field(doc, FieldConfig(name="t", selector="table", type="table"))
    assert value["headers"] == ["Name", "Age"]
    assert value["count"] == 2
    assert value["rows"] == [
        {"Name": "John", "Age": "30"},
        {"Name": "Jane", "Age": "25"},
    ]


def test_extract_table_no_thead_implied_tbody():
    """net/html inserts an implied tbody around bare <tr> — the reference's
    'tbody tr' selectors rely on it (extractor.go:692-707)."""
    html = "<table><tr><th>H1</th></tr><tr><td>v1</td></tr></table>"
    doc = parse_html(html)
    value = extract_field(doc, FieldConfig(name="t", selector="table", type="table"))
    assert value["headers"] == ["H1"]
    assert value["rows"] == [{"H1": "v1"}]


def test_list_extraction():
    doc = parse_html("<ul><li> a </li><li>b</li></ul>")
    value = extract_field(doc, FieldConfig(name="l", selector="li", type="list"))
    assert value == ["a", "b"]


def test_text_trimmed():
    doc = parse_html('<h1>  Test Page Title </h1>')
    assert extract_field(doc, FieldConfig(name="t", selector="h1")) == "Test Page Title"


def test_required_missing_raises():
    doc = parse_html("<div>x</div>")
    with pytest.raises(ExtractionFailed):
        extract_field(doc, FieldConfig(name="m", selector=".nope", required=True))


def test_default_value_on_missing():
    doc = parse_html("<div>x</div>")
    assert extract_field(doc, FieldConfig(name="m", selector=".nope", type="text")) == ""
    assert extract_field(
        doc, FieldConfig(name="m", selector=".nope", type="integer")
    ) == 0
    assert extract_field(
        doc, FieldConfig(name="m", selector=".nope", type="text", default="dflt")
    ) == "dflt"


def test_transform_applied_after_extraction():
    """test_utils.go:91-127 config: price regex $([0-9,]+\\.?[0-9]*) -> $1."""
    doc = parse_html('<span class="price">$99.99</span>')
    cfg = FieldConfig(
        name="price", selector=".price", type="text",
        transform=[
            {"type": "regex", "pattern": r"\$([0-9,]+\.?[0-9]*)",
             "replacement": "$1"},
        ],
    )
    assert extract_field(doc, cfg) == "99.99"


def test_extract_all_error_tracking():
    doc = parse_html("<div class='a'>ok</div>")
    fields = [
        FieldConfig(name="good", selector=".a"),
        FieldConfig(name="bad", selector=".missing", required=True),
        FieldConfig(name="after", selector=".a"),
    ]
    data, errors, success = extract_all(doc, fields, continue_on_error=True)
    assert data["good"] == "ok" and data["after"] == "ok"
    assert len(errors) == 1 and errors[0].severity == "CRITICAL"
    assert success is False

    data2, errors2, _ = extract_all(doc, fields, continue_on_error=False)
    assert "after" not in data2  # chain stopped at the failure


def test_jsonld_extraction():
    """`type: jsonld` parses ld+json script blocks (implicit selector):
    one block -> its tree, several -> a list, malformed -> error."""
    one = parse_html(
        '<html><head><script type="application/ld+json">'
        '{"@type": "Product", "name": "Widget", "offers": {"price": 9.5}}'
        "</script></head><body><p>x</p></body></html>"
    )
    cfg = FieldConfig(name="ld", selector="", type="jsonld")
    assert extract_field(one, cfg) == {
        "@type": "Product", "name": "Widget", "offers": {"price": 9.5}}

    two = parse_html(
        '<script type="application/ld+json">{"@type": "Organization"}'
        '</script><script type="application/ld+json">{"@type": "Product"}'
        "</script>"
    )
    assert extract_field(two, cfg) == [
        {"@type": "Organization"}, {"@type": "Product"}]

    # plain <script> blocks are NOT structured data
    none = parse_html("<script>var x = 1;</script><p>y</p>")
    assert extract_field(none, cfg) == {}  # default: no match

    import pytest as _pytest

    from datascrapexter_spark.extract.fields import ExtractionFailed

    bad = parse_html(
        '<script type="application/ld+json">{nope}</script>')
    with _pytest.raises(ExtractionFailed, match="JSON-LD"):
        extract_field(bad, cfg)


def test_microdata_extraction():
    """`type: microdata` walks itemscope/itemprop trees: value-attr table
    per tag, nested itemscope -> nested item, multiple top-level items ->
    list, multi-name itemprop fans out."""
    doc = parse_html(
        '<div itemscope itemtype="https://schema.org/Product">'
        '<span itemprop="name">Widget</span>'
        '<img itemprop="image" src="/w.jpg">'
        '<a itemprop="url" href="/w">link</a>'
        '<time itemprop="released" datetime="2024-01-02">Jan 2</time>'
        '<div itemprop="offers" itemscope itemtype="https://schema.org/Offer">'
        '<meta itemprop="price" content="9.99"></div></div>'
    )
    cfg = FieldConfig(name="md", selector="", type="microdata")
    got = extract_field(doc, cfg)
    assert got == {
        "type": "https://schema.org/Product",
        "properties": {
            "image": ["/w.jpg"],
            "name": ["Widget"],
            "offers": [{
                "type": "https://schema.org/Offer",
                "properties": {"price": ["9.99"]},
            }],
            "released": ["2024-01-02"],
            "url": ["/w"],
        },
    }

    two = parse_html(
        '<div itemscope><b itemprop="a">1</b></div>'
        '<div itemscope><b itemprop="a b">2</b></div>'
    )
    got2 = extract_field(two, cfg)
    assert isinstance(got2, list) and len(got2) == 2
    assert got2[1]["properties"] == {"a": ["2"], "b": ["2"]}

    # no itemscope anywhere -> default
    assert extract_field(parse_html("<p>x</p>"), cfg) == {}


def test_rdfa_extraction():
    """`type: rdfa` (RDFa Lite): vocab inheritance, typeof items,
    content-attr precedence, nested typeof+property items."""
    doc = parse_html(
        '<body vocab="https://schema.org/">'
        '<div typeof="Product"><span property="name">Widget</span>'
        '<a property="url" href="/w">x</a>'
        '<span property="offers" typeof="Offer">'
        '<meta property="price" content="9.99"></span></div></body>'
    )
    cfg = FieldConfig(name="rd", selector="", type="rdfa")
    got = extract_field(doc, cfg)
    assert got == {
        "type": "Product",
        "vocab": "https://schema.org/",
        "properties": {
            "name": ["Widget"],
            "offers": [{
                "type": "Offer",
                "vocab": "https://schema.org/",
                "properties": {"price": ["9.99"]},
            }],
            "url": ["/w"],
        },
    }
    assert extract_field(parse_html("<p>x</p>"), cfg) == {}


def test_media_extraction():
    """`type: media`: img/video/audio/source to uniform maps."""
    doc = parse_html(
        '<img src="/a.jpg" alt="A"><video src="/b.mp4" poster="/b.jpg">'
        "</video><audio src=\"/c.ogg\"></audio><p>text</p>"
    )
    cfg = FieldConfig(name="m", selector="", type="media")
    got = extract_field(doc, cfg)
    assert got == [
        {"kind": "img", "src": "/a.jpg", "alt": "A"},
        {"kind": "video", "src": "/b.mp4", "poster": "/b.jpg"},
        {"kind": "audio", "src": "/c.ogg"},
    ]
    assert extract_field(parse_html("<p>x</p>"), cfg) == []


def test_social_meta_extraction():
    """`type: social_meta`: og:/twitter: metas to a first-wins map."""
    doc = parse_html(
        '<html><head>'
        '<meta property="og:title" content="First"/>'
        '<meta property="og:title" content="Second"/>'
        '<meta property="og:image" content="/img.png"/>'
        '<meta name="twitter:card" content="summary"/>'
        '<meta name="description" content="not social"/>'
        '</head><body><p>x</p></body></html>')
    cfg = FieldConfig(name="sm", selector="", type="social_meta")
    got = extract_field(doc, cfg)
    assert got == {"og:title": "First",          # first tag wins
                   "og:image": "/img.png",
                   "twitter:card": "summary"}    # plain metas excluded
    # no social metas at all -> zero value {}
    assert extract_field(parse_html("<p>x</p>"), cfg) == {}
    # explicit selector overrides the default prefix selector
    scoped = FieldConfig(name="sm", selector='meta[name^="twitter:"]',
                         type="social_meta")
    assert extract_field(doc, scoped) == {"twitter:card": "summary"}


def test_outline_field_type(spark):
    """`type: outline` — h1-h6 in document order, level+text rows; scoped
    selector overrides the default; heading-free page yields []."""
    from datascrapexter_spark.extract.config import FieldConfig
    from datascrapexter_spark.extract.engine import extract_fields_df

    html1 = ("<html><body><h1>Top</h1><p>x</p><h2> Sub  One </h2>"
             "<div><h3>Deep</h3></div><h2>Sub Two</h2></body></html>")
    html2 = "<html><body><p>no headings at all</p></body></html>"
    pages = spark.createDataFrame(
        [(1, html1), (2, html2)], "doc_id long, html string")
    out = extract_fields_df(
        pages, [FieldConfig(name="toc", selector="", type="outline")])
    rows = {r["doc_id"]: r["toc"] for r in out.collect()}
    assert [(h["level"], h["text"]) for h in rows[1]] == [
        ("1", "Top"), ("2", "Sub  One"), ("3", "Deep"), ("2", "Sub Two")]
    assert rows[2] == []

    scoped = extract_fields_df(
        pages, [FieldConfig(name="toc", selector="div h3", type="outline")])
    srows = {r["doc_id"]: r["toc"] for r in scoped.collect()}
    assert [(h["level"], h["text"]) for h in srows[1]] == [("3", "Deep")]


def test_passthrough_columns_keep_values_nan_becomes_null(spark):
    """Input columns other than html pass through the extraction batch
    unchanged, except that a floating NaN comes out NULL, as the number
    cells do."""
    from datascrapexter_spark.extract.config import FieldConfig
    from datascrapexter_spark.extract.engine import extract_fields_df

    pages = spark.createDataFrame(
        [(1, float("nan"), ["a"], "<p>x</p>"), (2, 1.5, None, "<p>y</p>"),
         (3, None, [], None)],
        "doc_id long, score double, tags array<string>, html string")
    out = extract_fields_df(pages, [FieldConfig(name="p", selector="p")])
    assert out.columns == ["doc_id", "score", "tags", "p", "_errors",
                           "_success"]
    rows = sorted(tuple(r)[:4] for r in out.collect())
    assert rows == [(1, None, ["a"], "x"), (2, 1.5, None, "y"), (3, None, [], "")]
