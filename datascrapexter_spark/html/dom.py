"""Lightweight HTML DOM on the stdlib parser.

The sandbox has no lxml/selectolax/bs4, so this module supplies the DOM the
extraction engine parses inside its Arrow-batch UDFs (one parser per batch
loop iteration; construction cost is amortized by Arrow batching, and the
tree is plain Python objects — cheap to build, no FFI).

Behavior intentionally mirrors the parts of Go's x/net/html tree builder the
reference relies on (via goquery — /root/reference/internal/scraper/
engine.go:512-517 parses with goquery.NewDocumentFromReader):

- text nodes have entities decoded (HTMLParser convert_charrefs=True);
- void elements never take children;
- <li>/<p>/<td>/<th>/<tr>/<option>/<dt>/<dd> auto-close their predecessor;
- bare <tr>/<td> rows directly inside <table> get an implied <tbody>
  (extractor.go:664-737's "tbody tr" selectors depend on this);
- `.text()` concatenates all descendant text verbatim (goquery .Text());
- `.inner_html()` re-serializes children with net/html's escaping
  (&amp; &#39; &lt; &gt; &#34; in text; same set in attribute values).

A parsed document does not change after `parse_html` returns: nothing in
the package appends to, removes from or re-parents a parsed tree. The
selector engine relies on this: a parentless root caches its `DocIndex`
(document order + tag buckets) on first use and never rebuilds it.
"""

from __future__ import annotations

from html.parser import HTMLParser

VOID_ELEMENTS = frozenset(
    {"area", "base", "br", "col", "embed", "hr", "img", "input", "link",
     "meta", "param", "source", "track", "wbr"}
)

# tag -> set of open tags it implicitly closes when it appears as a sibling
_AUTO_CLOSE = {
    "li": {"li"},
    "p": {"p"},
    "td": {"td", "th"},
    "th": {"td", "th"},
    "tr": {"tr", "td", "th"},
    "option": {"option"},
    "dt": {"dt", "dd"},
    "dd": {"dt", "dd"},
    "thead": {"tr", "td", "th"},
    "tbody": {"tr", "td", "th", "thead"},
    "tfoot": {"tr", "td", "th", "tbody"},
}


class Node:
    __slots__ = ("tag", "attrs", "children", "parent", "text_data", "_index")

    def __init__(self, tag: str | None, attrs: dict | None = None,
                 text_data: str | None = None):
        self.tag = tag            # None for text nodes
        self.attrs = attrs or {}
        self.children: list[Node] = []
        self.parent: Node | None = None
        self.text_data = text_data
        self._index: DocIndex | None = None

    @property
    def is_text(self) -> bool:
        return self.tag is None

    def append(self, child: "Node") -> None:
        child.parent = self
        self.children.append(child)

    # -- goquery-compatible accessors ------------------------------------

    def text(self) -> str:
        """All descendant text, concatenated (goquery Selection.Text())."""
        out: list[str] = []
        stack = [self]
        while stack:
            n = stack.pop()
            if n.is_text:
                out.append(n.text_data)
            else:
                stack.extend(reversed(n.children))
        return "".join(out)

    def attr(self, name: str) -> str | None:
        return self.attrs.get(name.lower())

    def has_class(self, cls: str) -> bool:
        classes = self.attrs.get("class")
        return bool(classes) and cls in classes.split()

    def iter_elements(self):
        """All element descendants in document order (excluding self)."""
        stack = list(reversed(self.children))
        while stack:
            n = stack.pop()
            if not n.is_text:
                yield n
                stack.extend(reversed(n.children))

    def doc_index(self) -> "DocIndex":
        """The element index of this document; built on first use and
        cached, so only valid on a parentless root of a finished tree."""
        if self._index is None:
            self._index = DocIndex(self)
        return self._index

    def element_children(self) -> list["Node"]:
        return [c for c in self.children if not c.is_text]

    def inner_html(self) -> str:
        return "".join(_render(c) for c in self.children)

    def outer_html(self) -> str:
        return _render(self)

    def __repr__(self) -> str:  # pragma: no cover
        if self.is_text:
            return f"Text({self.text_data!r})"
        return f"<{self.tag} {self.attrs}>"


class DocIndex:
    """A document's elements in document order, tag -> elements (document
    order within a tag), and each element's position by id (built on the
    first document-order sort)."""

    __slots__ = ("elements", "by_tag", "_pos")

    def __init__(self, root: Node):
        self.elements = list(root.iter_elements())
        by_tag: dict[str, list[Node]] = {}
        for n in self.elements:
            by_tag.setdefault(n.tag, []).append(n)
        self.by_tag = by_tag
        self._pos: dict[int, int] | None = None

    @property
    def pos(self) -> dict[int, int]:
        if self._pos is None:
            self._pos = {id(n): i for i, n in enumerate(self.elements)}
        return self._pos


def _escape_text(s: str) -> str:
    """net/html escape set: & ' < > \" (in this replacement order)."""
    return (s.replace("&", "&amp;").replace("'", "&#39;")
             .replace("<", "&lt;").replace(">", "&gt;")
             .replace('"', "&#34;"))


def _render(n: Node) -> str:
    if n.is_text:
        return _escape_text(n.text_data)
    attrs = "".join(
        f' {k}="{_escape_text(v)}"' for k, v in n.attrs.items()
    )
    if n.tag in VOID_ELEMENTS:
        return f"<{n.tag}{attrs}/>"
    inner = "".join(_render(c) for c in n.children)
    return f"<{n.tag}{attrs}>{inner}</{n.tag}>"


_RAWTEXT = frozenset({"script", "style"})


class _TreeBuilder(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = Node("#document")
        self.stack = [self.root]

    # -- helpers ----------------------------------------------------------

    def _top(self) -> Node:
        return self.stack[-1]

    def _auto_close(self, tag: str) -> None:
        closers = _AUTO_CLOSE.get(tag)
        if not closers:
            return
        while len(self.stack) > 1 and self._top().tag in closers:
            self.stack.pop()

    # -- parser callbacks ---------------------------------------------------

    def handle_starttag(self, tag, attrs):
        self._auto_close(tag)
        parent = self._top()
        # implied tbody: <tr> directly inside <table>
        if tag == "tr" and parent.tag == "table":
            tbody = Node("tbody")
            parent.append(tbody)
            self.stack.append(tbody)
            parent = tbody
        node = Node(tag, {k.lower(): (v if v is not None else "") for k, v in attrs})
        parent.append(node)
        if tag not in VOID_ELEMENTS:
            self.stack.append(node)

    def handle_startendtag(self, tag, attrs):
        self._auto_close(tag)
        parent = self._top()
        node = Node(tag, {k.lower(): (v if v is not None else "") for k, v in attrs})
        parent.append(node)

    def handle_endtag(self, tag):
        if tag in VOID_ELEMENTS:
            return
        # find matching open tag; pop through implied-closed elements
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                return
        # stray end tag: ignore (matches net/html recovery for simple cases)

    def handle_data(self, data):
        if data:
            self._top().append(Node(None, text_data=data))


def build_stdlib_tree(html: str) -> Node:
    """The stdlib tree build — the always-available parity backend."""
    builder = _TreeBuilder()
    builder.feed(html)
    builder.close()
    return builder.root


def parse_html(html: str | bytes, backend: str | None = None) -> Node:
    """Parse HTML into a document Node via the active parser backend
    (backends.py: selectolax/lxml when importable — the 100-TB hot path —
    else this module's stdlib builder; same Node contract either way)."""
    if isinstance(html, (bytes, bytearray)):
        html = bytes(html).decode("utf-8", errors="replace")
    from .backends import get_parser  # deferred: backends imports Node

    return get_parser(backend)(html)
