"""Lightweight HTML DOM on the stdlib.

This module is the package's only HTML parser, so every selector reads one
tree whatever else is installed. The extraction engine parses with it
inside its Arrow-batch UDFs (one parser per batch loop iteration;
construction cost is amortized by Arrow batching, and the tree is plain
Python objects — cheap to build, no FFI).

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

Two builders make the same tree. `build_stdlib_tree` first runs a one-pass
builder: a loop over one master regex that covers the grammar real pages
use (start tags with double-quoted, single-quoted or bare attribute
values, end tags, text, comments, `<!DOCTYPE>`, `script`/`style` raw
text). Any other construct, or a tag the regex does not fully match, makes
it give up, and `_TreeBuilder` (on `html.parser.HTMLParser`) parses the
whole document instead. Both feed the same `_Tree`, which holds the
tree-building rules above, and both record the document's `DocIndex` in
the same pass: elements in document order, tag buckets, and each
element's pre-order position and the position of its last descendant.

A parsed document does not change after `parse_html` returns: nothing in
the package appends to, removes from or re-parents a parsed tree. The
selector engine relies on this: a parentless root keeps its `DocIndex`
(built while parsing, or by one walk on first use for a hand-built tree)
and never rebuilds it.
"""

from __future__ import annotations

import re
from bisect import bisect_right
from html import unescape
from html.parser import HTMLParser
from types import MappingProxyType

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


# shared by every node without attributes / every text node, which then
# allocate no containers of their own: a parsed tree never changes
_NO_ATTRS = MappingProxyType({})
_NO_CHILDREN = ()


class Node:
    # _pos/_end: an element's pre-order position in its document and that
    # of its last descendant element; set by the builder or DocIndex.walk
    __slots__ = ("tag", "attrs", "children", "parent", "text_data", "_index",
                 "_pos", "_end")

    def __init__(self, tag: str | None, attrs: dict | None = None,
                 text_data: str | None = None):
        self.tag = tag            # None for text nodes
        self.attrs = _NO_ATTRS if attrs is None else attrs
        self.children: list[Node] = [] if tag is not None else _NO_CHILDREN
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
        """The element index of this document: recorded by the builder,
        else built by one walk on first use and cached; so only valid on a
        parentless root of a finished tree."""
        if self._index is None:
            self._index = DocIndex.walk(self)
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
    order within a tag) with their positions, and on every element its
    position (`_pos`) and the position of its last descendant (`_end`), so
    an element's subtree is the interval (_pos, _end]."""

    __slots__ = ("elements", "by_tag", "tag_pos")

    def __init__(self, elements: list[Node]):
        """Index `elements`, a document's elements in document order with
        their `_pos` and `_end` set."""
        self.elements = elements
        by_tag: dict[str, list[Node]] = {}
        tag_pos: dict[str, list[int]] = {}
        for pos, n in enumerate(elements):
            bucket = by_tag.get(n.tag)
            if bucket is None:
                by_tag[n.tag] = [n]
                tag_pos[n.tag] = [pos]
            else:
                bucket.append(n)
                tag_pos[n.tag].append(pos)
        self.by_tag = by_tag
        self.tag_pos = tag_pos

    @classmethod
    def walk(cls, root: Node) -> "DocIndex":
        """The index of a finished tree, by one walk."""
        elements = list(root.iter_elements())
        for pos, n in enumerate(elements):
            n._pos = pos
        for n in reversed(elements):
            n._end = n._pos
            for c in reversed(n.children):
                if not c.is_text:
                    n._end = c._end
                    break
        return cls(elements)

    def under(self, node: Node, tag: str | None):
        """Elements inside `node`'s subtree (node excluded; every element
        for the parentless root) in document order, only `tag` ones unless
        `tag` is None or '*'."""
        if tag is None or tag == "*":
            if node.parent is None:
                return self.elements
            return self.elements[node._pos + 1:node._end + 1]
        bucket = self.by_tag.get(tag)
        if bucket is None or node.parent is None:
            return bucket or ()
        pos = self.tag_pos[tag]
        return bucket[bisect_right(pos, node._pos):bisect_right(pos, node._end)]


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


class _Tree:
    """The tree-building rules both builders share (auto-close, void
    elements, implied tbody, stray end tags ignored). Elements are recorded
    in document order with their positions as they are appended, and their
    subtree ends as they close; `finish` indexes them."""

    __slots__ = ("root", "stack", "elements")

    def __init__(self) -> None:
        self.root = Node("#document")
        self.stack = [self.root]
        self.elements: list[Node] = []

    def _close(self, depth: int) -> None:
        """Pop every open element at `depth` or deeper."""
        last = len(self.elements) - 1
        for n in self.stack[depth:]:
            n._end = last
        del self.stack[depth:]

    def _element(self, parent: Node, tag: str, attrs: dict | None) -> Node:
        node = Node(tag, attrs)
        parent.append(node)
        node._pos = len(self.elements)
        self.elements.append(node)
        return node

    def start(self, tag: str, attrs: dict | None,
              self_closing: bool) -> None:
        stack = self.stack
        parent = stack[-1]
        closers = _AUTO_CLOSE.get(tag)
        if closers and parent.tag in closers:
            depth = len(stack) - 1
            while depth > 1 and stack[depth - 1].tag in closers:
                depth -= 1
            self._close(depth)
            parent = stack[-1]
        if not self_closing and tag == "tr" and parent.tag == "table":
            # implied tbody: <tr> directly inside <table>
            parent = self._element(parent, "tbody", None)
            stack.append(parent)
        node = self._element(parent, tag, attrs)
        if self_closing or tag in VOID_ELEMENTS:
            node._end = node._pos
        else:
            stack.append(node)

    def end(self, tag: str) -> None:
        stack = self.stack
        if stack[-1].tag == tag and len(stack) > 1:
            stack.pop()._end = len(self.elements) - 1
            return
        if tag in VOID_ELEMENTS:
            return
        # find matching open tag; pop through implied-closed elements
        for i in range(len(stack) - 2, 0, -1):
            if stack[i].tag == tag:
                self._close(i)
                return
        # stray end tag: ignore (matches net/html recovery for simple cases)

    def text(self, data: str) -> None:
        if data:
            self.stack[-1].append(Node(None, text_data=data))

    def finish(self) -> Node:
        self._close(1)
        self.root._index = DocIndex(self.elements)
        return self.root


def _attr_dict(attrs: list[tuple[str, str | None]]) -> dict | None:
    if not attrs:
        return None
    return {k.lower(): (v if v is not None else "") for k, v in attrs}


class _TreeBuilder(HTMLParser):
    """The fallback builder: every construct html.parser accepts."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.tree = _Tree()

    def handle_starttag(self, tag, attrs):
        self.tree.start(tag, _attr_dict(attrs), False)

    def handle_startendtag(self, tag, attrs):
        self.tree.start(tag, _attr_dict(attrs), True)

    def handle_endtag(self, tag):
        self.tree.end(tag)

    def handle_data(self, data):
        self.tree.text(data)


# The one-pass grammar. Each alternative accepts only input that
# html.parser reads the same way; whitespace between the parts of a tag is
# ASCII, which is where html.parser's tag name ends.
_WS = r"[ \t\n\r\f]"
_ATTR = (rf"{_WS}+([^\s\"'<>/=]+)(?:{_WS}*={_WS}*"
         r"""(?:"([^"]*)"|'([^']*)'|([^\s"'=<>`]+)))?""")
_MARKUP = re.compile(
    rf"<(?:(?P<tag>[a-zA-Z][-a-zA-Z0-9:_.]*)(?P<attrs>(?:{_ATTR})*)"
    rf"{_WS}*(?P<close>/?)>"
    r"|/\s*(?P<end>[a-zA-Z][-.a-zA-Z0-9:_]*)\s*>"
    r"|!--(?s:.*?)--\s*>"                            # comment
    r"|![dD][oO][cC][tT][yY][pP][eE][^>]*>)")        # doctype
_TAG, _ATTRS, _CLOSE, _END = (_MARKUP.groupindex[g]
                              for g in ("tag", "attrs", "close", "end"))
_ATTR_RE = re.compile(_ATTR)
_RAWTEXT_END = {t: re.compile(rf"</\s*{t}\s*>", re.I)
                for t in ("script", "style")}


def _build_one_pass(html: str) -> Node | None:
    """The tree of `html` in one regex loop, or None where the document
    has a construct outside the one-pass grammar."""
    tree = _Tree()
    start, end, text = tree.start, tree.end, tree.text
    match, find_attrs = _MARKUP.match, _ATTR_RE.findall
    i, n = 0, len(html)
    while i < n:
        j = html.find("<", i)
        if j < 0:
            j = n
        if i < j:
            data = html[i:j]
            text(unescape(data) if "&" in data else data)
            if j == n:
                break
        m = match(html, j)
        if m is None:
            return None
        i = m.end()
        tag, attr_text, close, end_tag = m.group(_TAG, _ATTRS, _CLOSE, _END)
        if tag is None:
            if end_tag is not None:
                end(end_tag.lower())
            continue
        tag = tag.lower()
        attrs = None
        if attr_text:
            attrs = {}
            for name, dq, sq, bare in find_attrs(attr_text):
                value = dq or sq or bare
                attrs[name.lower()] = unescape(value) if "&" in value else value
        closed = bool(close)
        start(tag, attrs, closed)
        if not closed and tag in _RAWTEXT_END:
            # script/style: raw text up to the first closing tag, which
            # html.parser must also read as this element's end tag
            raw_end = _RAWTEXT_END[tag].search(html, i)
            if raw_end is None:
                return None
            m = match(html, raw_end.start())
            if m is None or (m.group(_END) or "").lower() != tag:
                return None
            text(html[i:raw_end.start()])
            end(tag)
            i = m.end()
    return tree.finish()


def build_stdlib_tree(html: str) -> Node:
    """The tree build: the one-pass builder, else html.parser for the
    whole document."""
    root = _build_one_pass(html)
    if root is None:
        builder = _TreeBuilder()
        builder.feed(html)
        builder.close()
        root = builder.tree.finish()
    return root


def parse_html(html: str | bytes) -> Node:
    """Parse HTML into a document Node (build_stdlib_tree). There is one
    builder on purpose: every selector's byte-identical output rests on
    the tree it reads."""
    if isinstance(html, (bytes, bytearray)):
        html = bytes(html).decode("utf-8", errors="replace")
    return build_stdlib_tree(html)
