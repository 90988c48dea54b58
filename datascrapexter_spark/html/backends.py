"""Pluggable HTML parser backends behind the `parse_html` API.

At 100 TB the dominant Python-side cost is the per-page tree build inside
the extraction engine's Arrow-batched UDFs (extract/engine.py). The
stdlib backend builds most pages with dom.py's one-pass regex builder
(~0.4 ms for a 1.8 KB page on a 2.1 GHz VM core, about half of
`html.parser`'s time) and falls back to `html.parser` for other
constructs; both are pure Python. This seam keeps the SAME `Node` tree
contract (dom.py — the goquery-parity surface fields.py/css.py select
against, /root/reference/internal/scraper/engine.go:512-517) while letting
a deployment pick up a C parser when one is importable:

    selectolax (lexbor)  >  lxml (libxml2)  >  stdlib (dom.py)

The sandbox ships neither C parser, so `stdlib` is the tested default.
The extraction goldens run against whichever backend is selected, which
is how a deployment proves byte-parity: install the C parser, re-run
`pytest tests/test_html.py tests/test_extraction.py`, and any tree-shape
divergence fails the same fixtures the stdlib backend passes.

Selection order:
  1. explicit `parse_html(..., backend="name")`;
  2. env `DSX_HTML_BACKEND` (error if named backend is unavailable —
     silent fallback would hide a missing C parser in production);
  3. the fastest importable backend in _PREFERENCE order.
"""

from __future__ import annotations

import os
from typing import Callable

from .dom import Node, build_stdlib_tree

ParseFn = Callable[[str], Node]

_REGISTRY: dict[str, ParseFn] = {}
_PREFERENCE = ("selectolax", "lxml", "stdlib")
_ENV_VAR = "DSX_HTML_BACKEND"


def register_backend(name: str, fn: ParseFn) -> None:
    """Register a parser backend (also the hook for deployments shipping
    their own tree builder)."""
    _REGISTRY[name] = fn


def available_backends() -> list[str]:
    return [n for n in _PREFERENCE if n in _REGISTRY] + sorted(
        n for n in _REGISTRY if n not in _PREFERENCE)


def select_backend(name: str | None = None) -> str:
    """Resolve the active backend name (see module docstring for order)."""
    name = name or os.environ.get(_ENV_VAR)
    if name:
        if name not in _REGISTRY:
            raise ValueError(
                f"HTML backend {name!r} not available; have "
                f"{available_backends()}")
        return name
    for cand in _PREFERENCE:
        if cand in _REGISTRY:
            return cand
    raise RuntimeError("no HTML parser backend registered")


def get_parser(name: str | None = None) -> ParseFn:
    return _REGISTRY[select_backend(name)]


# -- stdlib: always present, the parity reference ------------------------

register_backend("stdlib", build_stdlib_tree)


# -- lxml: libxml2 tree converted to the Node contract --------------------

def _lxml_backend() -> ParseFn | None:
    try:
        from lxml import etree  # noqa: F401
    except ImportError:
        return None
    from lxml import etree as _et

    def parse(html: str) -> Node:
        root = Node("#document")
        if not html or not html.strip():
            return root
        doc = _et.fromstring(html, parser=_et.HTMLParser(recover=True))
        if doc is None:
            return root

        def conv(el, parent: Node) -> None:
            if not isinstance(el.tag, str):  # comment / PI: keep tail text
                if el.tail:
                    parent.append(Node(None, text_data=el.tail))
                return
            n = Node(el.tag.lower(),
                     {k.lower(): (v or "") for k, v in el.attrib.items()})
            parent.append(n)
            if el.text:
                n.append(Node(None, text_data=el.text))
            for child in el:
                conv(child, n)
            if el.tail:
                parent.append(Node(None, text_data=el.tail))

        conv(doc, root)
        return root

    return parse


# -- selectolax: lexbor tree converted to the Node contract ---------------

def _selectolax_backend() -> ParseFn | None:
    try:
        from selectolax.lexbor import LexborHTMLParser  # noqa: F401
    except ImportError:
        try:
            from selectolax.parser import HTMLParser as _SxParser
        except ImportError:
            return None
    else:
        from selectolax.lexbor import LexborHTMLParser as _SxParser

    def parse(html: str) -> Node:
        root = Node("#document")
        if not html or not html.strip():
            return root
        tree = _SxParser(html)
        sx_root = tree.root
        if sx_root is None:
            return root

        def conv(sx, parent: Node) -> None:
            tag = sx.tag
            if tag == "-text":
                txt = sx.text(deep=False)
                if txt:
                    parent.append(Node(None, text_data=txt))
                return
            if tag in ("-comment", "_comment"):
                return
            n = Node(tag.lower(),
                     {k.lower(): (v or "") for k, v in
                      (sx.attributes or {}).items()})
            parent.append(n)
            child = sx.child
            while child is not None:
                conv(child, n)
                child = child.next

        child = sx_root.child
        while child is not None:
            conv(child, root)
            child = child.next
        return root

    return parse


for _name, _factory in (("lxml", _lxml_backend),
                        ("selectolax", _selectolax_backend)):
    _fn = _factory()
    if _fn is not None:
        register_backend(_name, _fn)
