"""Main-content extraction (boilerplate removal) over the HTML DOM.

A webtext training pipeline does not want nav bars, link farms, and
footers in its corpus; it wants the article.  The reference extracts
only config-declared CSS fields (internal/scraper/engine.go:512-517 +
selector rules) — it has no generic content/boilerplate classifier.
This module adds the standard block-level density heuristic
(Boilerpipe/jusText family): segment the page into *leaf blocks*
(block-level elements with no block-level descendants), then keep a
block iff it has at least ``min_words`` words AND its link density is
at most ``link_num/link_den`` (default 1/3).  Both rules are integer
comparisons, so classification is bit-deterministic and q56's DuckDB
oracle can re-derive it from the page-generation formula.

Spark shape: one ``mapInPandas`` pass (one Arrow crossing per batch,
the same pattern as extract/engine.py) — the HTML column is consumed
inside the pass and never survives into a shuffle; everything after is
plain columns.  Parsing is html/dom.py's parse_html, the tree every
selector reads.
"""
from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql.types import (IntegerType, LongType, StringType, StructType)

from ..html.dom import Node, parse_html

# Block-level tags that segment content; body/html are containers, not
# blocks, so a page whose <body> holds only inline text yields no block.
BLOCK_TAGS = frozenset(
    "p h1 h2 h3 h4 h5 h6 li td div article section main blockquote pre"
    .split())

MICRO = 1_000_000


def _words(s: str) -> list[str]:
    return s.split()


def _leaf_blocks(root: Node) -> list[Node]:
    """Block elements with no block-level element below them, in
    document order — one post-order pass, no quadratic rescans."""
    out: list[Node] = []

    def walk(node: Node) -> bool:
        """Returns True iff node's subtree contains a block element."""
        below = False
        for c in node.children:
            if c.is_text:
                continue
            sub = walk(c)
            below = below or sub or (c.tag in BLOCK_TAGS)
        if node.tag in BLOCK_TAGS and not below:
            out.append(node)
        return below or (node.tag in BLOCK_TAGS)

    walk(root)
    return out


def classify_blocks(root: Node, min_words: int = 10,
                    link_num: int = 1, link_den: int = 3) -> dict:
    """Block classification over an already-parsed (sub)tree — the core
    shared by the DataFrame op and the `main_content` field type.

    A block is content iff n_words >= min_words and
    link_den * link_words <= link_num * n_words (integer, exact).
    Zero-word blocks are ignored entirely.
    """
    kept: list[str] = []
    n_blocks = n_content = total_words = content_words = 0
    for block in _leaf_blocks(root):
        text = " ".join(_words(block.text()))
        nw = len(_words(text))
        if nw == 0:
            continue
        link_words = sum(
            len(_words(el.text()))
            for el in block.iter_elements() if el.tag == "a")
        n_blocks += 1
        total_words += nw
        if nw >= min_words and link_den * link_words <= link_num * nw:
            n_content += 1
            content_words += nw
            kept.append(text)
    boiler_ppm = (MICRO * (total_words - content_words) // total_words
                  if total_words else 0)
    return {
        "main_text": "\n".join(kept),
        "n_blocks": n_blocks,
        "n_content_blocks": n_content,
        "total_words": total_words,
        "content_words": content_words,
        "boiler_ppm": boiler_ppm,
    }


def extract_main_content_py(html, min_words: int = 10,
                            link_num: int = 1, link_den: int = 3) -> dict:
    """Single-page classifier; returns the q56 output columns."""
    return classify_blocks(parse_html(html), min_words, link_num, link_den)


_OUT_FIELDS = [
    ("main_text", StringType()), ("n_blocks", IntegerType()),
    ("n_content_blocks", IntegerType()), ("total_words", IntegerType()),
    ("content_words", IntegerType()), ("boiler_ppm", LongType()),
]


def extract_main_content_df(pages: DataFrame, html_col: str = "html",
                            min_words: int = 10, link_num: int = 1,
                            link_den: int = 3) -> DataFrame:
    """Distributed boilerplate removal: passthrough columns + the six
    content columns, one Arrow crossing per batch."""
    import pandas as pd

    passthrough = [f for f in pages.schema.fields if f.name != html_col]
    pass_names = [f.name for f in passthrough]
    # StructType aliases the list it is given and .add() mutates it —
    # build from a copy so `passthrough` stays the passthrough set.
    schema = StructType(list(passthrough))
    for name, dtype in _OUT_FIELDS:
        schema = schema.add(name, dtype)
    out_names = [n for n, _ in _OUT_FIELDS]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            results = [
                extract_main_content_py(h, min_words, link_num, link_den)
                for h in pdf[html_col]]
            out = pdf[pass_names].copy()
            for name in out_names:
                out[name] = [r[name] for r in results]
            yield out

    return pages.mapInPandas(run, schema=schema)
