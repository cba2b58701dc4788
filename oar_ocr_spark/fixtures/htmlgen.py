"""Deterministic HTML page fixture for the boilerplate-strip operator.

Each document's text becomes the article body of a full HTML page
wrapped in one of three boilerplate templates (news / blog / docs),
selected by the first hex digit of md5(doc_id) — a derivation DuckDB
can replicate (`ascii(substr(md5(doc_id),1,1)) % 3`), which is what
makes the html_extract driver query fully SQL-oracle-checkable:

- the article text is the document text, html-escaped, chunked into
  12-word <p> paragraphs → a correct extractor recovers EXACTLY the
  whitespace-normalized original text;
- every template carries a FIXED number of boilerplate text blocks
  (nav/menu links, sidebar, comments, footer — BOILERPLATE_BLOCKS
  below), so n_blocks_dropped is a closed-form function of the
  template id.

The templates exercise the real heuristics: link-dense nav lists,
class/id lexicon markers ("sidebar", "related", "comments"),
semantic negative tags (header/footer/aside/nav), and script/style
subtrees that must be dropped outright.
"""

from __future__ import annotations

import hashlib
import html as _html
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..partitioning import python_stage

__all__ = ["WORDS_PER_PARAGRAPH", "BOILERPLATE_BLOCKS", "render_html", "html_corpus_df"]

WORDS_PER_PARAGRAPH = 12

#: text blocks outside the article per template (the oracle constant)
BOILERPLATE_BLOCKS = {0: 10, 1: 9, 2: 8}

_NAV5 = "".join(f'<li><a href="/s{i}">Section {i}</a></li>' for i in range(5))
_SIDE4 = "".join(f'<li><a href="/t{i}">Trending {i}</a></li>' for i in range(4))
_REL3 = "".join(f'<li><a href="/r{i}">Related post {i}</a></li>' for i in range(3))
_FNAV3 = "".join(f'<li><a href="/f{i}">Footer link {i}</a></li>' for i in range(3))
_CRUMB2 = '<li><a href="/">Docs</a></li><li><a href="/guide">Guide</a></li>'
_TOC5 = "".join(f'<li><a href="#h{i}">Chapter {i}</a></li>' for i in range(5))


def _paragraphs(text: str) -> str:
    # ASCII-whitespace split, matching the extractor's normalization and
    # the DuckDB oracle's RE2 '\s' semantics (see functions/html._WS_RE)
    words = [w for w in re.split(r"[ \t\n\r\f\v]+", text) if w]
    return "".join(
        "<p>" + _html.escape(" ".join(words[i : i + WORDS_PER_PARAGRAPH])) + "</p>"
        for i in range(0, len(words), WORDS_PER_PARAGRAPH)
    )


def _template_id(doc_id: str) -> int:
    return ord(hashlib.md5(doc_id.encode()).hexdigest()[0]) % 3


def render_html(doc_id: str, text: str) -> str:
    """One full deterministic page; template = md5-hex-digit % 3."""
    body = _paragraphs(text)
    t = _template_id(doc_id)
    if t == 0:  # news: nav(5 li) + aside(4 li) + footer(1 p) = 10 blocks
        return (
            "<html><head><title>News</title><style>p{margin:0}</style></head><body>"
            f'<header><nav class="topnav"><ul>{_NAV5}</ul></nav></header>'
            f'<div class="content">{body}</div>'
            f'<aside class="sidebar"><ul>{_SIDE4}</ul></aside>'
            "<footer><p>© 2026 Example News. All rights reserved.</p></footer>"
            "<script>var t=1;</script></body></html>"
        )
    if t == 1:  # blog: header h1 + related(3 li) + comments(2 p) + footer nav(3 li) = 9
        return (
            "<html><head><title>Blog</title></head><body>"
            "<header><h1>My Example Blog</h1></header>"
            f"<article>{body}</article>"
            f'<div class="related"><ul>{_REL3}</ul></div>'
            '<div id="comments"><p>First! Great read.</p><p>+1, thanks for writing.</p></div>'
            f"<footer><nav><ul>{_FNAV3}</ul></nav></footer>"
            "</body></html>"
        )
    # docs: breadcrumb(2 li) + toc(5 li) + footer(1 p) = 8 blocks
    return (
        "<html><head><title>Docs</title></head><body>"
        f'<nav class="breadcrumb"><ul>{_CRUMB2}</ul></nav>'
        f'<div class="menu sidebar"><ul>{_TOC5}</ul></div>'
        f"<section>{body}</section>"
        "<footer><p>Built with ExampleDocs.</p></footer>"
        "</body></html>"
    )


_HTML_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("html", T.StringType(), False),
    ]
)


def html_corpus_df(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → (doc_id, html) rendered pages (Arrow-batched)."""
    return python_stage(
        docs.select(F.col("doc_id").cast("string").alias("doc_id"), "text"),
        lambda doc_id, text: [(str(doc_id), render_html(str(doc_id), text or ""))],
        _HTML_SCHEMA,
        "html_corpus",
    )
