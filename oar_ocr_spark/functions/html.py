"""HTML main-content extraction (boilerplate strip via DOM heuristics).

The north rule names "HTML boilerplate strip, PDF/layout parse, DOM
heuristics" as the main-content extraction surface; PDF lives in
functions/pdf.py, and this module covers the HTML side with the
standard public heuristics family (Readability / trafilatura /
boilerpipe style — density-based block scoring, no ML):

1. parse the document into a lightweight DOM (stdlib html.parser —
   no external deps), dropping script/style/noscript/template
   subtrees outright;
2. collect text blocks (p, h1–h6, li, td, pre, blockquote — plus
   bare-text div/article/section leaves) with their ancestor chain
   and per-block link-character count;
3. score each block: text length × (1 − link_density)², zeroed for
   blocks whose ancestor chain crosses nav/header/footer/aside or a
   class/id matching the boilerplate lexicon (nav, menu, sidebar,
   footer, comment, ad, promo, share, related);
4. pick the container (deepest common ancestor bucket) with the
   highest summed score and emit its blocks, in document order, as
   the main text.

Spark side: one Arrow-batched Python stage over (doc_id, html) — the
same per-row transform shape as every codec in this engine; at corpus
scale the HTML column arrives from the crawl table and the operator
is embarrassingly parallel.

The driver query's oracle is fully SQL-expressible: the deterministic
HTML fixture (fixtures/htmlgen.render_html) wraps each document's
text in one of three boilerplate templates keyed by md5(doc_id), and
a correct extractor must recover EXACTLY the article text — so the
DuckDB twin just re-derives the expected text (and per-template
boilerplate block count) from the documents table.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..partitioning import python_stage

__all__ = ["extract_main_content", "html_main_content_df"]

_DROP_SUBTREES = {"script", "style", "noscript", "template", "svg", "head"}
_BLOCK_TAGS = {
    "p", "h1", "h2", "h3", "h4", "h5", "h6", "li", "td", "th", "pre",
    "blockquote", "figcaption", "dd", "dt",
}
_CONTAINER_TAGS = {"div", "article", "section", "main", "body", "ul", "ol", "table"}
_NEGATIVE_TAGS = {"nav", "header", "footer", "aside", "form", "button", "select"}
_NEGATIVE_RE = re.compile(
    # short/ambiguous tokens are word-anchored so 'threads', 'downloads',
    # 'navigate', 'sharing' etc. do not mark real content as boilerplate
    r"menu|sidebar|footer|header|banner|comment|advert|\bad\b|\bads\b|"
    r"\bnav\b|\bpromo\b|\bshare\b|\bsocial\b|related|breadcrumb|"
    r"cookie|popup|masthead",
    re.IGNORECASE,
)
# ASCII whitespace only — the DuckDB oracle's RE2 '\s' is ASCII, and
# the fixture splits the same way, so non-ASCII whitespace (U+00A0 …)
# passes through all three paths verbatim instead of diverging
_WS_RE = re.compile(r"[ \t\n\r\f\v]+")


class _Block:
    __slots__ = ("text_len", "link_len", "container", "texts", "negative")

    def __init__(self, container: int, negative: bool):
        self.container = container  # id of the nearest container ancestor
        self.negative = negative  # ancestor chain crosses boilerplate markers
        self.text_len = 0
        self.link_len = 0
        self.texts: list[str] = []


class _Extractor(HTMLParser):
    """Single-pass DOM walk: no tree is materialized — the open-element
    stack carries (tag, container_id, negative) flags and text lands in
    the innermost open block (or an anonymous block for bare container
    text). Every bookkeeping counter (drop/link depth, open blocks) is
    reconciled through the one stack-unwind in handle_endtag, so
    unclosed tags — endemic in real HTML — cannot leak state."""

    def __init__(self, tag_totals: dict[str, tuple[int, int]] | None = None) -> None:
        super().__init__(convert_charrefs=True)
        # (tag, container_id, negative, in_drop) — in_drop entries exist
        # only so end tags inside dropped subtrees unwind their own
        # element instead of matching an ancestor outside the subtree
        self.stack: list[tuple[str, int, bool, bool]] = [("#root", 0, False, False)]
        # per-drop-tag (total start events, total end events) from the
        # counting pre-pass, or None on the optimistic first parse. An
        # end tag may implicitly close an OPEN drop subtree only when no
        # remaining closer belongs to IT — i.e. every remaining closer
        # pairs with a same-named element that hasn't OPENED yet
        # (remaining_ends <= remaining_starts).
        self.tag_totals = tag_totals
        self.seen_starts: dict[str, int] = {}
        self.seen_ends: dict[str, int] = {}
        # optimistic-parse signal: an unwind crossed an open drop root,
        # so only then is the count-aware rerun needed (hot-path rows
        # with balanced markup pay a single parse)
        self.crossed_drop_root = False
        self.drop_depth = 0
        self.link_depth = 0
        self.blocks: list[_Block] = []
        self.open_blocks: list[_Block] = []
        self.n_containers = 1
        self.bare_block: _Block | None = None  # anonymous run of container text

    @staticmethod
    def _is_negative(tag: str, attrs) -> bool:
        if tag in _NEGATIVE_TAGS:
            return True
        for name, val in attrs:
            if name in ("class", "id", "role") and val and _NEGATIVE_RE.search(val):
                return True
        return False

    def handle_starttag(self, tag, attrs):
        self.bare_block = None  # any tag ends a bare-text run
        if tag in _DROP_SUBTREES:
            # dropped subtrees ride the SAME stack so an unclosed
            # <template>/<script> is reconciled when an ancestor closes
            self.seen_starts[tag] = self.seen_starts.get(tag, 0) + 1
            self.drop_depth += 1
            self.stack.append((tag, self.stack[-1][1], True, True))
            return
        if self.drop_depth:
            # still push (flagged in_drop) so an end tag INSIDE the
            # dropped subtree unwinds its own element rather than
            # falsely matching an ancestor outside the subtree
            self.stack.append((tag, self.stack[-1][1], True, True))
            return
        if tag == "a":
            self.link_depth += 1
        _, container, negative, _ = self.stack[-1]
        negative = negative or self._is_negative(tag, attrs)
        if tag in _CONTAINER_TAGS:
            container = self.n_containers
            self.n_containers += 1
        self.stack.append((tag, container, negative, False))
        if tag in _BLOCK_TAGS:
            blk = _Block(container, negative)
            self.blocks.append(blk)
            self.open_blocks.append(blk)

    def _closer_belongs_to_open(self, t: str) -> bool:
        """Does some remaining </t> belong to an ALREADY-OPEN t element
        (as opposed to pairing with a t that hasn't started yet)?"""
        total_starts, total_ends = self.tag_totals.get(t, (0, 0))
        remaining_ends = total_ends - self.seen_ends.get(t, 0)
        remaining_starts = total_starts - self.seen_starts.get(t, 0)
        return remaining_ends > remaining_starts

    def handle_endtag(self, tag):
        self.bare_block = None
        if tag in _DROP_SUBTREES:
            self.seen_ends[tag] = self.seen_ends.get(tag, 0) + 1
        # no blanket drop_depth early-exit: an ancestor's end tag must be
        # able to implicitly close an UNCLOSED <template>/<svg>/… so the
        # rest of the document is not silently dropped (a tag not on the
        # stack is a no-op — the scan simply finds no match)
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i][0] == tag:
                if tag not in _DROP_SUBTREES:
                    crossing = [
                        t
                        for t, _c, _n, _d in self.stack[i:]
                        if t in _DROP_SUBTREES
                    ]
                    if crossing and self.tag_totals is None:
                        self.crossed_drop_root = True  # rerun with counts
                    elif crossing and any(
                        self._closer_belongs_to_open(t) for t in crossing
                    ):
                        # a remaining closer belongs to an open drop
                        # root being crossed: this is a STRAY end tag
                        # inside the subtree (wild unbalanced markup) —
                        # keep dropping rather than leak its remainder
                        return
                closed = self.stack[i:]
                del self.stack[i:]
                # reconcile every counter for implicitly closed elements
                n_blocks = 0
                for t, _, _, in_drop in closed:
                    if t in _DROP_SUBTREES:
                        self.drop_depth -= 1
                    elif in_drop:
                        continue  # never counted toward blocks/links
                    elif t in _BLOCK_TAGS:
                        n_blocks += 1
                    elif t == "a":
                        self.link_depth -= 1
                if n_blocks:
                    del self.open_blocks[-n_blocks:]
                break

    def handle_startendtag(self, tag, attrs):
        if tag in _DROP_SUBTREES:
            # a self-closing <svg/>/<template/> is an EMPTY subtree:
            # nothing to drop — and it must not touch seen_starts/
            # seen_ends (the _CloserCounter pre-pass skips it
            # identically, keeping both event streams in sync)
            self.bare_block = None
            return
        super().handle_startendtag(tag, attrs)

    def handle_data(self, data):
        if self.drop_depth:
            return
        text = data.strip()
        if not text:
            return
        if self.open_blocks:
            blk = self.open_blocks[-1]
        else:
            # bare text directly inside a container (div/article/…):
            # an anonymous block per contiguous run, so pages without
            # <p> markup still extract (docstring step 2)
            if self.bare_block is None:
                _, container, negative, _ = self.stack[-1]
                self.bare_block = _Block(container, negative)
                self.blocks.append(self.bare_block)
            blk = self.bare_block
        blk.texts.append(text)
        blk.text_len += len(text)
        if self.link_depth:
            blk.link_len += len(text)


class _CloserCounter(HTMLParser):
    """Pre-pass counting drop-subtree START and END TAG EVENTS (not
    raw text): a '</template>' inside a comment or a self-closing
    <svg/> must not skew the counts, or the extractor's stray-end-tag
    heuristic desyncs — the counter and _Extractor see the exact same
    event stream. Both counts are needed: whether a remaining closer
    belongs to an OPEN element depends on how many same-named elements
    are still to come."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.totals: dict[str, tuple[int, int]] = {}

    def handle_starttag(self, tag, attrs):
        if tag in _DROP_SUBTREES:
            s, e = self.totals.get(tag, (0, 0))
            self.totals[tag] = (s + 1, e)

    def handle_endtag(self, tag):
        if tag in _DROP_SUBTREES:
            s, e = self.totals.get(tag, (0, 0))
            self.totals[tag] = (s, e + 1)

    def handle_startendtag(self, tag, attrs):
        pass  # mirror _Extractor: self-closing drop tags fire no events


def extract_main_content(html: str) -> tuple[str, int, int]:
    """→ (main_text, n_blocks_kept, n_blocks_dropped).

    Container scoring: each text block scores
    ``text_len · (1 − link_density)²`` (0 if its ancestor chain is
    boilerplate-marked); the container with the highest summed score
    wins and its non-negative blocks are emitted in document order,
    whitespace-normalized and joined with single spaces."""
    # optimistic single parse; only when an unwind actually crossed an
    # open drop root (rare malformed markup) does the count-aware
    # second pass run — corpus-scale rows with balanced markup pay one
    # parser walk
    p = _Extractor()
    p.feed(html)
    p.close()
    if p.crossed_drop_root:
        counter = _CloserCounter()
        counter.feed(html)
        counter.close()
        p = _Extractor(counter.totals)
        p.feed(html)
        p.close()
    scores: dict[int, float] = {}
    for blk in p.blocks:
        if blk.negative or blk.text_len == 0:
            continue
        link_density = blk.link_len / blk.text_len
        score = blk.text_len * (1.0 - link_density) ** 2
        scores[blk.container] = scores.get(blk.container, 0.0) + score
    if not scores:
        return "", 0, len(p.blocks)
    best = max(scores, key=lambda c: (scores[c], -c))
    kept = [
        _WS_RE.sub(" ", " ".join(blk.texts))
        for blk in p.blocks
        if blk.container == best and not blk.negative and blk.text_len
    ]
    return " ".join(kept), len(kept), len(p.blocks) - len(kept)


_MAIN_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("main_text", T.StringType(), False),
        T.StructField("n_blocks_kept", T.IntegerType(), False),
        T.StructField("n_blocks_dropped", T.IntegerType(), False),
    ]
)


def html_main_content_df(df: DataFrame) -> DataFrame:
    """(doc_id, html) → (doc_id, main_text, n_blocks_kept,
    n_blocks_dropped) via one Arrow-batched Python stage."""
    return python_stage(
        df.select("doc_id", "html"),
        lambda doc_id, html: [(str(doc_id), *extract_main_content(html))],
        _MAIN_SCHEMA,
        "html_main_content",
    )
