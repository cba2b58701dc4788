"""HTML main-content extraction (functions/html.py + fixtures/htmlgen).

The north rule names "HTML boilerplate strip … DOM heuristics"; the
extractor is the Readability/boilerpipe-style density family and must
recover the article text exactly from every fixture template, drop
script/style subtrees, and behave sanely on messy foreign markup."""

import re

from pyspark.sql import functions as F

from oar_ocr_spark.fixtures.htmlgen import (
    BOILERPLATE_BLOCKS,
    WORDS_PER_PARAGRAPH,
    _template_id,
    html_corpus_df,
    render_html,
)
from oar_ocr_spark.functions.html import extract_main_content, html_main_content_df

TEXT = (
    "spark engines process big data very fast indeed with adaptive execution "
    "and whole stage code generation plus arrow batches for python interop"
)


def _norm(s: str) -> str:
    return re.sub(r"\s+", " ", s.strip())


class TestTemplates:
    def test_all_templates_recover_exact_text(self):
        seen = set()
        i = 0
        while len(seen) < 3:  # find doc_ids hitting all three templates
            doc_id = str(i)
            t = _template_id(doc_id)
            main, kept, dropped = extract_main_content(render_html(doc_id, TEXT))
            assert main == _norm(TEXT), (doc_id, t)
            assert kept == -(-len(TEXT.split()) // WORDS_PER_PARAGRAPH)
            assert dropped == BOILERPLATE_BLOCKS[t]
            seen.add(t)
            i += 1

    def test_escaping_roundtrip(self):
        s = 'five < three & four > two "quoted" and it\'s fine'
        main, _, _ = extract_main_content(render_html("7", s))
        assert main == _norm(s)

    def test_single_word_text(self):
        main, kept, _ = extract_main_content(render_html("3", "word"))
        assert main == "word" and kept == 1


class TestHeuristics:
    def test_script_style_dropped(self):
        html = (
            "<body><div><p>keep this text body</p></div>"
            "<script>var x = 'leak';</script><style>p{}</style></body>"
        )
        main, _, _ = extract_main_content(html)
        assert main == "keep this text body"
        assert "leak" not in main

    def test_link_dense_block_loses(self):
        # same text length, but one container is pure links
        links = "".join(f'<li><a href="/{i}">word word word</a></li>' for i in range(4))
        html = (
            f"<body><div><ul>{links}</ul></div>"
            "<div><p>plain article text of comparable length here today</p></div></body>"
        )
        main, _, _ = extract_main_content(html)
        assert main.startswith("plain article")

    def test_negative_class_lexicon(self):
        html = (
            '<body><div class="sidebar"><p>long boilerplate text that would '
            "otherwise win on raw length alone by a lot</p></div>"
            "<div><p>short real body</p></div></body>"
        )
        main, _, _ = extract_main_content(html)
        assert main == "short real body"

    def test_messy_foreign_markup(self):
        # unquoted attrs, unclosed <p>/<li> — parser must not crash and
        # the content div must win over the nav div
        html = (
            "<body><div class=nav><li><a href=x>A</a><li><a href=y>B</a></div>"
            "<div><p>Real content here with several words making it the main "
            "article of this page.<p>Another paragraph of body text follows.</div>"
            "<footer><p>foot</p></footer></body>"
        )
        main, kept, dropped = extract_main_content(html)
        assert main.startswith("Real content") and kept == 2 and dropped >= 2

    def test_empty_and_textless_pages(self):
        assert extract_main_content("") == ("", 0, 0)
        assert extract_main_content("<body><nav><li><a>x</a></li></nav></body>")[0] == ""

    def test_unclosed_anchor_does_not_poison_link_depth(self):
        # implicit </a> via the </p> unwind must decrement link depth,
        # or every later block counts as link text and the article loses
        html = (
            "<body><div><p>short teaser blurb</p></div>"
            '<div><p><a href="/x">see more</p>'
            "<p>long real article text with many genuine words here today</p></div></body>"
        )
        main, _, _ = extract_main_content(html)
        assert main.startswith("see more long real article")

    def test_unclosed_drop_subtree_reconciles(self):
        # an unclosed <template> inside <head> must not swallow the body
        html = (
            "<html><head><title>t</title><template></head>"
            "<body><div><p>real body text</p></div></body></html>"
        )
        main, kept, _ = extract_main_content(html)
        assert main == "real body text" and kept == 1

    def test_implicitly_closed_drop_subtree_mid_document(self):
        # an unclosed <template> implicitly closed by an ANCESTOR's end
        # tag must not swallow the rest of the document (round-4 advice:
        # drop_depth used to stay >0 and everything after was dropped)
        html = (
            "<div><template>x</div>"
            "<div><p>article body text here long enough to win</p></div>"
        )
        main, kept, _ = extract_main_content(html)
        assert main == "article body text here long enough to win" and kept == 1

    def test_end_tag_inside_drop_subtree_does_not_close_ancestor(self):
        # an inner </div> INSIDE <template> must unwind the template's
        # own <div>, not falsely match the ancestor div outside it
        html = (
            "<div><template><div>junk</div></template>"
            "<p>real article content text stays</p></div>"
        )
        main, kept, _ = extract_main_content(html)
        assert main == "real article content text stays" and kept == 1

    def test_stray_ancestor_end_tag_does_not_leak_closed_subtree(self):
        # a stray </div> INSIDE a template that DOES close later must
        # not implicitly close it (that would leak the remainder of the
        # dropped subtree into the page text) — the pending-closer count
        # distinguishes this from the genuinely-unclosed recovery case
        html = (
            "<div><template></div>leaked junk that should be dropped</template>"
            "<p>real article body text long enough to win</p></div>"
        )
        main, _, _ = extract_main_content(html)
        assert "leaked" not in main and main.startswith("real article")

    def test_self_closing_drop_tag_does_not_desync_closer_count(self):
        # <svg/> is an EMPTY subtree: it must not consume a pending
        # </svg>, or a later real <svg> with a stray end tag leaks
        html = (
            "<div><svg/></div>"
            "<div><svg><circle></p>MORE SVG JUNK</svg>"
            "<p>real article body text long enough to win here</p></div>"
        )
        main, _, _ = extract_main_content(html)
        assert "JUNK" not in main and main.startswith("real article")

    def test_closer_inside_comment_does_not_inflate_count(self):
        # '</template>' in a comment is DATA, not an end-tag event —
        # the genuinely-unclosed template must still recover
        html = (
            "<!-- </template> --><div><template>x</div>"
            "<div><p>article body text here long enough</p></div>"
        )
        main, _, _ = extract_main_content(html)
        assert main == "article body text here long enough"

    def test_stray_end_tag_inside_drop_subtree_is_noop(self):
        html = "<div><template></p>junk</div><p>after text survives fine</p>"
        main, _, _ = extract_main_content(html)
        assert main == "after text survives fine"

    def test_bare_container_text_extracts(self):
        html = "<body><div>Just plain text content no p tags at all</div></body>"
        main, kept, _ = extract_main_content(html)
        assert main == "Just plain text content no p tags at all" and kept == 1

    def test_lexicon_tokens_are_word_anchored(self):
        # 'threads'/'downloads' must NOT be treated as 'ads'
        html = (
            '<body><div class="threads"><p>forum main content text here</p></div></body>'
        )
        main, _, _ = extract_main_content(html)
        assert main == "forum main content text here"


class TestSpark:
    def test_corpus_roundtrip(self, spark):
        rows = [(i, f"document number {i} body text repeated words " * 3) for i in range(12)]
        docs = spark.createDataFrame(rows, ["doc_id", "text"])
        out = {
            r["doc_id"]: r
            for r in html_main_content_df(html_corpus_df(docs)).collect()
        }
        assert len(out) == 12
        for i, text in rows:
            r = out[str(i)]
            assert r["main_text"] == _norm(text)
            assert r["n_blocks_dropped"] == BOILERPLATE_BLOCKS[_template_id(str(i))]
