"""HTML main-content extraction (north rule: boilerplate strip + DOM
heuristics). Kernel tests pin hand-worked examples of the
Kohlschuetter WSDM-2010 stumps and the DOM-container veto; Spark
tests pin the mapInPandas plumbing against the Spark-free sidecar."""

import os

import pytest

from pdfspark.functions.domseg import (
    extract_blocks,
    segment_blocks,
)


def _words(n, w="word"):
    return " ".join(f"{w}{i}" for i in range(n))


def _blocks(html):
    return extract_blocks(html)


# -- segmentation ----------------------------------------------------------

def test_inline_tags_do_not_split_blocks():
    b = segment_blocks("<p>alpha <b>bold</b> and <i>ital</i> tail</p>")
    assert len(b) == 1
    assert b[0].text == "alpha bold and ital tail"
    assert b[0].n_words == 5
    assert b[0].tag == "p"


def test_block_tags_split_and_br_does_not():
    b = segment_blocks("<p>one two</p><p>three</p><div>four<br>five</div>")
    assert [x.text for x in b] == ["one two", "three", "four five"]
    assert [x.tag for x in b] == ["p", "p", "div"]


def test_script_style_title_ignored_and_entities_decoded():
    b = segment_blocks(
        "<head><title>skip me</title><style>p{}</style></head>"
        "<script>if(a&&b){x()}</script><p>R&amp;D &gt; ops</p>"
    )
    assert len(b) == 1
    assert b[0].text == "R&D > ops"


def test_anchor_words_counted_as_link_words():
    b = segment_blocks('<p>pre <a href="/x">link text</a> post</p>')
    assert b[0].n_words == 4
    assert b[0].n_link_words == 2
    assert b[0].link_density == pytest.approx(0.5)


def test_implied_close_p_splits():
    b = segment_blocks("<div><p>one two<p>three four</div>")
    assert [x.text for x in b] == ["one two", "three four"]


def test_misnested_inline_tags_tolerated():
    b = segment_blocks("<div><b><i>one two</b></i> three</div>")
    assert len(b) == 1
    assert b[0].n_words == 3


def test_empty_page_zero_blocks():
    assert segment_blocks("<body>   <script>x</script></body>") == []


def test_void_img_does_not_capture_following_close():
    # <img> without a slash must not swallow the </div> unwinding
    b = segment_blocks(
        "<div class='footer'><img src='x.png'>foot</div><p>body text</p>"
    )
    assert [x.dom_boiler for x in b] == [True, False]


# -- classifier stumps (hand-worked WSDM-2010 rules) -----------------------

def test_seventeen_words_alone_is_content_sixteen_is_not():
    c17 = _blocks(f"<p>{_words(17)}</p>")[0]
    c16 = _blocks(f"<p>{_words(16)}</p>")[0]
    assert c17.is_content and not c16.is_content


def test_short_block_kept_when_next_is_long():
    # next_words > 15 keeps a short caption/heading before a long para
    b = _blocks(f"<p>{_words(5)}</p><p>{_words(20)}</p>")
    assert b[0].is_content and b[1].is_content


def test_short_block_kept_when_prev_longer_than_four():
    b = _blocks(f"<p>{_words(6)}</p><p>{_words(5)}</p>")
    # first: curr 6<=16, next 5<=15, prev 0<=4 -> boiler
    # second: prev 6>4 -> content
    assert not b[0].is_content and b[1].is_content


def test_high_link_density_is_always_boilerplate():
    b = _blocks(
        "<p>" + " ".join(f'<a href="/{i}">w{i}</a>' for i in range(10))
        + " " + _words(8, "t") + "</p>"
    )
    assert b[0].link_density > 0.333333
    assert not b[0].is_content


def test_after_linky_block_needs_forty_one_words():
    nav = '<div>' + " ".join(f'<a href="/{i}">n{i}</a>' for i in range(5)) \
        + "</div>"
    b40 = _blocks(nav + f"<p>{_words(40)}</p>")
    b41 = _blocks(nav + f"<p>{_words(41)}</p>")
    assert not b40[1].is_content
    assert b41[1].is_content


def test_dom_veto_footer_and_class_tokens():
    b = _blocks(
        f"<footer><p>{_words(50)}</p></footer>"
        f"<div class='site-footer legal'><p>{_words(50, 'x')}</p></div>"
        f"<p>{_words(50, 'y')}</p>"
    )
    assert [x.dom_boiler for x in b] == [True, True, False]
    assert [x.is_content for x in b] == [False, False, True]


def test_dom_veto_ends_with_container():
    b = _blocks(f"<nav><p>{_words(20)}</p></nav><p>{_words(20, 'y')}</p>")
    assert not b[0].is_content and b[1].is_content


def test_main_text_joins_content_blocks_in_order():
    html = (f"<nav>{_words(3)}</nav><p>{_words(18, 'a')}</p>"
            f"<p>{_words(19, 'b')}</p>")
    main = "\n".join(b.text for b in _blocks(html) if b.is_content)
    assert main == _words(18, "a") + "\n" + _words(19, "b")


# -- Spark plumbing vs the Spark-free sidecar ------------------------------

def test_spark_blocks_equal_sidecar(spark, fixture_dir):
    from pdfspark.operators.html_main import main_content_blocks

    pages = spark.read.parquet(os.path.join(fixture_dir, "html_pages.parquet"))
    got = sorted(
        main_content_blocks(pages).collect(),
        key=lambda r: (r.doc_id, r.block_id),
    )
    exp = sorted(
        spark.read.parquet(
            os.path.join(fixture_dir, "html_main_expected.parquet")
        ).collect(),
        key=lambda r: (r.doc_id, r.block_id),
    )
    assert len(got) == len(exp) > 100
    for g, e in zip(got, exp):
        assert g == e


def test_spark_blocks_zero_exchange(spark, fixture_dir):
    from pdfspark.operators.html_main import main_content_blocks

    pages = spark.read.parquet(os.path.join(fixture_dir, "html_pages.parquet"))
    plan = main_content_blocks(pages)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_unclosed_head_is_implied_closed():
    # no </head>: the HTML5 tree builder implies it at flow content;
    # a blanket ignore-depth would swallow the whole page
    b = segment_blocks(
        "<html><head><title>skip</title><meta charset='x'>"
        f"<p>{_words(18)}</p><body><p>{_words(5, 'y')}</p>"
    )
    assert [x.text for x in b] == [_words(18), _words(5, "y")]


def test_head_text_implies_close_like_flow_tags():
    # HTML5 "in head" anything-else: a non-whitespace character token
    # pops head and reprocesses in body — browsers RENDER stray head
    # text, so it must become a block (title/script/style stay
    # swallowed as RCDATA/ignored subtrees)
    b = segment_blocks(
        "<head><title>t</title>stray head text</head><p>kept words</p>"
    )
    assert [x.text for x in b] == ["stray head text", "kept words"]
    # bare prose directly after an unclosed head (the 'no wrappers'
    # page shape): nothing may swallow it
    b = segment_blocks(
        "<html><head><meta charset='utf-8'><title>T</title> "
        + _words(30)
    )
    assert [x.text for x in b] == [_words(30)]


def test_head_state_never_leaks_from_ignored_or_stray_heads():
    # a <head> inside an ignored subtree never reaches the tree
    # builder; head mode must not leak past </iframe>
    b = segment_blocks(
        "<p>before</p><iframe><head><meta></iframe> after words "
        "<p>tagged</p>"
    )
    assert [x.text for x in b] == ["before", "after words", "tagged"]
    # a stray second <head> after flow content is ignored (the tree
    # builder drops <head> tokens once head is done)
    b = segment_blocks(
        "<head><title>T</title></head><p>para</p><head><meta></head>"
        " tail text"
    )
    assert [x.text for x in b] == ["para", "tail text"]


def test_self_closing_flow_tag_implies_head_close():
    # XHTML-style <hr/> in an unclosed head implies </head> exactly
    # like its non-self-closing spelling; <meta/> stays head-y
    b = segment_blocks("<head><hr/>text after hr <p>para</p>")
    assert [x.text for x in b] == ["text after hr", "para"]
    b = segment_blocks("<head><meta/><title>T</title></head><p>body</p>")
    assert [x.text for x in b] == ["body"]


def test_null_html_rows_pass_through_as_zero_blocks(spark):
    # NULL html (outer-join misses, unscraped rows) is a degenerate
    # page — zero block rows, not a TypeError that kills the stage
    from pdfspark.operators.html_main import main_content_blocks

    pages = spark.createDataFrame(
        [(1, "<p>" + _words(20) + "</p>"), (2, None)],
        "doc_id bigint, html string")
    rows = main_content_blocks(pages).collect()
    assert {r.doc_id for r in rows} == {1}
