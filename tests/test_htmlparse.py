"""HTML tree / CSS subset / span extraction tests.

Selector + NodeSet semantics from the reference's test.html fixtures
(/root/reference/test/test.html, test_nokogiri_ext.rb:5-9) and recipe
selectors (test/recipes/noko.sinew, xml.sinew).
test_css_id_class and test_script_text_skipped read the reference
checkout's test/test.html and are skipped where that file is absent.
"""

from pathlib import Path

import pytest

from sinew_spark.functions.htmlparse import (
    css_select,
    extract_links,
    extract_spans,
    nodeset_inner_html,
    nodeset_text,
    parse_html,
)

REF_HTML = Path("/root/reference/test/test.html")
needs_ref_html = pytest.mark.skipif(
    not REF_HTML.is_file(), reason=f"reference fixture {REF_HTML} is absent"
)

MOBY = "<body>\n  <h1>Herman Melville - Moby-Dick</h1>\n</body>\n"
SLIDESHOW = """<!--   A SAMPLE set of slides   -->
<slideshow>
  <slide type="all">
    <title>Wake up to WonderWidgets!</title>
  </slide>
  <slide type="all">
    <title>Overview</title>
  </slide>
</slideshow>
"""


@needs_ref_html
def test_css_id_class():
    TEST_HTML = REF_HTML.read_text()
    root = parse_html(TEST_HTML)
    assert nodeset_text(css_select(root, "#element")) == "text"
    # NodeSet join with SPACE (test_nokogiri_ext.rb:5-9)
    assert nodeset_text(css_select(root, ".e")) == "text1 text2"
    lis = css_select(root, "#nokogiri_ext ul li")
    assert [n.text() for n in lis] == ["hello", "world"]


def test_css_descendant_and_tag():
    root = parse_html(SLIDESHOW)
    titles = css_select(root, "slide title")
    assert [n.text() for n in titles] == ["Wake up to WonderWidgets!", "Overview"]
    h1 = css_select(parse_html(MOBY), "h1")
    assert [n.text() for n in h1] == ["Herman Melville - Moby-Dick"]


def test_css_attr():
    root = parse_html(SLIDESHOW)
    assert len(css_select(root, "slide[type=all]")) == 2
    assert len(css_select(root, "slide[type=none]")) == 0


def test_nodeset_inner_html():
    root = parse_html("<ul><li>a</li><li>b</li></ul>")
    assert nodeset_inner_html(css_select(root, "li")) == "a b"


def test_spans_interleaved():
    body = (
        '<body><h1>Top</h1><p>hello <a href="/x">link x</a> world</p>'
        '<img src="/i.png" alt="pic"><p>tail</p></body>'
    )
    spans = extract_spans(body)
    assert spans == [
        ("title", "Top", "", 0),
        ("text", "hello", "", 1),
        ("link", "link x", "/x", 2),
        ("text", "world", "", 3),
        ("image", "pic", "/i.png", 4),
        ("text", "tail", "", 5),
    ]


def test_spans_moby():
    assert extract_spans(MOBY) == [("title", "Herman Melville - Moby-Dick", "", 0)]


def test_extract_links():
    body = '<a href="/a">1</a><a href="http://y.com/b">2</a><a href="#top">3</a>'
    assert extract_links(body, "http://x.com/base/") == [
        "http://x.com/a",
        "http://y.com/b",
    ]


@needs_ref_html
def test_script_text_skipped():
    TEST_HTML = REF_HTML.read_text()
    root = parse_html(TEST_HTML)
    spans = extract_spans(TEST_HTML)
    assert not any("alert" in s[1] for s in spans)
    assert css_select(root, "title")[0].text() == "Title"

# --- tier-2 selector matrix (child, groups, attr operators, pseudo-classes;
# semantics per Nokogiri css() / CSS Selectors Level 3) ----------------------

RESULTS = """
<div id="wrap">
  <div class="results">
    <a href="/r/1" data-kind="story-item">one</a>
    <span><a href="/r/2">two</a></span>
    <a href="/r/3" data-kind="ad">three</a>
  </div>
  <td class="title"><a href="/t/1">tee</a></td>
  <ul id="l">
    <li>first</li>
    <li class="mid">second</li>
    <li>third</li>
    <li>fourth</li>
  </ul>
  <p lang="en-US">hello</p>
  <p lang="en">plain</p>
  <p lang="fr">bonjour</p>
</div>
"""


def _texts(sel, html=RESULTS):
    return [n.text() for n in css_select(parse_html(html), sel)]


def test_child_combinator():
    # div.results > a skips the span-nested link
    assert _texts("div.results > a") == ["one", "three"]
    assert _texts("div.results a") == ["one", "two", "three"]
    assert _texts("td.title > a") == ["tee"]
    # chained child
    assert _texts("#wrap > ul > li") == ["first", "second", "third", "fourth"]
    # child then descendant backtracking: span is a child of .results,
    # the a is a descendant of that span
    assert _texts("div.results > span a") == ["two"]


def test_comma_groups_document_order():
    assert _texts("td.title a, div.results > a") == ["one", "three", "tee"]
    # overlapping groups emit each node once
    assert _texts("a, .results a") == ["one", "two", "three", "tee"]


def test_attr_operators():
    assert _texts("a[href^=/r/]") == ["one", "two", "three"]
    assert _texts("a[href$=/1]") == ["one", "tee"]
    assert _texts("a[data-kind*=story]") == ["one"]
    assert _texts('a[data-kind~="ad"]') == ["three"]
    assert _texts("p[lang|=en]") == ["hello", "plain"]
    assert _texts("a[data-kind]") == ["one", "three"]


def test_structural_pseudo_classes():
    assert _texts("#l li:first-child") == ["first"]
    assert _texts("#l li:last-child") == ["fourth"]
    assert _texts("#l li:nth-child(2)") == ["second"]
    assert _texts("#l li:nth-child(odd)") == ["first", "third"]
    assert _texts("#l li:nth-child(even)") == ["second", "fourth"]
    assert _texts("#l li:nth-child(2n+1)") == ["first", "third"]
    assert _texts("#l li:nth-child(3n)") == ["third"]
    assert _texts("#l li:nth-child(-n+2)") == ["first", "second"]
    assert _texts("#l li:nth-child(n)") == ["first", "second", "third", "fourth"]
    # class + pseudo compound
    assert _texts("li.mid:nth-child(2)") == ["second"]
    assert _texts("li.mid:nth-child(3)") == []


def test_of_type_pseudo_classes():
    html = "<div><span>s1</span><p>p1</p><span>s2</span><p>p2</p></div>"
    assert _texts("span:nth-of-type(2)", html) == ["s2"]
    assert _texts("p:first-of-type", html) == ["p1"]


def test_unsupported_selector_raises():
    import pytest

    with pytest.raises(ValueError):
        css_select(parse_html(RESULTS), "a:hover")
    with pytest.raises(ValueError):
        css_select(parse_html(RESULTS), "> a")
    with pytest.raises(ValueError):
        css_select(parse_html(RESULTS), "div >")


# --- tier 3: sibling combinators, :not(), XML case-sensitive mode -----------


def test_adjacent_sibling_combinator():
    assert _texts("li.mid + li") == ["third"]
    assert _texts("#l li:first-child + li") == ["second"]
    assert _texts("td.title + ul li:first-child") == ["first"]
    # no previous sibling -> no match
    assert _texts("li + li.mid") == ["second"]
    assert _texts("li + li:first-child") == []
    # whitespace around the combinator is insignificant
    assert _texts("li.mid+li") == ["third"]


def test_general_sibling_combinator():
    assert _texts("li.mid ~ li") == ["third", "fourth"]
    assert _texts("p[lang|=en] ~ p") == ["plain", "bonjour"]
    assert _texts("p ~ p[lang=fr]") == ["bonjour"]
    # the + inside :nth-child(2n+1) is not a combinator
    assert _texts("li:first-child ~ li:nth-child(2n+1)") == ["third"]


def test_not_pseudo_class():
    assert _texts("div.results a:not([data-kind])") == ["two"]
    assert _texts("div.results > a:not(.x):not([data-kind*=ad])") == ["one"]
    assert _texts("#l li:not(:first-child)") == ["second", "third", "fourth"]
    assert _texts("#l li:not(.mid)") == ["first", "third", "fourth"]
    assert _texts("p:not([lang|=en])") == ["bonjour"]
    import pytest

    with pytest.raises(ValueError):
        css_select(parse_html(RESULTS), "a:not()")


def test_sibling_combinator_errors():
    import pytest

    for bad in ("+ a", "~ a", "a + + b", "a +"):
        with pytest.raises(ValueError):
            css_select(parse_html(RESULTS), bad)


XMLDOC = """<Root>
  <Item Kind="a"><Name>first</Name></Item>
  <item kind="b"><name>second</name></item>
  <Item Kind="c"><Name>third</Name></Item>
</Root>"""


def test_xml_mode_preserves_case():
    """Nokogiri::XML is case-sensitive (reference response.rb:42-44);
    html mode lowercases like Nokogiri::HTML."""
    root = parse_html(XMLDOC, clean=False, xml=True)
    assert [n.text() for n in css_select(root, "Item Name", xml=True)] == ["first", "third"]
    assert [n.text() for n in css_select(root, "item name", xml=True)] == ["second"]
    assert [n.text() for n in css_select(root, "Item[Kind=c] Name", xml=True)] == ["third"]
    # attribute NAME case matters in xml mode
    assert css_select(root, "Item[kind=c]", xml=True) == []
    # html mode folds everything
    hroot = parse_html(XMLDOC, clean=False)
    assert [n.text() for n in css_select(hroot, "item name")] == [
        "first", "second", "third",
    ]


def test_xml_mode_no_void_tags():
    # <link> is void in HTML but an ordinary container in XML (atom feeds)
    xml = "<feed><link>inside</link></feed>"
    root = parse_html(xml, clean=False, xml=True)
    assert [n.text() for n in css_select(root, "feed link", xml=True)] == ["inside"]
    # self-closing still works
    root2 = parse_html("<A><B/><C>x</C></A>", clean=False, xml=True)
    assert [n.tag for n in css_select(root2, "A *", xml=True)] == ["B", "C"]


# --- robots link gating (rel=nofollow / <meta name=robots>) ---

NOFOLLOW_DOC = """<html><body>
<a href="/keep">follow me</a>
<a href="/drop" rel="nofollow">paid link</a>
<a href="/drop2" rel="ugc NOFOLLOW sponsored">ugc</a>
<a href="/keep2" rel="author">fine</a>
</body></html>"""


def test_rel_nofollow_gates_links_not_spans():
    from sinew_spark.functions.htmlparse import extract_spans_and_links

    spans, links = extract_spans_and_links(NOFOLLOW_DOC, "text/html", "http://h.test/")
    # spans unchanged: all four anchors archive (text + href)
    link_spans = [(t, m) for k, t, m, _o in spans if k == "link"]
    assert link_spans == [
        ("follow me", "/keep"), ("paid link", "/drop"),
        ("ugc", "/drop2"), ("fine", "/keep2"),
    ]
    # links gated: nofollow hrefs never reach the frontier
    assert links == ["http://h.test/keep", "http://h.test/keep2"]
    # harvest mode: everything
    _s, all_links = extract_spans_and_links(
        NOFOLLOW_DOC, "text/html", "http://h.test/", nofollow=False
    )
    assert len(all_links) == 4


def test_meta_robots_nofollow_gates_all_links():
    from sinew_spark.functions.htmlparse import (
        extract_spans_and_links,
        page_robots_flags,
    )

    doc = ('<html><head><meta name="ROBOTS" content="NOINDEX, NOFOLLOW"></head>'
           '<body><a href="/x">x</a><a href="/y">y</a></body></html>')
    spans, links = extract_spans_and_links(doc, "text/html", "http://h.test/")
    assert links == []
    assert [m for k, _t, m, _o in spans if k == "link"] == ["/x", "/y"]
    assert page_robots_flags(doc) == (True, True)
    # 'none' implies both; other directives do not gate
    assert page_robots_flags(
        '<meta name="robots" content="none"><a href="/x">x</a>'
    ) == (True, True)
    assert page_robots_flags(
        '<meta name="robots" content="noarchive, max-snippet:-1"><a href="/x">x</a>'
    ) == (False, False)
    # name=description etc. untouched; missing meta -> no gating
    assert page_robots_flags('<meta name="description" content="nofollow">') == (
        False, False,
    )


class TestCanonical:
    """<link rel=canonical> extraction (RFC 6596) — page_canonical."""

    def test_absolute_and_relative(self):
        from sinew_spark.functions.htmlparse import page_canonical

        html = '<html><head><link rel="canonical" href="http://x.test/a"></head><body>b</body></html>'
        assert page_canonical(html, "http://x.test/a?utm=1") == "http://x.test/a"
        rel = '<head><link rel=canonical href="/base"></head><p>x</p>'
        assert page_canonical(rel, "http://y.test/deep/page") == "http://y.test/base"
        assert page_canonical(rel) == "/base"  # no base: raw href

    def test_first_wins_and_rel_token_list(self):
        from sinew_spark.functions.htmlparse import page_canonical

        html = (
            '<link rel="alternate canonical" href="http://x.test/1">'
            '<link rel="canonical" href="http://x.test/2">'
        )
        assert page_canonical(html, "http://x.test/") == "http://x.test/1"

    def test_absent_or_non_html(self):
        from sinew_spark.functions.htmlparse import page_canonical

        assert page_canonical("<p>no link</p>", "http://x.test/") is None
        assert page_canonical('<link rel="stylesheet" href="/s.css">', "http://x.test/") is None
        assert page_canonical('<link rel=canonical href="/a">', "http://x.test/", "application/json") is None

    def test_spans_unchanged_by_link_elements(self):
        from sinew_spark.functions.htmlparse import extract_spans

        with_link = '<head><link rel="canonical" href="/c"></head><body><p>hello</p><a href="/n">n</a></body>'
        without = "<head></head><body><p>hello</p><a href=\"/n\">n</a></body>"
        assert extract_spans(with_link) == extract_spans(without)


def test_extract_canonical_and_collapse(spark):
    """extract_canonical (Arrow batch) -> collapse_by_canonical (one
    shuffle): variants pointing at one canonical target fold to one
    identity whose representative is the canonical page itself."""
    from sinew_spark.operators.dedup import collapse_by_canonical
    from sinew_spark.operators.extract import extract_canonical

    rows = [
        # canonical page: declares nothing
        ("http://c.test/p/0", "<p>base</p>", "text/html"),
        # absolute canonical to /p/0
        ("http://c.test/p/1", '<link rel="canonical" href="http://c.test/p/0"><p>v1</p>', "text/html"),
        # relative canonical to /p/0
        ("http://c.test/p/2", '<link rel="canonical" href="/p/0"><p>v2</p>', "text/html"),
        # self-identity singleton
        ("http://c.test/q", "<p>q</p>", "text/html"),
    ]
    df = spark.createDataFrame(rows, "final_url string, resp_body string, content_type string")
    got = extract_canonical(df).toPandas().set_index("url")
    assert got.loc["http://c.test/p/1", "canonical"] == "http://c.test/p/0"
    assert got.loc["http://c.test/p/2", "canonical"] == "http://c.test/p/0"
    assert got.loc["http://c.test/p/0", "canonical"] is None
    out = (
        collapse_by_canonical(extract_canonical(df))
        .toPandas().set_index("canonical_identity").sort_index()
    )
    assert out.loc["http://c.test/p/0", "url"] == "http://c.test/p/0"
    assert int(out.loc["http://c.test/p/0", "n_variants"]) == 3
    assert out.loc["http://c.test/q", "url"] == "http://c.test/q"
    assert len(out) == 2


def test_collapse_representative_without_self(spark):
    """When the canonical target itself is absent, the smallest variant
    URL represents the identity (deterministic min_by struct order)."""
    from sinew_spark.operators.dedup import collapse_by_canonical

    rows = [
        ("http://c.test/b", "http://c.test/gone"),
        ("http://c.test/a", "http://c.test/gone"),
    ]
    df = spark.createDataFrame(rows, "url string, canonical string")
    out = collapse_by_canonical(df).collect()
    assert len(out) == 1
    assert out[0]["url"] == "http://c.test/a" and out[0]["n_variants"] == 2


def test_collapse_by_canonical_single_shuffle(spark):
    from sinew_spark.operators.dedup import collapse_by_canonical

    df = spark.createDataFrame(
        [("http://c.test/a", None)], "url string, canonical string"
    )
    plan = (
        collapse_by_canonical(df)._jdf.queryExecution().executedPlan().toString()
    )
    # one hash shuffle on the identity key; min_by partials combine map-side
    assert plan.count("Exchange hashpartitioning") == 1
