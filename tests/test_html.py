"""HTML kernel contract, ported from html_test.go plus FIXTURES.md §3.

The reference delegates to html-to-markdown v2 (html.go:32); its tests are
substring/property assertions, which we port, plus exact-string goldens we
pin ourselves (we own the fixtures — SURVEY.md §2.3).
"""

from marky_spark.kernels.base import IMAGE, segments_text
from marky_spark.kernels.htmlk import convert_html, html_to_markdown


def test_simple_html():
    # html_test.go:91-99
    got = html_to_markdown(
        '<h2>Title</h2>\n<p>Simple paragraph with <em>emphasis</em>.</p>\n'
        '<a href="https://example.com">Link</a>'
    )
    assert got == "## Title\n\nSimple paragraph with *emphasis*.\n\n[Link](https://example.com)"


def test_headings_all_levels():
    got = html_to_markdown("<h1>a</h1><h3>b</h3><h6>c</h6>")
    assert got == "# a\n\n### b\n\n###### c"


def test_strong_and_nested_inline():
    got = html_to_markdown("<p>This is a <strong>test</strong> paragraph.</p>")
    assert got == "This is a **test** paragraph."


def test_lists():
    # FIXTURES.md: ul→'* ', ol→'N. '
    got = html_to_markdown("<ul><li>Item 1</li><li>Item 2</li></ul>")
    assert got == "* Item 1\n* Item 2"
    got = html_to_markdown("<ol><li>One</li><li>Two</li></ol>")
    assert got == "1. One\n2. Two"


def test_nested_list():
    got = html_to_markdown(
        "<ul><li>a<ul><li>b</li></ul></li><li>c</li></ul>"
    )
    assert got == "* a\n  * b\n* c"


def test_table():
    # html_test.go:124-166 — thead/tbody table content preserved as pipe table
    got = html_to_markdown(
        "<table><thead><tr><th>Name</th><th>Age</th></tr></thead>"
        "<tbody><tr><td>John</td><td>30</td></tr></tbody></table>"
    )
    assert got == "| Name | Age |\n| --- | --- |\n| John | 30 |"


def test_entities_decoded():
    # html_test.go:168-195
    got = html_to_markdown("<p>&lt;tag&gt; &amp; &quot;quoted&quot;</p>")
    assert got == '<tag> & "quoted"'


def test_inline_code_and_pre():
    # html_test.go:197-227
    got = html_to_markdown("<p>Use <code>x = 1</code> here.</p>")
    assert got == "Use `x = 1` here."
    got = html_to_markdown("<pre><code>line1\nline2</code></pre>")
    assert got == "```\nline1\nline2\n```"


def test_blockquote():
    got = html_to_markdown("<blockquote><p>quoted text</p></blockquote>")
    assert got == "> quoted text"


def test_blockquote_inline_children_are_one_paragraph():
    """Consecutive inline children of a blockquote render as a <p> does."""
    got = convert_html("<blockquote><em>x</em> y <a href=u>l</a></blockquote>",
                       strip=False)
    assert got == [("markdown", "> *x* y [l](u)", "")]
    img = convert_html("<blockquote><img src=q alt=b></blockquote>",
                       strip=False)
    assert img == convert_html(
        "<blockquote><p><img src=q alt=b></p></blockquote>", strip=False)
    assert img == [("markdown", "> ", ""), ("image", "![b](q)", "q")]
    mixed = "<blockquote>t <b>u</b><p>p</p>v</blockquote>"
    assert html_to_markdown(mixed, strip=False) == "> t **u**\n>\n> p\n>\n> v"


def test_self_closed_non_void_element_opens():
    """HTML5 ignores the self-closing flag on a non-void element: the
    text after ``<li/>`` belongs to that item, in both tokenizers."""
    from marky_spark.kernels.htmlk import parse_html, parse_html_stdlib

    snippet = "<ul><li>a<li/>b</ul>"
    assert html_to_markdown(snippet, strip=False) == "* a\n* b"
    for parse in (parse_html, parse_html_stdlib):
        ul = parse(snippet).children[0]
        assert [li.children for li in ul.children] == [["a"], ["b"]]
    # a void element stays empty, and so does a self-closed script
    assert html_to_markdown("<p>a<br/>b</p><script/>c", strip=False) \
        == "a\nb\n\nc"


def test_xhtml_self_closed_element_is_empty():
    """A page that declares the XHTML namespace reads ``<a id=x/>`` as an
    empty element, as XML does: the heading and paragraph after it keep
    their blocks, in both tokenizers and under every strip mode."""
    from marky_spark.kernels.htmlk import parse_html, parse_html_stdlib

    page = ('<html xmlns="http://www.w3.org/1999/xhtml"><body>'
            '<a id="x"/><h1>T</h1><p>b <b/>c</p><ul><li>a<li/>d</ul>'
            '</body></html>')
    for strip in (True, "blacklist", False):
        assert html_to_markdown(page, strip=strip) == "# T\n\nb c\n\n* a\n* "
    for parse in (parse_html, parse_html_stdlib):
        body = parse(page).children[0].children[0]
        assert [c.tag for c in body.children] == ["a", "h1", "p", "ul"]
        assert body.children[0].children == []
    # the same markup in text/html: the flag is ignored on a non-void element
    assert parse_html(page, xhtml=False).children[0].children[0] \
        .children[0].children[0].tag == "h1"


def test_hr_and_br():
    assert html_to_markdown("<p>a<br>b</p><hr>") == "a\nb\n\n---"


def test_malformed_html_tolerated():
    # html_test.go:260-286 — unclosed tags never error
    got = html_to_markdown("<p>Unclosed <b>bold <p>next para")
    assert "Unclosed" in got and "next para" in got


def test_unicode_preserved():
    # html_test.go:288-322
    got = html_to_markdown("<p>中文 emoji 😀 العربية</p>")
    assert got == "中文 emoji 😀 العربية"


def test_image_becomes_media_span():
    # FIXTURES.md §3: <img> → kind='image' span with media_ref=src
    segs = convert_html('<p>before <img alt="a" src="x.png"> after</p>')
    kinds = [s[0] for s in segs]
    assert IMAGE in kinds
    img = next(s for s in segs if s[0] == IMAGE)
    assert img == ("image", "![a](x.png)", "x.png")
    assert segments_text(segs) == "before ![a](x.png) after"


def test_boilerplate_stripped_docusaurus_style():
    # test_files/test.html motivating case: nav/footer/aside chrome dropped
    page = """
    <html><head><title>t</title><script>var x=1;</script>
    <style>.a{color:red}</style></head>
    <body>
    <nav><a href="/">Home</a><a href="/blog">Blog</a><a href="/docs">Docs</a></nav>
    <div class="sidebar"><a href="/p1">Post 1</a> <a href="/p2">Post 2</a> <a href="/p3">Post 3</a></div>
    <article>
      <h1>Real Article</h1>
      <p>This is the actual content of the page, long enough to dominate the
      text mass of the document and therefore survive density pruning.</p>
      <p>Second paragraph with a <a href="https://example.com">real link</a>
      inside flowing prose that keeps the link density low.</p>
    </article>
    <footer><a href="/tos">Terms</a><a href="/privacy">Privacy</a></footer>
    </body></html>
    """
    got = html_to_markdown(page)
    assert "# Real Article" in got
    assert "actual content" in got
    assert "Home" not in got          # nav dropped
    assert "Post 1" not in got        # link-dense sidebar pruned
    assert "Terms" not in got         # footer dropped
    assert "var x=1" not in got       # script dropped
    assert "color:red" not in got     # style dropped


def test_small_fixture_survives_pruning():
    # a standalone link must NOT be treated as boilerplate
    got = html_to_markdown('<a href="https://example.com">Link</a>')
    assert got == "[Link](https://example.com)"


def test_empty_html():
    # html_test.go:103-124 — empty input → minimal output
    assert html_to_markdown("") == ""


def test_div_soup_paragraphs():
    got = html_to_markdown("<div><div>first</div><div>second</div></div>")
    assert got == "first\n\nsecond"


def test_whitespace_collapsed():
    got = html_to_markdown("<p>a\n   b\t c</p>")
    assert got == "a b c"


# --- differential: fast tokenizer vs stdlib html.parser baseline ---

TRICKY_SNIPPETS = [
    "<p>a<p>b<p>c",                                   # implied closes
    "<ul><li>x<li>y</ul>",
    "<div><span>unclosed",
    "text only, no tags at all & an entity",
    '<a href="x?a=1&amp;b=2">q</a>',
    "<br/><hr /><img src='s.png' alt=unquoted>",
    "<script>if (a<b && c>d) {}</script><p>after</p>",
    "<style>p>a{color:red}</style><p>ok</p>",
    "<!-- comment with <p>fake tags</p> --><p>real</p>",
    "<!DOCTYPE html><html><body><p>x</p></body></html>",
    "<P>UPPER<B>case</B> tags</P>",
    "<td>stray table cell</td>",
    "<p title='it&#39;s'>entity in attr</p>",
    "<table><tr><td>a<td>b<tr><td>c</table>",
    "<pre>  keep   spaces  </pre>",
    "<p>emoji 😀 &amp; CJK 中文</p>",
    "<input type=checkbox checked><p>after void</p>",
    "<div a b=2 c='3'>attr soup</div>",
    "<p>trailing <",
    "<>< p>< /p>",
    "<ul><li>a<li/>b</ul>",                           # self-closed non-void
    '<html xmlns="http://www.w3.org/1999/xhtml">'    # … and in XHTML
    "<ul><li>a<li/>b</ul><p>c<p/>d<a id=x/><h1>e</h1></html>",
]


def test_fast_tokenizer_matches_stdlib_on_snippets():
    from marky_spark.kernels.htmlk import parse_html, parse_html_stdlib

    def render(tree):
        # compare through the public behavior: emitted markdown segments
        from marky_spark.kernels.htmlk import _Emitter, _blocks_join

        em = _Emitter()
        em.dispatch(tree)
        return _blocks_join(em.blocks)

    for snippet in TRICKY_SNIPPETS:
        fast = render(parse_html(snippet))
        ref = render(parse_html_stdlib(snippet))
        assert fast == ref, f"divergence on {snippet!r}:\n{fast}\nvs\n{ref}"


def test_fast_tokenizer_matches_stdlib_on_real_page():
    from marky_spark.kernels.htmlk import (
        _Emitter,
        _blocks_join,
        parse_html,
        parse_html_stdlib,
        strip_boilerplate,
    )

    raw = open("/root/reference/test_files/test.html", encoding="utf-8").read()

    def md_of(parser):
        em = _Emitter()
        em.dispatch(strip_boilerplate(parser(raw)))
        return _blocks_join(em.blocks)

    assert md_of(parse_html) == md_of(parse_html_stdlib)


def test_fast_tokenizer_golden_inputs_identical():
    from marky_spark.corpus import GOLDEN_CASES
    from marky_spark.kernels.htmlk import convert_html, parse_html_stdlib
    import marky_spark.kernels.htmlk as H

    html_cases = [
        c for c in GOLDEN_CASES
        if c["spans"][0][0] == "html"
    ]
    for case in html_cases:
        text = case["spans"][0][1]
        fast = convert_html(text)
        orig_parse = H.parse_html
        H.parse_html = parse_html_stdlib
        try:
            ref = convert_html(text)
        finally:
            H.parse_html = orig_parse
        assert fast == ref, case["doc_id"]


def test_adversarial_deep_nesting_bounded():
    # 3000 nested <b> must not blow the recursion limit (depth cap)
    out = html_to_markdown("a<b>" * 3000)
    assert isinstance(out, str) and "a" in out
    out = html_to_markdown("<div>" * 5000 + "text")
    assert "text" in out


# --- property-based differential: random structured HTML ---

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _TAGS = ["p", "div", "span", "em", "strong", "ul", "li", "h2",
             "blockquote", "code", "pre", "table", "tr", "td", "a"]
    _texts = st.text(
        alphabet=st.characters(
            blacklist_characters="<>&",
            blacklist_categories=("Cs",),
        ),
        max_size=20,
    )

    @st.composite
    def _html_tree(draw, depth=0):
        if depth >= 3 or draw(st.booleans()):
            return draw(_texts)
        tag = draw(st.sampled_from(_TAGS))
        n = draw(st.integers(min_value=0, max_value=3))
        inner = "".join(draw(_html_tree(depth + 1)) for _ in range(n))
        attr = ""
        if tag == "a" and draw(st.booleans()):
            href = draw(st.text(alphabet="abcxyz:/.", max_size=12))
            attr = f' href="{href}"'
        return f"<{tag}{attr}>{inner}</{tag}>"

    @given(_html_tree())
    @settings(max_examples=300, deadline=None)
    def test_fast_tokenizer_matches_stdlib_on_random_trees(doc):
        from marky_spark.kernels.htmlk import (
            _Emitter,
            _blocks_join,
            _parts_text,
            parse_html,
            parse_html_stdlib,
        )

        def md_of(parser):
            em = _Emitter()
            em.dispatch(parser(doc))
            return _parts_text(_blocks_join(em.blocks))

        assert md_of(parse_html) == md_of(parse_html_stdlib)
except ImportError:  # pragma: no cover
    pass


def test_unclosed_cells_keep_all_table_rows():
    """<tr> after an unclosed <td> must close both td AND tr (legacy HTML)."""
    from marky_spark.kernels.htmlk import html_to_markdown

    out = html_to_markdown(
        "<table><tr><td>a<td>b<tr><td>c<td>d</table>", strip=False)
    assert out == "| a | b |\n| --- | --- |\n| c | d |"


def test_br_inside_cell_keeps_row_on_one_line():
    from marky_spark.kernels.htmlk import html_to_markdown

    out = html_to_markdown(
        "<table><tr><td>a<br>b</td><td>x</td></tr></table>", strip=False)
    assert out.splitlines()[0] == "| a b | x |"


def test_safety_net_fallback_never_leaks_script():
    """When density pruning removes all text, the raw-tree fallback must
    still drop blacklist subtrees."""
    from marky_spark.kernels.htmlk import html_to_markdown

    links = "<a href='u'>link</a>" * 9
    page = ("<html><body><script>var secret=1;</script>"
            + "".join("<div>" + links + "</div>" for _ in range(4))
            + "</body></html>")
    assert "secret" not in html_to_markdown(page)


def test_real_script_style_elements_never_leak_under_soup():
    """Any ACTUAL script/style element's content must be suppressed even
    amid surrounding malformed markup (the blacklist + rawtext contract).
    '<script' swallowed into another tag's attribute soup is out of scope —
    per the HTML5 tokenizer that text is not script content."""
    import random

    from marky_spark.kernels.htmlk import convert_html

    rng = random.Random(3)
    noise = ["<p>", "</div>", "<", ">", "<!--", "text ", "</b>", "<br>",
             "<li>", "</table>", "<em>ok</em>"]
    for _ in range(2000):
        pre = "".join(rng.choice(noise) for _ in range(rng.randint(0, 6)))
        post = "".join(rng.choice(noise) for _ in range(rng.randint(0, 6)))
        # the script element starts at top level (not inside a tag's attrs)
        doc = pre + ("" if pre.endswith("<") else "") + \
            "<p>x</p><script>ZZSECRETZZ</script>" + post
        out = "".join(s[1] for s in convert_html(doc))
        assert "ZZSECRETZZ" not in out, doc


# --- output pins over the shapes the frozen goldens miss ---
#
# The 2000-doc frozen goldens carry no mega html doc and no link. Each row
# below is the md5 of every ``convert_html`` segment over one generated
# shape: the durable benchmark shape's html docs (mega docs included),
# link-dense pages that density pruning cuts (and pages that fall back to
# the blacklist-only tree), pages with images, entity/rawtext/unclosed-tag
# soup, and the same pages under ``strip="blacklist"``.

import hashlib
import random

_PIN_WORDS = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
              "lambda mu nu xi omicron pi rho sigma tau upsilon").split()


def _pin_words(rng, n):
    return " ".join(rng.choice(_PIN_WORDS) for _ in range(n))


def _pin_durable_docs():
    from marky_spark.corpus import _pick_kind, make_synth_doc

    return [make_synth_doc(i, mega_every=50, mega_factor=100)["spans"][0]["text"]
            for i in range(2000) if _pick_kind(i) == "html"]


def _pin_link_block(rng, tag, n_links, words=1):
    links = " ".join(f'<a href="/u{rng.randint(0, 99)}?a=1&amp;b=2">'
                     f"{_pin_words(rng, words)}</a>" for _ in range(n_links))
    if tag in ("ul", "ol", "menu"):
        return f"<{tag}>" + "".join(f"<li>{links}</li>" for _ in range(2)) \
            + f"</{tag}>"
    if tag == "table":
        return f"<table><tr><td>{links}</td><td>x</td></tr></table>"
    return f"<{tag} class='c'>{links}</{tag}>"


def _pin_link_pages():
    rng = random.Random(17)
    pages = []
    for k in range(300):
        parts = ["<html><head><title>t</title><script>var s=1;</script>"
                 "</head><body>"]
        if rng.random() < 0.5:
            parts.append(_pin_link_block(rng, "nav", 4))
        for _ in range(rng.randint(1, 6)):
            r = rng.random()
            if r < 0.4:
                tag = rng.choice(["div", "section", "header", "ul", "ol",
                                  "table", "menu"])
                parts.append(_pin_link_block(rng, tag, rng.randint(1, 12),
                                             rng.randint(1, 3)))
            elif r < 0.8:
                inner = _pin_words(rng, rng.randint(3, 60))
                if rng.random() < 0.5:
                    inner += f' <a href="https://e.x/{k}">{_pin_words(rng, 2)}</a>'
                wrap = rng.choice(["p", "div", "article", "section"])
                parts.append(f"<{wrap}><p>{inner}</p></{wrap}>")
            else:
                parts.append(f"<div><div>{_pin_link_block(rng, 'div', 3)}"
                             f"<p>{_pin_words(rng, rng.randint(0, 8))}</p>"
                             "</div></div>")
        if rng.random() < 0.3:
            parts.append("<footer><a href='/tos'>Terms</a></footer>")
        parts.append("</body></html>")
        pages.append("".join(parts))
    # all text inside link-dense containers: pruning empties the page and
    # the blacklist-only fallback is what is emitted
    links = "<a href='u'>link</a>" * 9
    for n in range(1, 6):
        pages.append("<html><body><script>var secret=1;</script>"
                     + "".join("<div>" + links + "</div>" for _ in range(n))
                     + "</body></html>")
        pages.append("<section>" + "<ul><li><a href='#'>a</a></li>"
                     "<li><a href='#'>b</a></li></ul>" * n + "</section>")
    return pages


def _pin_image_pages():
    rng = random.Random(23)
    shapes = [
        '<p><img src="{s}" alt="{a}"></p>',
        '<p>{w} <img alt=" {a}  x " src="{s}"> {w}</p>',
        '<a href="/l"><img src="{s}" alt="{a}"></a>',
        '<ul><li>{w} <img src="{s}"></li><li><img src="{s}" alt="{a}"></li></ul>',
        '<blockquote><p>{w}</p><img src="{s}" alt="{a}">\n{w}</blockquote>',
        '<table><tr><td><img src="{s}" alt="{a}"></td><td>{w}</td></tr></table>',
        '<h2>{w} <img src="{s}" alt="{a}"></h2>',
        '<div><img src="{s}"><img src="{s}" alt="{a}"></div>{w}',
        '<em><img src="{s}" alt="{a}"></em> <strong>{w}<img src="{s}"></strong>',
        '<img src="{s}" alt="&amp;{a}&lt;">',
        '<p>   <img src="{s}">   </p><p> </p>',
        '<a><img src="{s}"></a><a href="">  </a>',
    ]
    pages = []
    for k in range(200):
        body = "".join(
            rng.choice(shapes).format(s=f"img/{k}-{j}.png",
                                      a=_pin_words(rng, rng.randint(0, 3)),
                                      w=_pin_words(rng, rng.randint(0, 5)))
            for j in range(rng.randint(1, 5)))
        pages.append(f"<html><body>{body}</body></html>")
    return pages


def _pin_soup_pages():
    rng = random.Random(29)
    noise = [
        "<p>", "</p>", "<div>", "</div>", "<b>", "</b>", "<em>", "</i>",
        "<li>", "<ul>", "</ul>", "<ol>", "<table>", "<tr>", "<td>", "<th>",
        "</table>", "<br>", "<br/>", "<hr>", "<h3>", "</h3>", "<pre>",
        "</pre>", "<code>", "</code>", "<blockquote>", "</blockquote>",
        "<a href='x&amp;y'>", "</a>", "<a>", "<", ">", "</", "<!--",
        "-->", "<!DOCTYPE html>", "<?php x ?>", "<![CDATA[c]]>",
        "<script>if (a<b) {}</script>", "<style>p>a{}</style>",
        "<script>never closed", "<STYLE>x</style >", "<p class=a b='c'>",
        "&amp;", "&lt;", "&gt;", "&quot;", "&#39;", "&#x1F600;", "&nbsp;",
        "&bogus;", "&amp", "&#0;", "&copy", " ", "  \n\t ", "\n", "word",
        "中文", "😀", "<del>", "</del>", "<dl><dt>t<dd>d</dl>",
        "<img src=q.png alt='a&amp;b'>", "<input>", "<nav>", "</nav>",
        "<span title='&#39;'>", "</span>", "<P>", "<DiV>",
    ]
    pages = []
    for _ in range(400):
        pages.append("".join(rng.choice(noise)
                             for _ in range(rng.randint(1, 60))))
    return pages


def _pin_md5(pages, strip=True):
    h = hashlib.md5()
    for page in pages:
        h.update(repr(convert_html(page, strip=strip)).encode(
            "utf-8", "surrogatepass"))
        h.update(b"\x00")
    return h.hexdigest()


HTML_PINS = {
    "durable_synth": "7eb4fea8894a92df874c11bc5696bd9b",
    "link_dense": "1322fd1584dcb86639036e716a5be7a7",
    # images, soup, blacklist_soup: blockquotes with inline children now
    # render as one paragraph (their pages hold such blockquotes); the
    # parent's values were a731bb95…, 8b6a274e… and cb6d6e36…
    "images": "516f6e0585f248d8ca8098236ccb6916",
    "soup": "57e1db5e3365b2214fdea6e284495dfb",
    "blacklist_link_dense": "607b7a5c48f2283175ae0c0116c5edf8",
    "blacklist_soup": "b89ef2d1c6ba032c2e67259ad758dafd",
}


def _pin_cases():
    link, imgs, soup = _pin_link_pages(), _pin_image_pages(), _pin_soup_pages()
    return {
        "durable_synth": (_pin_durable_docs(), True),
        "link_dense": (link, True),
        "images": (imgs, True),
        "soup": (soup, True),
        "blacklist_link_dense": (link, "blacklist"),
        "blacklist_soup": (soup, "blacklist"),
    }


def test_html_output_pins():
    got = {name: _pin_md5(pages, strip)
           for name, (pages, strip) in _pin_cases().items()}
    assert got == HTML_PINS
