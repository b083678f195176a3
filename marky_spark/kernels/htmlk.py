r"""HTML → Markdown kernel, built from scratch on ``html.parser``.

Replaces the reference's html-to-markdown v2 dependency (html.go:26-38) with
a three-stage stdlib pipeline, per the north rule ("tokenize HTML
byte-streams, strip boilerplate via DOM-tree heuristics"):

1. **Tokenize → DOM**: one regex pass builds a lightweight element tree
   (malformed HTML never errors — html_test.go:260-286 contract). Each
   element's subtree text statistics are folded in when the tokenizer
   closes it, so the strip stage never walks the tree to measure it.
2. **Boilerplate strip**: hard tag blacklist (script/style/head/nav/footer/
   aside/form/svg/…) plus link-density pruning of container blocks
   (Kohlschütter et al., WSDM 2010 shallow-text-features lineage): a
   container whose linked-text ratio ≥ 0.66 with ≥ 2 links and ≤ 40% of the
   document text is chrome, not content. If pruning would leave no text the
   original tree is kept (small-fixture safety).
3. **Markdown emit** matching the reference test contract (html_test.go):
   ``hN→#×N`` (:91-93), ``em→*…*`` (:94-96), ``strong→**…**``,
   ``a→[t](u)`` (:97-99), ``code→\`…\``` + ``pre→fence`` (:220-226), entity
   decode (:188-195), pipe tables (:159-165), ``ul/ol→*/N.``,
   ``blockquote→>``, Unicode preserved (:288-322). Images become standalone
   ``kind='image'`` segments carrying ``media_ref=src`` (FIXTURES.md §3).
"""

from __future__ import annotations

import re
from html import unescape as _html_unescape
from html.parser import HTMLParser

from .base import ConvertError, Segment, image, md

# ---------------------------------------------------------------------------
# Stage 1 — tolerant DOM builder
# ---------------------------------------------------------------------------

_VOID_TAGS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)

# cap DOM depth (browsers cap around 512): deeper elements attach flat at
# the cap, which bounds recursion in every downstream tree walk — without it
# adversarial nesting ("<b>"*3000) exceeds Python's recursion limit
_MAX_DEPTH = 240

# start of tag X implicitly closes an open tag Y (simplified HTML5 rules)
_IMPLIED_CLOSE = {
    "p": {"p"},
    "li": {"li"},
    "tr": {"tr", "td", "th"},
    "td": {"td", "th"},
    "th": {"td", "th"},
    "dd": {"dd", "dt"},
    "dt": {"dd", "dt"},
    "option": {"option"},
}

_DROP_TAGS = frozenset(
    (
        "script style noscript template head title meta link base nav footer "
        "aside form button svg iframe object embed canvas select input "
        "textarea audio video dialog"
    ).split()
)


class Element:
    """One element. ``stats`` is ``[text, linked, links, elements, drops]``
    of its subtree, complete once the tokenizer has closed it: collapsed
    text length, the part of it inside links, ``<a>`` count, element count
    (blacklisted subtrees count as one element and nothing else) and the
    number of blacklisted subtrees. The strip stage's rebuilt copies do not
    carry them: only a tokenizer's tree does."""

    __slots__ = ("tag", "attrs", "children", "stats")

    def __init__(self, tag: str, attrs: dict[str, str]):
        self.tag = tag
        self.attrs = attrs
        self.children: list[Element | str] = []
        self.stats = [0, 0, 0, 1, 0]


def _text_len(text: str) -> int:
    # collapsed-and-stripped length; split() is whitespace-identical to \s+
    return len(" ".join(text.split()))


def _fold(el: Element, into: list[int]) -> None:
    """Add closed element ``el``'s subtree stats to its parent's."""
    if el.tag in _DROP_TAGS:
        into[3] += 1
        into[4] += 1
        return
    s = el.stats
    if el.tag == "a":
        s[1] = s[0]
        s[2] += 1
    into[0] += s[0]
    into[1] += s[1]
    into[2] += s[2]
    into[3] += s[3]
    into[4] += s[4]


def _close(stack: list[Element], i: int) -> None:
    """Close the open elements ``stack[i:]``, innermost first."""
    while len(stack) > i:
        el = stack.pop()
        _fold(el, stack[-1].stats)


class _DomBuilder(HTMLParser):
    def __init__(self, xhtml: bool) -> None:
        super().__init__(convert_charrefs=True)
        self.root = Element("#root", {})
        self.stack = [self.root]
        self.xhtml = xhtml

    def handle_starttag(self, tag: str, attrs, empty: bool = False) -> None:
        stack = self.stack
        closes = _IMPLIED_CLOSE.get(tag)
        i = len(stack)
        while closes and i > 1 and stack[i - 1].tag in closes:
            i -= 1
        _close(stack, i)
        el = Element(tag, {k: (v or "") for k, v in attrs})
        stack[-1].children.append(el)
        if not empty and tag not in _VOID_TAGS and len(stack) < _MAX_DEPTH:
            stack.append(el)
        else:
            _fold(el, stack[-1].stats)

    def handle_startendtag(self, tag: str, attrs) -> None:
        # a self-closed script or style stays empty: html.parser reads no
        # raw text after one
        self.handle_starttag(tag, attrs, self.xhtml or tag in _RAWTEXT_TAGS)

    def handle_endtag(self, tag: str) -> None:
        # close the nearest matching open element; ignore stray end tags
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                _close(self.stack, i)
                return

    def handle_data(self, data: str) -> None:
        if data:
            top = self.stack[-1]
            top.children.append(data)
            top.stats[0] += _text_len(data)


def parse_html_stdlib(text: str, xhtml: bool | None = None) -> Element:
    """Reference tokenizer: stdlib html.parser (kept as the differential
    baseline for the fast tokenizer below; tests assert identical output on
    goldens, real pages, and a tricky-snippet corpus). ``xhtml`` as in
    :func:`parse_html`."""
    builder = _DomBuilder(_is_xhtml(text) if xhtml is None else xhtml)
    builder.feed(text)
    builder.close()
    _close(builder.stack, 1)
    return builder.root


# -- fast tokenizer ----------------------------------------------------------

# one pass, one regex: comments / doctype-decls / end tags / start tags / text
_TOKEN_RE = re.compile(
    r"<!--.*?(?:-->|$)"                 # comment (unterminated → to EOF)
    r"|<!\[CDATA\[.*?(?:\]\]>|$)"       # CDATA
    r"|<![^>]*>?"                        # doctype / other declarations
    r"|<\?[^>]*>?"                       # processing instruction
    r"|</\s*([a-zA-Z][-a-zA-Z0-9:._]*)\s*>"      # end tag   (group 1)
    r"|<([a-zA-Z][-a-zA-Z0-9:._]*)"              # start tag (group 2) …
    r"((?:\s+[^\s=/>]+(?:\s*=\s*(?:\"[^\"]*\"|'[^']*'|[^\s>]*))?)*)"  # attrs (3)
    r"\s*(/?)>?",                                 # self-closing flag (group 4)
    re.DOTALL,
)

_ATTR_RE = re.compile(
    r"([^\s=/>]+)(?:\s*=\s*(\"[^\"]*\"|'[^']*'|[^\s>]*))?"
)

# content of these runs verbatim until the matching close tag (HTML rawtext)
# exactly html.parser's CDATA_CONTENT_ELEMENTS: the differential contract
# (fast tree == stdlib tree) requires the same rawtext set; textarea/title
# are RCDATA in HTML5 but html.parser tokenizes them normally.
# Scope note: rawtext suppression applies to ACTUAL script/style elements.
# A '<script' swallowed into a malformed preceding tag's attribute soup
# (e.g. '<p <script>x') never opens an element — matching the HTML5
# tokenizer's attribute-name state, where '<' is a plain attr char — so 'x'
# is genuinely text in the DOM, not script content (fuzz-verified: every
# such case is attr-soup swallowing, identical to browser semantics).
_RAWTEXT_TAGS = frozenset(("script", "style"))

_RAWTEXT_CLOSE = {
    t: re.compile(rf"</\s*{t}\s*>", re.IGNORECASE) for t in _RAWTEXT_TAGS
}


_XHTML_NS = "http://www.w3.org/1999/xhtml"
_XHTML_NS_RE = re.compile(r"""xmlns\s*=\s*["']?http://www\.w3\.org/1999/xhtml""")


def _is_xhtml(text: str) -> bool:
    """True when ``text`` declares the XHTML namespace."""
    return _XHTML_NS in text and _XHTML_NS_RE.search(text) is not None


def _decode(text: str) -> str:
    """Entity decode only when an ampersand is present (html.unescape is
    surprisingly expensive on entity-free text)."""
    if "&" in text:
        return _html_unescape(text)
    return text


def parse_html(text: str, xhtml: bool | None = None) -> Element:
    """Fast tolerant tokenizer → same DOM as :func:`parse_html_stdlib`.

    html.parser's pure-Python goahead() was ~45% of the HTML kernel; this
    single-regex scanner produces the same Element tree for the tolerant
    subset we emit from (verified differentially in tests/test_html.py).

    ``xhtml``: a self-closed element is empty, as XML reads ``<a/>``;
    otherwise (text/html) HTML5 ignores the self-closing flag on a
    non-void element, so ``<li/>b`` puts ``b`` in that item. None: XHTML
    when the text declares the XHTML namespace."""
    if xhtml is None:
        xhtml = _is_xhtml(text)
    root = Element("#root", {})
    stack = [root]
    kids, stats = root.children, root.stats
    pos = 0
    n = len(text)
    while pos < n:
        # restarted only after a rawtext element, whose body is skipped
        for m in _TOKEN_RE.finditer(text, pos):
            start, end = m.span()
            if pos < start:
                chunk = _decode(text[pos:start])
                kids.append(chunk)
                stats[0] += _text_len(chunk)
            pos = end
            end_tag, start_tag, raw_attrs, slash = m.groups()
            if end_tag is not None:
                tag = end_tag.lower()
                i = len(stack) - 1
                while i and stack[i].tag != tag:
                    i -= 1
                if i:
                    _close(stack, i)
                    kids, stats = stack[-1].children, stack[-1].stats
                continue
            if start_tag is None:
                continue  # comment / doctype / PI
            tag = start_tag.lower()
            attrs: dict[str, str] = {}
            if raw_attrs:
                for name, value in _ATTR_RE.findall(raw_attrs):
                    if len(value) >= 2 and value[0] in "\"'" and value[0] == value[-1]:
                        value = value[1:-1]
                    attrs[name.lower()] = _decode(value)

            closes = _IMPLIED_CLOSE.get(tag)
            if closes and stack[-1].tag in closes:
                i = len(stack) - 1
                while i > 1 and stack[i - 1].tag in closes:
                    i -= 1
                _close(stack, i)
                kids, stats = stack[-1].children, stack[-1].stats
            el = Element(tag, attrs)
            kids.append(el)
            # a self-closed script or style stays empty, as in the stdlib
            # tokenizer, which reads no raw text after one
            if tag in _VOID_TAGS or len(stack) >= _MAX_DEPTH or (
                    slash and (xhtml or tag in _RAWTEXT_TAGS)):
                _fold(el, stats)
            elif tag in _RAWTEXT_TAGS:
                cm = _RAWTEXT_CLOSE[tag].search(text, pos)
                raw_end = cm.start() if cm else n
                if raw_end > pos:
                    el.children.append(text[pos:raw_end])
                pos = cm.end() if cm else n
                _fold(el, stats)
                break
            else:
                stack.append(el)
                kids, stats = el.children, el.stats
        else:
            if pos < n:
                chunk = _decode(text[pos:])
                kids.append(chunk)
                stats[0] += _text_len(chunk)
            break

    _close(stack, 1)
    return root


# ---------------------------------------------------------------------------
# Stage 2 — boilerplate strip
# ---------------------------------------------------------------------------

_PRUNE_CANDIDATES = frozenset("div section header ul ol table menu".split())


def strip_boilerplate(root: Element) -> Element:
    doc_text = root.stats[0]
    cut = 0  # text of the pruned containers

    def prune(node: Element) -> Element | None:
        """Non-destructive: returns the ORIGINAL node when its subtree is
        untouched, a rebuilt copy only on the path to a dropped descendant
        — the original tree stays intact so the safety net below can
        genuinely fall back to it."""
        nonlocal cut
        if node.tag in _DROP_TAGS:
            return None
        total, linked, links, elements, drops = node.stats
        # neither density rule fires below 2 links: nothing here changes
        if not drops and links < 2:
            return node
        if node.tag in _PRUNE_CANDIDATES and doc_text > 0:
            small_share = total <= 0.4 * doc_text
            link_density = linked / total if total else 1.0
            # shallow-text-feature scoring (Kohlschütter WSDM'10 lineage):
            # (a) link-dominated block: most of its text is anchor text, or
            # (b) low text density + substantial link share: markup-heavy
            # chrome (menus, tag clouds, pagination) — few chars per element
            if small_share and (
                (total > 0 and links >= 2 and link_density >= 0.66)
                or (links >= 3 and link_density >= 0.5
                    and total / elements < 12.0)
            ):
                cut += total
                return None
        changed = False
        kept: list[Element | str] = []
        for ch in node.children:
            if isinstance(ch, Element):
                p = prune(ch)
                if p is not ch:
                    changed = True
                if p is not None:
                    kept.append(p)
            else:
                kept.append(ch)
        if not changed:
            return node
        new = Element(node.tag, node.attrs)
        new.children = kept
        return new

    pruned = prune(root)
    if pruned is None or (doc_text > 0 and cut == doc_text):
        # density pruning nuked everything — fall back to the original tree
        # minus the hard-blacklist subtrees (script/style/nav/... must never
        # leak into output, even on the safety path)
        return _drop_tags_only(root)
    return pruned


def _drop_tags_only(node: Element) -> Element:
    if not node.stats[4]:
        return node
    new = Element(node.tag, node.attrs)
    new.children = [
        (_drop_tags_only(c) if isinstance(c, Element) else c)
        for c in node.children
        if not (isinstance(c, Element) and c.tag in _DROP_TAGS)
    ]
    return new


# ---------------------------------------------------------------------------
# Stage 3 — Markdown emitter
# ---------------------------------------------------------------------------
#
# Every emit step works on plain strings. ``convert_html`` gives the emitter
# a sentinel: then an image travels inside the strings as the code
# ``<sent><index><sent>``, where ``sent`` is a lone surrogate the document
# does not contain (entity decoding never yields one, so no text or
# attribute of the tree holds it, and no whitespace rule touches it), and
# ``convert_html`` splits the codes out into image segments at the end.
# An emitter without a sentinel writes each image as ``![alt](src)`` in
# place, so its blocks are the document's whole text.

_BLOCK_TAGS = frozenset(
    (
        "p h1 h2 h3 h4 h5 h6 ul ol table pre blockquote hr div section "
        "article main body html figure figcaption address details summary "
        "center dl dd dt li tr #root"
    ).split()
)

_HEADINGS = {"h1": "# ", "h2": "## ", "h3": "### ", "h4": "#### ",
             "h5": "##### ", "h6": "###### "}

_WRAPS = {"em": "*", "i": "*", "strong": "**", "b": "**",
          "del": "~~", "s": "~~", "strike": "~~"}

_SENT = "\udfff"


def _sentinel(text: str) -> str:
    """The image-code delimiter for a document: a lone surrogate that
    ``text`` does not contain."""
    if _SENT not in text:
        return _SENT
    for cp in range(0xDFFE, 0xD7FF, -1):
        if chr(cp) not in text:
            return chr(cp)
    raise ConvertError("document holds every lone surrogate")


def _collapse(text: str) -> str:
    """Each whitespace run → one space, as ``re.sub(r"\\s+", " ", text)``."""
    if "  " not in text and text.isprintable():
        return text  # its only whitespace is single spaces
    words = text.split()
    if not words:
        return " " if text else ""
    out = " ".join(words)
    if text[0].isspace():
        out = " " + out
    if text[-1].isspace():
        out += " "
    return out


def _raw_text(node: Element | str) -> str:
    """Verbatim text content (for <pre>/<code>)."""
    if isinstance(node, str):
        return node
    return "".join([_raw_text(c) for c in node.children])


class _Emitter:
    def __init__(self, sent: str | None = None,
                 images: list[tuple[str, str]] | None = None) -> None:
        self.blocks: list[str] = []
        self.sent = sent
        self.images = [] if images is None else images

    # -- inline ------------------------------------------------------------

    def inline(self, node: Element | str) -> str:
        if isinstance(node, str):
            return _collapse(node)
        tag = node.tag
        marker = _WRAPS.get(tag)
        if marker is not None:
            text = self._children_inline(node).strip()
            return f"{marker}{text}{marker}" if text else ""
        if tag == "a":
            text = self._children_inline(node).strip()
            href = node.attrs.get("href", "")
            return f"[{text}]({href})" if href else text
        if tag == "br":
            return "\n"
        if tag == "img":
            alt = _collapse(node.attrs.get("alt", "")).strip()
            src = node.attrs.get("src", "")
            if self.sent is None:
                return f"![{alt}]({src})"
            self.images.append((alt, src))
            return f"{self.sent}{len(self.images) - 1}{self.sent}"
        if tag == "code":
            return f"`{_raw_text(node)}`"
        return self._children_inline(node)

    def _children_inline(self, node: Element) -> str:
        return "".join([
            _collapse(c) if isinstance(c, str) else self.inline(c)
            for c in node.children
        ])

    # -- blocks ------------------------------------------------------------

    def block(self, node: Element) -> None:
        tag = node.tag
        if tag == "p":
            self._add(self._children_inline(node).strip())
            return
        if tag in _HEADINGS:
            text = self._children_inline(node).strip()
            if text:
                self.blocks.append(_HEADINGS[tag] + text)
            return
        if tag in ("ul", "ol"):
            self._add(self._list(node, depth=0))
            return
        if tag == "hr":
            self.blocks.append("---")
            return
        if tag == "pre":
            body = _raw_text(node).strip("\n")
            self.blocks.append(f"```\n{body}\n```")
            return
        if tag == "table":
            self._table(node)
            return
        if tag == "blockquote":
            sub = _Emitter(self.sent, self.images)
            sub._container(node)
            if sub.blocks:
                self.blocks.append(_quote(_blocks_join(sub.blocks)))
            return
        self._container(node)

    def _container(self, node: Element) -> None:
        """Children block-wise; each run of inline children is one
        paragraph, rendered as a ``<p>`` renders its children."""
        run: list[str] = []
        for child in node.children:
            if isinstance(child, str):
                run.append(_collapse(child))
            elif child.tag in _BLOCK_TAGS:
                if run:
                    self._add("".join(run).strip())
                    run = []
                self.block(child)
            else:
                run.append(self.inline(child))
        if run:
            self._add("".join(run).strip())

    def dispatch(self, node: Element | str) -> None:
        if isinstance(node, str):
            if node.strip():
                self.blocks.append(_collapse(node).strip())
            return
        self.block(node)

    # -- list / table helpers ------------------------------------------------

    def _list(self, node: Element, depth: int) -> str:
        ordered = node.tag == "ol"
        indent = "  " * depth
        items: list[str] = []
        for child in node.children:
            if isinstance(child, str) or child.tag != "li":
                continue
            marker = f"{len(items) + 1}. " if ordered else "* "
            line: list[str] = []
            nested: list[str] = []
            for sub in child.children:
                if not isinstance(sub, str) and sub.tag in ("ul", "ol"):
                    nested.append(self._list(sub, depth + 1))
                else:
                    line.append(self.inline(sub))
            item = indent + marker + "".join(line).strip()
            sub_lists = "".join(nested)
            items.append(f"{item}\n{sub_lists}" if sub_lists else item)
        return "\n".join(items)

    def _table(self, node: Element) -> None:
        from .mdtable import to_markdown_table

        rows: list[list[str]] = []

        def walk_rows(el: Element) -> None:
            for child in el.children:
                if isinstance(child, str):
                    continue
                if child.tag == "tr":
                    cells = [
                        _parts_text(self._children_inline(c), self.images,
                                    self.sent).replace("\n", " ").strip()
                        for c in child.children
                        if not isinstance(c, str) and c.tag in ("td", "th")
                    ]
                    if cells:
                        rows.append(cells)
                elif child.tag in ("thead", "tbody", "tfoot"):
                    walk_rows(child)

        walk_rows(node)
        self._add(to_markdown_table(rows).rstrip("\n"))

    def _add(self, text: str) -> None:
        if text:
            self.blocks.append(text)


def _parts_text(text: str, images: list[tuple[str, str]] = (),
                sent: str | None = None) -> str:
    """``text`` with each image code replaced by its ``![alt](src)``
    (unchanged when it was emitted without a sentinel)."""
    if sent is None or sent not in text:
        return text
    parts = text.split(sent)
    for i in range(1, len(parts), 2):
        alt, src = images[int(parts[i])]
        parts[i] = f"![{alt}]({src})"
    return "".join(parts)


def _blocks_join(blocks: list[str]) -> str:
    return "\n\n".join(blocks)


def _quote(text: str) -> str:
    """Prefix every line with '> ' (images kept inline on their line)."""
    return "> " + text.replace("\n", "\n> ").replace("> \n", ">\n")


# ---------------------------------------------------------------------------
# Entry point
# ---------------------------------------------------------------------------


def convert_html(text: str, strip: bool | str = True,
                 xhtml: bool | None = None) -> list[Segment]:
    """Full HTML→Markdown conversion to ordered segments.

    ``strip``: True → blacklist + density/link-density pruning (web pages,
    where chrome heuristics earn their keep); ``"blacklist"`` → drop only
    the hard-blacklist subtrees (script/style/nav/…) without density
    pruning — for trusted book-like content (EPUB chapters) where a
    link-dense page IS the content (TOC, index) and the reference's
    html-to-markdown keeps it; False → raw tree (tests only). ``xhtml`` as
    in :func:`parse_html`: True for input known to be XHTML (EPUB chapters).
    """
    root = parse_html(text, xhtml)
    if strip == "blacklist":
        root = _drop_tags_only(root)
    elif strip:
        root = strip_boilerplate(root)
    emitter = _Emitter(_sentinel(text))
    emitter.dispatch(root)
    out = _blocks_join(emitter.blocks)
    if not emitter.images:
        return [md(out)] if out else []

    segments: list[Segment] = []
    for i, part in enumerate(out.split(emitter.sent)):
        if i % 2:
            alt, src = emitter.images[int(part)]
            segments.append(image(f"![{alt}]({src})", src))
        elif part:
            segments.append(md(part))
    return segments


def html_to_markdown(text: str, strip: bool = True) -> str:
    from .base import segments_text

    return segments_text(convert_html(text, strip=strip))
