"""Deterministic HTML extraction kernels.

Re-implements the reference's extraction *decision order* —
``get_title`` (crawler.py:564-571, P6), ``extract_main_content``
(crawler.py:520-561, P7), ``extract_images`` (crawler.py:604-628, P10),
link discovery (crawler.py:1066-1072) and the ``<html lang>`` sniff
(crawler.py:1040-1043, P11) — over the constrained HTML dialect emitted
by ``fixtures/webgen.py``.

The container has neither BeautifulSoup/lxml nor trafilatura, so this
is a hand-rolled parser: tag tokens are found by regex, element
extents are resolved by a depth-counting matcher (``_element_span``) —
so arbitrarily nested same-tag elements (``<div>`` in ``<div>``,
``<nav>`` in ``<nav>``) extract correctly — and attributes go through
a real tokenizer (:func:`parse_attrs`) accepting the quoting dialects
browsers and BeautifulSoup accept: double-quoted, single-quoted,
unquoted, and bare boolean attributes, with case-insensitive attribute
and tag names and ``class`` matched by token membership. The tag
scanner is quote-aware — a literal ``>`` inside a quoted attribute
value does NOT end the tag token (round 4) — with a plain ``[^>]*``
fallback for degenerate tags carrying an unpaired quote, and comments
are handled explicitly (``-->``-terminated, stripped before element
scanning), per the round-4 advisor item. Remaining known gaps vs a
full HTML5 tree builder: CDATA and raw-text element content
(script/style bodies containing ``<``). The oracle
(``oracle/refcrawler.py``) calls these same kernels, so engine↔oracle
extraction equality is by construction; extraction *truth* is pinned
by direct unit tests over handcrafted nested/messy documents, and the
equivalence suite tests the scheduling semantics (ordering, seen-set,
politeness), which is the algorithmic content of the north rule.
"""

from __future__ import annotations

import re
from typing import NamedTuple

from .text import sniff_lang
from .urls import _url_meta, normalize_url
from urllib.parse import urljoin

# Quote-aware tag inside: a literal `>` within a quoted attribute value
# no longer ends the tag token (round 4). Round 5 (advisor item): a tag
# containing an UNPAIRED quote (e.g. unquoted O'Brien) makes the
# quote-aware form unmatchable, so every tag regex carries a plain
# ``[^>]*`` fallback alternative — the pre-round-4 scanner — tried only
# when the quote-aware form fails; a degenerate tag is then consumed as
# one token (ending at the first ``>``, as browsers' error recovery and
# the old scanner do) instead of leaking into extracted text.
# Comments are handled explicitly BEFORE tag scanning (``_COMMENT``,
# matched first in ``_TAG`` and stripped up front by the public
# kernels): per HTML only ``-->`` ends a comment, so both ``>`` and
# unpaired quotes are legal inside one. Residual gaps vs a full HTML5
# tree builder: CDATA sections and raw-text element content
# (script/style bodies containing ``<``) are not special-cased.
_IN = r"""(?:[^>"']|"[^"]*"|'[^']*')"""
_INF = rf"(?:{_IN}*|[^>]*)"
_COMMENT = re.compile(r"<!--.*?(?:-->|$)", re.DOTALL)
_TAG = re.compile(rf"{_COMMENT.pattern}|</?[a-zA-Z!?]{_INF}>", re.DOTALL)
_TITLE = re.compile(rf"<title{_INF}>(.*?)</title>",
                    re.IGNORECASE | re.DOTALL)
_H1 = re.compile(rf"<h1{_INF}>(.*?)</h1>", re.IGNORECASE | re.DOTALL)
_META = re.compile(rf"<meta\b({_IN}*|[^>]*)>", re.IGNORECASE)
_HTML_OPEN = re.compile(rf"<html\b({_IN}*|[^>]*)>", re.IGNORECASE)
_A_TAG = re.compile(rf"<a\b({_IN}*|[^>]*)>", re.IGNORECASE)
_IMG = re.compile(rf"<img\b({_IN}*|[^>]*)>", re.IGNORECASE)
_ANY_OPEN = re.compile(rf"<([a-zA-Z][a-zA-Z0-9]*)\b({_IN}*|[^>]*)>")


def _strip_comments(html: str) -> str:
    """Replace each comment with one space (only when one is present —
    the common no-comment page pays a substring scan). Public kernels
    call this up front so attribute/element regexes and the depth
    counter in :func:`_element_span` never see commented-out markup
    (BeautifulSoup parses comments as Comment nodes; a commented
    ``<div>`` must not desync span matching)."""
    return _COMMENT.sub(" ", html) if "<!--" in html else html


# One attribute token: name, then optionally = double-quoted /
# single-quoted / unquoted value (the three quoting forms browsers and
# BeautifulSoup accept; a bare name is a boolean attribute → "").
_ATTR_TOKEN = re.compile(
    r"""([a-zA-Z_:][-a-zA-Z0-9_:.]*)\s*"""
    r"""(?:=\s*(?:"([^"]*)"|'([^']*)'|([^\s"'=<>`]+)))?""",
    re.DOTALL)


# tag-inner → attrs memo (round-6): identical tag markup recurs across
# every page of a site (nav/header/footer boilerplate), and parse_attrs
# was 24% of the fetch kernel's profile. Callers treat the result as
# READ-ONLY (all call sites are .get()); the cap bounds a long-lived
# Python worker's memory and clearing is semantics-free.
_ATTRS_CACHE: dict[str, dict[str, str]] = {}
_ATTRS_CACHE_MAX = 1 << 16


def parse_attrs(tag_inner: str) -> dict[str, str]:
    """Attribute dict of one tag's inside (everything between the tag
    name and ``>``): names lowercased, first occurrence wins, values
    from any quoting form — the generic-HTML attribute handling the
    reference gets from BeautifulSoup (crawler.py:520-628 consumes
    ``meta[property/content]``, ``a[href]``, ``img[src/alt/...]``,
    ``html[lang]``, ``id``/``class`` selectors). Returns a memoized
    dict — do not mutate."""
    cached = _ATTRS_CACHE.get(tag_inner)
    if cached is not None:
        return cached
    out: dict[str, str] = {}
    for m in _ATTR_TOKEN.finditer(tag_inner):
        name = m.group(1).lower()
        if m.group(2) is not None:
            val = m.group(2)
        elif m.group(3) is not None:
            val = m.group(3)
        else:
            val = m.group(4) or ""
        if name not in out:
            out[name] = val
    if len(_ATTRS_CACHE) >= _ATTRS_CACHE_MAX:
        _ATTRS_CACHE.clear()
    _ATTRS_CACHE[tag_inner] = out
    return out


# Reference decomposes these before text extraction (crawler.py:558-561):
# tag names, exact class names, class substrings, and aria-hidden.
_STRIP_TAGS = ("nav", "header", "footer", "aside", "form", "script",
               "style", "iframe")
_STRIP_CLASSES = frozenset((
    "sidebar", "widget", "social-share", "related-posts", "comments",
    "comment", "advertisement", "ad", "ads"))
_STRIP_CLASS_SUBSTR = ("share", "related", "sidebar", "widget", "promo",
                       "cookie")
# Elements that never close — a nested matcher must not count them.
_VOID_TAGS = frozenset(
    "img br meta link input hr area base col embed source track wbr".split())
# Candidate selectors, in reference priority order (crawler.py:532-534):
# best (longest-text) match wins, accepted at ≥250 chars.
_CANDIDATES: list[tuple[str, str]] = [
    ("tag", "article"),
    ("tag", "main"),
    ("role", "main"),
    ("class", "post-content"),
    ("class", "entry-content"),
    ("class", "article-content"),
    ("class", "content-main"),
    ("class", "main-content"),
    ("id", "content"),
    ("class", "content"),
    ("class", "mw-parser-output"),
]
# Body-fallback skips these when hunting the densest element
# (crawler.py:546-548).
_SKIP_DENSE = frozenset(
    "nav header footer aside script style a form".split())


def get_text(fragment: str) -> str:
    """BeautifulSoup ``get_text(separator=' ', strip=True)`` analog for
    the fixture dialect: drop tags, collapse whitespace."""
    text = _TAG.sub(" ", fragment)
    return " ".join(text.split())


def text_len_strict(fragment: str) -> int:
    """``len(get_text(strip=True))`` analog — the metric the reference
    feeds its 250-char accept gate and densest-element comparison
    (crawler.py:536-553): tags split the fragment into text nodes, each
    node is stripped of leading/trailing whitespace, and the stripped
    nodes concatenate with no separator — so INTERIOR spaces within a
    text node count (the round-4 advisor item: the old whitespace-free
    count undercounted prose by ~15-20%, rejecting near-threshold
    candidates the reference would accept)."""
    return sum(len(node.strip()) for node in _TAG.split(fragment))


def _element_span(html: str, tag: str, open_end: int) -> tuple[int, int] | None:
    """``(inner_end, element_end)`` for the element whose open tag ends
    at ``open_end``: a depth counter over subsequent same-tag tokens
    finds the *matching* close, so nested same-tag elements resolve
    correctly (the stack-based matcher the reference gets for free from
    BeautifulSoup). Returns None for an unclosed element."""
    if tag.lower() in _VOID_TAGS:
        return open_end, open_end
    tok = re.compile(rf"<(/?){tag}\b{_INF}>", re.IGNORECASE)
    depth = 1
    for m in tok.finditer(html, open_end):
        if m.group(1):
            depth -= 1
            if depth == 0:
                return m.start(), m.end()
        elif not m.group(0).endswith("/>"):
            depth += 1
    return None


def _extract_element(html: str, kind: str, name: str) -> str | None:
    """First matching element's inner HTML (nesting-aware), or None.
    ``id`` matches exactly; ``class`` by token membership — the
    BeautifulSoup ``find(id=...)`` / ``find(class_=...)`` semantics the
    reference relies on (crawler.py:538-546)."""
    if kind == "tag":
        m = re.search(rf"<{name}\b{_INF}>", html, re.IGNORECASE)
        if not m:
            return None
        span = _element_span(html, name, m.end())
        return html[m.end():span[0]] if span else None
    for m in _ANY_OPEN.finditer(html):
        attrs = parse_attrs(m.group(2))
        if kind == "id":
            hit = attrs.get("id") == name
        elif kind == "role":
            hit = attrs.get("role") == name
        else:
            hit = name in attrs.get("class", "").split()
        if hit:
            span = _element_span(html, m.group(1), m.end())
            return html[m.end():span[0]] if span else None
    return None


def _strip_blocks(html: str) -> str:
    """Remove boilerplate elements with their entire (possibly nested)
    subtrees — the ``decompose()`` analog of crawler.py:558-561:
    boilerplate TAGS plus the sidebar/widget/share/related/promo/cookie
    class rules and ``aria-hidden="true"``."""
    pos = 0
    while True:
        m = _ANY_OPEN.search(html, pos)
        if not m:
            return html
        tag = m.group(1).lower()
        if tag in _VOID_TAGS:
            pos = m.end()
            continue
        strip = tag in _STRIP_TAGS
        if not strip and m.group(2):
            attrs = parse_attrs(m.group(2))
            cls = attrs.get("class", "")
            strip = (attrs.get("aria-hidden") == "true"
                     or (cls != "" and (
                         any(c in _STRIP_CLASSES for c in cls.split())
                         or any(s in cls for s in _STRIP_CLASS_SUBSTR))))
        if not strip:
            pos = m.end()
            continue
        span = _element_span(html, tag, m.end())
        if span is None:
            # unclosed boilerplate swallows the rest of the document
            return html[:m.start()]
        html = html[:m.start()] + " " + html[span[1]:]
        pos = m.start()


def _densest_element(body: str) -> str:
    """The densest (longest-text) non-boilerplate element inside the
    body — the reference's last-resort fallback (crawler.py:543-553:
    ``soup.body.find_all(True)`` minus nav/header/footer/aside/script/
    style/a/form, strictly-greater text length wins, default the body
    itself). Text length is :func:`text_len_strict` (the
    ``get_text(strip=True)`` metric); elements whose raw inner span
    cannot beat the current best are skipped without a text pass."""
    best, best_len = body, 0
    for m in _ANY_OPEN.finditer(body):
        tag = m.group(1).lower()
        if tag in _SKIP_DENSE or tag in _VOID_TAGS:
            continue
        span = _element_span(body, tag, m.end())
        if span is None:
            continue
        if span[0] - m.end() <= best_len:
            continue
        inner = body[m.end():span[0]]
        tlen = text_len_strict(inner)
        if tlen > best_len:
            best, best_len = inner, tlen
    return best


def _og_title(html: str) -> str | None:
    """content of the first ``<meta property="og:title">`` — attribute
    order and quoting free (BeautifulSoup ``find("meta",
    property="og:title")``, crawler.py:564-566)."""
    for m in _META.finditer(html):
        attrs = parse_attrs(m.group(1))
        if attrs.get("property") == "og:title":
            return attrs.get("content", "")
    return None


def get_title(html: str) -> str:
    """P6. Priority: og:title → <title> → first <h1> → 'Sans titre'
    (crawler.py:564-571)."""
    html = _strip_comments(html)
    og = _og_title(html)
    if og and og.strip():
        return og.strip()
    m = _TITLE.search(html)
    if m and m.group(1).strip():
        return m.group(1).strip()
    m = _H1.search(html)
    if m:
        return get_text(m.group(1))
    return "Sans titre"


def extract_main_content(html: str, selector: str | None = None) -> str:
    """P7 — the reference's extraction decision order (crawler.py:
    520-561) minus the trafilatura step (a third-party extraction
    library that is not in this container and whose output is not
    spec-able to byte equality; the surrounding decision order — its
    >250-char accept gate included — is the reference's own
    "heuristique maison" fallback, implemented here exactly):

    1. explicit site selector wins, returned WITHOUT boilerplate
       stripping (ref :523-526 returns immediately);
    2. else the best (longest-text) candidate selector from the full
       reference list (article/main/[role=main]/.post-content/... ,
       ref :532-540), accepted at ≥250 chars;
    3. else the densest non-boilerplate element inside <body>
       (ref :543-553); a document with no <body> yields "";
    4. boilerplate subtrees (tags + sidebar/widget/share/... classes +
       aria-hidden, ref :558-561) are decomposed from the chosen
       target before text extraction."""
    return extract_main_content_tagged(html, selector)[0]


def extract_main_content_tagged(html: str,
                                selector: str | None = None) -> tuple[str, str]:
    """(content, content_source) — ``content_source`` labels which
    branch of the reference's decision order produced the text:
    ``selector`` (site CSS selector, ref :523-526), ``candidate``
    (the ≥250-char best-candidate heuristic, ref :532-540) or
    ``fallback`` (densest-in-body, ref :543-553). Every non-``selector``
    row is a page where the reference would consult trafilatura FIRST —
    the column a trafilatura-equipped deployment uses to backfill."""
    html = _strip_comments(html)
    if selector:
        kind = "id" if selector.startswith("#") else "class" if selector.startswith(".") else "tag"
        inner = _extract_element(html, kind, selector.lstrip("#."))
        if inner is not None:
            return get_text(inner), "selector"
    best, best_len = None, 0
    for kind, name in _CANDIDATES:
        inner = _extract_element(html, kind, name)
        if inner is not None:
            text_len = text_len_strict(inner)
            if text_len > best_len:
                best, best_len = inner, text_len
    if best is not None and best_len >= 250:
        target, source = best, "candidate"
    else:
        body = _extract_element(html, "tag", "body")
        if body is None:
            return "", "fallback"
        target, source = _densest_element(body), "fallback"
    return get_text(_strip_blocks(target)), source


def get_lang_attr(html: str) -> str | None:
    m = _HTML_OPEN.search(_strip_comments(html))
    if not m:
        return None
    return parse_attrs(m.group(1)).get("lang")


def extract_images(html: str, base_url: str, max_images: int = 5) -> list[dict]:
    """P10 (crawler.py:604-628): ``src|data-src|data-lazy-src``, skip
    declared w/h < 100, absolutize, validity gate, URL-dedup, cap;
    ``alt or 'Image'`` doubles as description (the caption invariant)."""
    images: list[dict] = []
    seen: set[str] = set()
    for m in _IMG.finditer(_strip_comments(html)):
        if len(images) >= max_images:
            break
        attrs = parse_attrs(m.group(1))
        src = attrs.get("src") or attrs.get("data-src") or attrs.get("data-lazy-src")
        alt = (attrs.get("alt") or "").strip()
        if not src:
            continue
        width, height = attrs.get("width"), attrs.get("height")
        if width and height:
            try:
                if int(width) < 100 or int(height) < 100:
                    continue
            except (ValueError, TypeError):
                pass
        full_url = urljoin(base_url, src)
        if not _url_meta(full_url)[0]:
            continue
        if full_url not in seen:
            images.append({"url": full_url, "alt": alt or "Image", "description": alt or "Image"})
            seen.add(full_url)
    return images


def extract_links(html: str, final_url: str, seed_url: str) -> list[str]:
    """Link discovery (crawler.py:1066-1072): every ``<a href>`` in
    document order → ``normalize_url(urljoin(final_url, href))``,
    admitted if valid (F6) and same-domain vs the site seed (F7).
    Duplicates are kept — frontier-side dedup decides."""
    from .urls import _url_meta

    links: list[str] = []
    seed_netloc = _url_meta(seed_url)[1]
    for m in _A_TAG.finditer(_strip_comments(html)):
        href = parse_attrs(m.group(1)).get("href")
        if not href:
            continue
        full = normalize_url(urljoin(final_url, href))
        valid, netloc = _url_meta(full)
        if valid and netloc == seed_netloc:
            links.append(full)
    return links


class ParsedPage(NamedTuple):
    title: str
    content_raw: str
    lang_attr: str | None
    images: list[dict]
    links: list[str]
    content_source: str = "fallback"


def parse_page(html: str, final_url: str, seed_url: str,
               selector: str | None = None,
               extract_link_targets: bool = True) -> ParsedPage:
    """One-pass page parse used by both the fetch-round UDF and the
    oracle."""
    html = _strip_comments(html)
    content_raw, content_source = extract_main_content_tagged(html, selector)
    return ParsedPage(
        title=get_title(html),
        content_raw=content_raw,
        lang_attr=get_lang_attr(html),
        images=extract_images(html, final_url),
        links=extract_links(html, final_url, seed_url) if extract_link_targets else [],
        content_source=content_source,
    )


def sniff_lang_from_html(html: str, default: str = "fr") -> str:
    return sniff_lang(get_lang_attr(html), default)
