"""Dependency-free HTML -> text extraction for crawl pipelines — the
step between WARC ingest (``sources.warc_records``) and every text
operator the engine already has (quality heuristics, predict_lang, dedup,
decontaminate). Additive vs the reference, which has no crawl route
(its media handling stops at image color analytics,
Assignment-python.py:654-661); every real WARC-to-training-data
pipeline (CCNet, RefinedWeb) needs main-text extraction here.

Built on the stdlib ``html.parser`` state machine (not regex: script
bodies legally contain ``<`` and quoted ``</fake>`` sequences that
naive tag-stripping mangles; HTMLParser's CDATA mode handles
script/style content correctly and never raises on the malformed tag
soup real crawls are full of).

Deterministic extraction contract (what a DuckDB twin can re-derive on
closed-form fixtures, the warc_crawl_stats oracle pattern):

* subtree-dropped elements: ``script style noscript template head
  iframe svg`` (with ``<title>`` captured separately before the drop);
* comments, doctypes and processing instructions dropped;
* character/entity references decoded (HTMLParser convert_charrefs);
* block-level boundaries (``p div h1-h6 li br tr ...``) end the
  current line; inline tags (``b i a span ...``) do not;
* within a line, whitespace runs collapse to single spaces (UNICODE
  whitespace included — ``&nbsp;`` folds into the collapse) and empty
  lines vanish; lines join with ``\\n``.
"""

from __future__ import annotations

from html.parser import HTMLParser

_DROP = {"script", "style", "noscript", "template", "head", "iframe", "svg"}

_BLOCK = {
    "address", "article", "aside", "blockquote", "br", "caption", "dd",
    "div", "dl", "dt", "fieldset", "figcaption", "figure", "footer",
    "form", "h1", "h2", "h3", "h4", "h5", "h6", "header", "hr", "li",
    "main", "nav", "ol", "option", "p", "pre", "section", "select",
    "table", "tbody", "td", "tfoot", "th", "thead", "tr", "ul",
}


_BOILER = {"nav", "header", "footer", "aside"}  # structural chrome


class _Extractor(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._parts: list[str] = []
        # (text, in_boiler, anchor_chars) per flushed line
        self.lines: list[tuple[str, bool, int]] = []
        self._drop = 0
        self._boiler = 0
        self._line_anchor_chars = 0
        self._in_title = False
        self._title_done = False  # first <title> wins (svg:title etc.)
        self._title_parts: list[str] = []
        self.links: list[tuple[str, str, bool]] = []
        self.robots: list[str] = []  # meta-robots tokens, first-seen order
        self.canonical: str | None = None  # first <link rel=canonical>
        self.description: str | None = None  # meta description precedence
        self._og_description: str | None = None
        # structured data (r15): JSON-LD @type census + OpenGraph
        # properties — the in-page metadata a corpus-curation user
        # reads right after canonical/robots
        self.ld_types: list[str] = []  # @type values, document order
        self.ld_blocks = 0  # ld+json script blocks seen (ok + bad)
        self.ld_errors = 0  # blocks whose body failed json.loads
        self.og: list[tuple[str, str]] = []  # (property, content)
        self._og_seen: set[str] = set()  # first value per property wins
        self._in_ldjson = False
        self._ld_parts: list[str] = []
        # drop-depth EXCLUDING <head>: head content is dropped from the
        # text but its metadata (title/meta/link) is authoritative,
        # while the same elements inside template/noscript/iframe/svg
        # are INERT and must not set page-level signals (r14 review:
        # a <template> fragment's noindex wrongly dropped real pages)
        self._nonhead_drop = 0
        self._href: str | None = None
        self._nofollow = False
        self._anchor: list[str] = []  # full anchor text (the link record)
        self._anchor_line: list[str] = []  # anchor text since last flush

    def _credit_anchor_line(self) -> None:
        # Per-line anchor accounting: an <a> legally wrapping block
        # elements (HTML5) contributes to EACH line it spans, so the
        # chars accumulated since the last flush are credited to the
        # line being flushed, not lumped onto the line where the anchor
        # happens to end (which would let a nav-wide anchor's early
        # lines pass the link-density gate as pure prose).
        if self._href is not None:
            self._line_anchor_chars += len(
                " ".join("".join(self._anchor_line).split())
            )
        self._anchor_line = []

    def _flush(self) -> None:
        self._credit_anchor_line()
        if self._href is not None:
            # a block boundary inside an open anchor renders as a break:
            # keep a separator in the link text so 'line1</p><p>line2'
            # doesn't fuse into 'line1line2'
            self._anchor.append(" ")
        text = " ".join("".join(self._parts).split())
        if text:
            self.lines.append(
                (text, self._boiler > 0, self._line_anchor_chars)
            )
        self._parts = []
        self._line_anchor_chars = 0

    def _end_anchor(self) -> None:
        if self._href is not None:
            anchor = " ".join("".join(self._anchor).split())
            self.links.append((self._href, anchor, self._nofollow))
            self._credit_anchor_line()
        self._href = None
        self._nofollow = False
        self._anchor = []
        self._anchor_line = []

    def handle_starttag(self, tag, attrs):
        if tag == "title" and not self._title_done and not self._nonhead_drop:
            self._in_title = True
        if tag == "meta" and not self._nonhead_drop:
            # meta robots directives live in <head>, which the text
            # extractor otherwise drops — read them BEFORE the drop
            # gate (the <title> rule). Only the generic 'robots' name:
            # per-agent names are a politeness-policy concern upstream.
            a = dict(attrs)
            name = (a.get("name") or "").strip().lower()
            if name == "robots":
                for tok in (a.get("content") or "").lower().split(","):
                    tok = tok.strip()
                    if tok and tok not in self.robots:
                        self.robots.append(tok)
            elif name == "description":
                if self.description is None and a.get("content"):
                    self.description = a["content"]
            prop = (a.get("property") or "").strip().lower()
            if prop == "og:description":
                if self._og_description is None and a.get("content"):
                    self._og_description = a["content"]
            if prop.startswith("og:") and a.get("content") is not None:
                # OpenGraph census: every og:* property, first value
                # per property wins (the og:description rule)
                if prop not in self._og_seen:
                    self._og_seen.add(prop)
                    self.og.append((prop, a["content"]))
        if tag == "script" and not self._nonhead_drop:
            # JSON-LD blocks live in <head> or <body>; their bodies are
            # dropped from the text but the @type census is page
            # metadata — same authoritative/inert split as meta/link
            # (a <template>'s ld+json must not set page signals)
            a = dict(attrs)
            stype = (a.get("type") or "").strip().lower()
            if stype == "application/ld+json":
                self._in_ldjson = True
                self._ld_parts = []
        if tag == "link" and not self._nonhead_drop:
            # <link rel=canonical>: the in-page dedup signal — URL
            # variants of one page declare a shared canonical target.
            # First declaration wins (real pages sometimes repeat it).
            a = dict(attrs)
            rel = set((a.get("rel") or "").lower().split())
            if "canonical" in rel and a.get("href") and self.canonical is None:
                self.canonical = a["href"]
        if tag in _DROP:
            self._drop += 1
            if tag != "head":
                self._nonhead_drop += 1
            return
        if self._drop:
            return
        if tag in _BLOCK:
            self._flush()
        if tag in _BOILER:
            self._boiler += 1
        if tag == "a":
            self._end_anchor()  # tag soup: an <a> implicitly closes one
            a = dict(attrs)
            self._href = a.get("href")
            # link-level opt-outs: rel tokens nofollow/ugc/sponsored all
            # mean "don't count this edge" to a link graph
            self._nofollow = bool(
                {"nofollow", "ugc", "sponsored"}
                & set((a.get("rel") or "").lower().split())
            )
            self._anchor = []

    def _end_ldjson(self) -> None:
        import json

        self._in_ldjson = False
        self.ld_blocks += 1
        try:
            node = json.loads("".join(self._ld_parts))
        except (ValueError, RecursionError):
            # malformed blocks are countable content errors, never a
            # page dead-letter (tolerant about content); a pathological
            # nesting depth is the same class — parse_html never raises
            self.ld_errors += 1
            return
        finally:
            self._ld_parts = []
        self._collect_ld_types(node)

    def _collect_ld_types(self, node, depth: int = 0) -> None:
        """@type census: top-level object, top-level array, and @graph
        members (the three spec-shaped block forms) — nested entity
        types are out of scope (a Product's nested Offer is the
        Product's detail, not a page-level block). Depth-capped so a
        pathological @graph-of-@graph chain can't recurse unboundedly."""
        if depth > 8:
            return
        if isinstance(node, list):
            for x in node:
                self._collect_ld_types(x, depth + 1)
        elif isinstance(node, dict):
            t = node.get("@type")
            if isinstance(t, str):
                self.ld_types.append(t)
            elif isinstance(t, list):
                self.ld_types.extend(x for x in t if isinstance(x, str))
            g = node.get("@graph")
            if isinstance(g, list):
                self._collect_ld_types(g, depth + 1)

    def handle_endtag(self, tag):
        if tag == "title" and self._in_title:
            self._in_title = False
            self._title_done = True
        if tag == "script" and self._in_ldjson:
            self._end_ldjson()
        if tag in _DROP:
            if self._drop:
                self._drop -= 1
            if tag != "head" and self._nonhead_drop:
                self._nonhead_drop -= 1
            return
        if self._drop:
            return
        if tag in _BLOCK:
            self._flush()
            if tag in _BOILER and self._boiler:
                self._boiler -= 1
        elif tag == "a":
            self._end_anchor()

    def handle_data(self, data):
        if self._in_title:
            self._title_parts.append(data)
            return
        if self._in_ldjson:
            # script bodies are CDATA — collected for the JSON parse,
            # always excluded from the text
            self._ld_parts.append(data)
            return
        if self._drop:
            return
        self._parts.append(data)
        if self._href is not None:
            self._anchor.append(data)
            self._anchor_line.append(data)

    @property
    def title(self) -> str | None:
        t = " ".join("".join(self._title_parts).split())
        return t or None

    def close(self):
        super().close()
        if self._in_ldjson:
            # EOF inside an unclosed ld+json script: still a block
            # (usually a countable error — truncated JSON)
            self._end_ldjson()
        self._end_anchor()
        self._flush()

    def result_text(self) -> str:
        return "\n".join(t for t, _, _ in self.lines)

    def result_main_text(self, max_link_density: float = 0.5) -> str:
        """Lines surviving the boilerplate gates: not inside structural
        chrome (nav/header/footer/aside) and with anchor-text density
        (collapsed anchor chars / collapsed line chars) <= the cap —
        the link-density heuristic every main-content extractor uses
        (nav bars and link farms are mostly anchor text; prose is not).
        """
        return "\n".join(
            t
            for t, boiler, achars in self.lines
            if not boiler and achars <= max_link_density * len(t)
        )


def parse_html(html: str) -> dict:
    """Extract {text, main_text, title, links, robots} from an HTML
    string — text per the module contract; main_text additionally drops
    structural chrome (nav/header/footer/aside subtree lines) and lines
    whose anchor-text density exceeds 1/2 (the link-density heuristic:
    nav bars and link lists are mostly anchor chars, prose is not);
    title from ``<title>`` (even though <head> content is otherwise
    dropped); links as (href, anchor_text, nofollow) triples in
    document order (links inside dropped subtrees excluded; nofollow
    true when rel carries nofollow/ugc/sponsored — the tokens a link
    graph must not count); robots as the ``<meta name=robots>``
    directive tokens in first-seen order (noindex/nofollow/none/... —
    the in-page opt-outs a C4-style corpus and a frontier must honor);
    canonical as the first ``<link rel=canonical>`` href (the in-page
    dedup signal — possibly relative, resolve against the page URI);
    description as ``<meta name=description>`` falling back to
    ``og:description`` (first of each wins);
    ld_types as the JSON-LD ``@type`` census in document order
    (``<script type="application/ld+json">`` blocks — top-level
    object/array and ``@graph`` members; nested entity types out of
    scope) with ld_blocks/ld_errors counting blocks seen and blocks
    whose body failed the JSON parse (countable content errors, never
    a page dead-letter); og as (property, content) pairs for every
    ``og:*`` meta, first value per property winning. Structured-data
    elements inside inert subtrees (template/noscript/iframe/svg) set
    nothing, same as robots/canonical."""
    p = _Extractor()
    p.feed(html)
    p.close()
    return {
        "text": p.result_text(),
        "main_text": p.result_main_text(),
        "title": p.title,
        "links": p.links,
        "robots": p.robots,
        "canonical": p.canonical,
        "description": (
            p.description if p.description is not None else p._og_description
        ),
        "ld_types": p.ld_types,
        "ld_blocks": p.ld_blocks,
        "ld_errors": p.ld_errors,
        "og": p.og,
    }


def decode_html_bytes(raw: bytes, content_type: str | None = None) -> str:
    """Charset-aware decode of crawled HTML bytes — real crawls are not
    all UTF-8. Precedence per the WHATWG encoding sniff: a BOM wins
    (UTF-8 / UTF-16 LE / BE), then a ``charset=`` token in the HTTP
    Content-Type header, then a ``<meta ... charset=...>`` inside the
    first 1024 bytes, then UTF-8; unknown charset names fall through to
    UTF-8. Always decodes with ``errors='replace'`` (dead-letter rows
    are for unreadable CONTAINERS; mojibake text must still flow to the
    quality gates that will score it down)."""
    import re as _re

    if raw[:3] == b"\xef\xbb\xbf":
        return raw[3:].decode("utf-8", "replace")
    if raw[:2] == b"\xff\xfe":
        return raw[2:].decode("utf-16-le", "replace")
    if raw[:2] == b"\xfe\xff":
        return raw[2:].decode("utf-16-be", "replace")
    enc = None
    if content_type:
        m = _re.search(r"charset=[\"']?([\w.-]+)", content_type, _re.I)
        if m:
            enc = m.group(1)
    if enc is None:
        head = raw[:1024].decode("latin-1", "replace")
        m = _re.search(r"<meta[^>]+charset=[\"']?([\w.-]+)", head, _re.I)
        if m:
            enc = m.group(1)
    if enc:
        try:
            return raw.decode(enc, "replace")
        except LookupError:
            pass
    return raw.decode("utf-8", "replace")
