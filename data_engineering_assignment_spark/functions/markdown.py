"""Deterministic Markdown → text normalization — GitHub/docs dumps
are a major training-corpus class, and quality/dedup operators want
PROSE, with code fences and link targets carried as structure rather
than inline noise. Additive vs the reference (no text-normalization
route).

This is a documented DETERMINISTIC SUBSET of CommonMark, not a full
renderer (a renderer's ambiguity is exactly what an oracle-gated
pipeline can't have): ATX headings, fenced code blocks (backtick or
tilde, info string, unterminated runs to EOF per spec), inline links/
images/autolinks, emphasis/bold/strikethrough/code-span marker
stripping, blockquote and list-marker stripping, thematic breaks
dropped, inline HTML tags dropped. Everything else passes through as
prose. Never raises on any str input (text normalizers sit AFTER the
container dead-letter layer — malformed markup is content, and
content flows to the quality gates).

* :func:`parse_markdown` — one document → prose text + structure
  census (headings, links, images, fenced code blocks with language
  tags).
* :func:`build_markdown` — fixture twin.
"""

from __future__ import annotations

import re

_FENCE_RE = re.compile(r"^(`{3,}|~{3,})\s*(\S*)\s*$")
_ATX_RE = re.compile(r"^(#{1,6})\s+(.*?)\s*#*\s*$")
_BREAK_RE = re.compile(r"^ {0,3}((\*\s*){3,}|(-\s*){3,}|(_\s*){3,})$")
_LIST_RE = re.compile(r"^(\s*)([-+*]|\d{1,9}[.)])\s+")
_IMAGE_RE = re.compile(r"!\[([^\]]*)\]\(([^)\s]*)(?:\s+\"[^\"]*\")?\)")
_LINK_RE = re.compile(r"\[([^\]]*)\]\(([^)\s]*)(?:\s+\"[^\"]*\")?\)")
_AUTOLINK_RE = re.compile(r"<(https?://[^>\s]+)>")
_CODESPAN_RE = re.compile(r"`([^`]*)`")
_HTML_TAG_RE = re.compile(r"</?[A-Za-z][^>]*>")
_EMPH_RE = re.compile(
    r"(\*\*\*|\*\*|\*|~~)(?=\S)(.+?)(?<=\S)\1"
)
# underscore emphasis does NOT match intraword (CommonMark: snake_case
# identifiers in the target GitHub corpus must survive; review finding)
_EMPH_US_RE = re.compile(
    r"(?<!\w)(___|__|_)(?=\S)(.+?)(?<=\S)\1(?!\w)"
)


def _inline(
    text: str, links: list, images: list
) -> str:
    """Strip inline markup from one prose line, recording links and
    images (images are structure, not prose — the alt text does NOT
    join the text)."""
    text = _IMAGE_RE.sub(
        lambda m: (images.append((m.group(1), m.group(2))), "")[1], text
    )
    text = _LINK_RE.sub(
        lambda m: (links.append((m.group(1), m.group(2))), m.group(1))[1],
        text,
    )
    text = _AUTOLINK_RE.sub(
        lambda m: (links.append((m.group(1), m.group(1))), m.group(1))[1],
        text,
    )
    text = _CODESPAN_RE.sub(r"\1", text)
    text = _HTML_TAG_RE.sub("", text)
    # innermost-first emphasis stripping; bounded passes (***x*** is
    # two nested markers, never more than 3 layers in the grammar)
    for _ in range(3):
        stripped = _EMPH_US_RE.sub(r"\2", _EMPH_RE.sub(r"\2", text))
        if stripped == text:
            break
        text = stripped
    return text


def parse_markdown(content: str) -> dict:
    """Normalize one Markdown document → ``{"text", "headings":
    [(level, text), ...], "links": [(text, url), ...], "images":
    [(alt, url), ...], "code_blocks": [{"lang", "n_lines",
    "n_chars"}, ...], "n_lines", "n_words"}``.

    ``text`` is the prose (headings included as their own lines,
    code-fence CONTENT excluded, markers stripped per the module
    contract, whitespace-only lines dropped); ``n_lines``/``n_words``
    describe the prose."""
    headings: list[tuple] = []
    links: list[tuple] = []
    images: list[tuple] = []
    code_blocks: list[dict] = []
    out: list[str] = []
    fence: str | None = None
    code_lines = 0
    code_chars = 0
    lang = ""
    for raw in content.split("\n"):
        line = raw.rstrip("\r")
        if fence is not None:
            close = line.strip()
            if close.startswith(fence[0] * len(fence)) and not close.strip(
                fence[0]
            ):
                code_blocks.append(
                    {
                        "lang": lang or None,
                        "n_lines": code_lines,
                        "n_chars": code_chars,
                    }
                )
                fence = None
                continue
            code_lines += 1
            code_chars += len(line)
            continue
        fm = _FENCE_RE.match(line.strip())
        if fm is not None:
            fence = fm.group(1)
            lang = fm.group(2)
            code_lines = 0
            code_chars = 0
            continue
        if _BREAK_RE.match(line):
            continue
        # blockquote prefixes (possibly stacked)
        work = line
        while True:
            s = work.lstrip()
            if s.startswith(">"):
                work = s[1:]
                continue
            break
        work = _LIST_RE.sub("", work)
        hm = _ATX_RE.match(work)
        if hm is not None:
            htext = _inline(hm.group(2), links, images).strip()
            headings.append((len(hm.group(1)), htext))
            if htext:
                out.append(htext)
            continue
        plain = " ".join(_inline(work, links, images).split())
        if plain:
            out.append(plain)
    if fence is not None:  # unterminated fence runs to EOF (spec)
        code_blocks.append(
            {"lang": lang or None, "n_lines": code_lines,
             "n_chars": code_chars}
        )
    text = "\n".join(out)
    return {
        "text": text,
        "headings": headings,
        "links": links,
        "images": images,
        "code_blocks": code_blocks,
        "n_lines": len(out),
        "n_words": len(text.split()),
    }


def build_markdown(
    n_paras: int = 2,
    para_words: int = 5,
    headings: list[tuple] | None = None,
    links: list[tuple] | None = None,
    images: list[tuple] | None = None,
    code: list[tuple] | None = None,
) -> str:
    """Fixture twin: ``n_paras`` paragraphs of ``para_words`` words
    (the word "w" repeated), optional (level, text) headings,
    (text, url) links, (alt, url) images, (lang, [lines]) fenced
    blocks — in a fixed order (heading_i, para_i, extras on the last
    paragraph)."""
    lines: list[str] = []
    headings = list(headings or [])
    for i in range(n_paras):
        if i < len(headings):
            lvl, text = headings[i]
            lines.append("#" * lvl + " " + text)
            lines.append("")
        words = ["w"] * para_words
        if i == n_paras - 1:
            for t, u in links or []:
                words.append(f"[{t}]({u})")
            for a, u in images or []:
                words.append(f"![{a}]({u})")
        lines.append(" ".join(words))
        lines.append("")
    for lang, body in code or []:
        lines.append(f"```{lang}")
        lines.extend(body)
        lines.append("```")
        lines.append("")
    return "\n".join(lines)
