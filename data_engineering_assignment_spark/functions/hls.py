"""Dependency-free HLS playlist (M3U8, RFC 8216) parsing — the
manifest layer of the streaming-media census (functions/mp4.py covers
the fMP4/CMAF segments those manifests point at). Additive vs the
reference (no media route).

* :func:`parse_m3u8` — one playlist → master (``#EXT-X-STREAM-INF``
  variant list: bandwidth / resolution / codecs / uri) or media
  (``#EXTINF`` segment list with EXACT integer millisecond durations,
  target duration, VOD-vs-live via ``#EXT-X-ENDLIST``). Strict about
  structure (missing ``#EXTM3U``, a STREAM-INF/EXTINF without its URI
  line, a malformed BANDWIDTH/duration raise ValueError — per-row
  dead-letter discipline), tolerant about content (unknown tags ride
  along ignored; unknown attributes too).
* :func:`build_master` / :func:`build_media` — fixture twins.

Durations in the wild are decimal-second strings ("4.000"); the parse
converts via integer decimal math (whole*1000 + zero-padded first 3
fraction digits) — no float surface, so oracle gates replay sums
exactly.
"""

from __future__ import annotations

import re

_DUR_RE = re.compile(r"^(\d+)(?:\.(\d+))?$")
_RES_RE = re.compile(r"^(\d+)x(\d+)$")


def _duration_ms(s: str) -> int:
    m = _DUR_RE.match(s.strip())
    if m is None:
        raise ValueError(f"m3u8: malformed duration {s!r}")
    whole, frac = m.groups()
    return int(whole) * 1000 + int((frac or "").ljust(3, "0")[:3])


def _attrs(s: str) -> dict[str, str]:
    """RFC 8216 §4.2 attribute list: NAME=VALUE pairs, comma-separated,
    quoted-string values may contain commas."""
    out: dict[str, str] = {}
    i = 0
    n = len(s)
    while i < n:
        eq = s.find("=", i)
        if eq < 0:
            break
        name = s[i:eq].strip()
        j = eq + 1
        if j < n and s[j] == '"':
            k = s.find('"', j + 1)
            if k < 0:
                raise ValueError("m3u8: unterminated quoted attribute")
            out[name] = s[j + 1 : k]
            i = k + 1
            i += 1 if i < n and s[i] == "," else 0
        else:
            k = s.find(",", j)
            k = n if k < 0 else k
            out[name] = s[j:k].strip()
            i = k + 1
    return out


def parse_m3u8(content: bytes | str) -> dict:
    """Parse one playlist → ``{"kind": "master", "variants":
    [{"bandwidth", "width", "height", "codecs", "uri"}, ...],
    "n_variants", "version"}`` or ``{"kind": "media", "segments":
    [{"duration_ms", "uri"}, ...], "n_segments", "total_duration_ms",
    "target_duration_s", "endlist", "version"}``.

    A playlist with any ``#EXT-X-STREAM-INF`` is master; anything else
    with ``#EXTM3U`` is media (possibly segment-less). Raises
    ValueError on junk bytes, a tag whose mandatory URI line is
    missing, or malformed numerics."""
    if isinstance(content, (bytes, bytearray)):
        try:
            content = bytes(content).decode("utf-8")
        except UnicodeDecodeError as e:
            raise ValueError(f"m3u8: not UTF-8 ({e})") from e
    lines = [ln.strip() for ln in content.lstrip("﻿").splitlines()]
    lines = [ln for ln in lines if ln]
    if not lines or lines[0] != "#EXTM3U":
        raise ValueError("m3u8: missing #EXTM3U header")
    version = None
    target = None
    endlist = False
    variants: list[dict] = []
    segments: list[dict] = []
    i = 1
    while i < len(lines):
        ln = lines[i]
        if ln.startswith("#EXT-X-VERSION:"):
            v = ln.split(":", 1)[1].strip()
            if not v.isdigit():
                raise ValueError(f"m3u8: malformed version {v!r}")
            version = int(v)
        elif ln.startswith("#EXT-X-TARGETDURATION:"):
            v = ln.split(":", 1)[1].strip()
            if not v.isdigit():
                raise ValueError(f"m3u8: malformed target duration {v!r}")
            target = int(v)
        elif ln == "#EXT-X-ENDLIST":
            endlist = True
        elif ln.startswith("#EXT-X-STREAM-INF:"):
            a = _attrs(ln.split(":", 1)[1])
            bw = a.get("BANDWIDTH")
            if bw is None or not bw.isdigit():
                raise ValueError(f"m3u8: malformed BANDWIDTH {bw!r}")
            w = h = None
            res = a.get("RESOLUTION")
            if res is not None:
                rm = _RES_RE.match(res)
                if rm is None:
                    raise ValueError(f"m3u8: malformed RESOLUTION {res!r}")
                w, h = int(rm.group(1)), int(rm.group(2))
            i += 1
            if i >= len(lines) or lines[i].startswith("#"):
                raise ValueError("m3u8: STREAM-INF without a variant URI")
            variants.append(
                {
                    "bandwidth": int(bw),
                    "width": w,
                    "height": h,
                    "codecs": a.get("CODECS"),
                    "uri": lines[i],
                }
            )
        elif ln.startswith("#EXTINF:"):
            dur = ln.split(":", 1)[1].split(",", 1)[0]
            i += 1
            # tags between EXTINF and its URI (BYTERANGE etc.) — but a
            # SECOND EXTINF or a STREAM-INF means the URI is missing,
            # and swallowing it would bind this duration to the NEXT
            # segment's URI (silent segment drop; review finding)
            while (
                i < len(lines)
                and lines[i].startswith("#")
                and not lines[i].startswith("#EXT-X-STREAM-INF")
                and not lines[i].startswith("#EXTINF:")
            ):
                i += 1
            if i >= len(lines) or lines[i].startswith("#"):
                raise ValueError("m3u8: EXTINF without a segment URI")
            segments.append(
                {"duration_ms": _duration_ms(dur), "uri": lines[i]}
            )
        i += 1
    if variants:
        return {
            "kind": "master",
            "variants": variants,
            "n_variants": len(variants),
            "version": version,
        }
    return {
        "kind": "media",
        "segments": segments,
        "n_segments": len(segments),
        "total_duration_ms": sum(s["duration_ms"] for s in segments),
        "target_duration_s": target,
        "endlist": endlist,
        "version": version,
    }


def build_master(variants: list[dict]) -> str:
    """Fixture twin: variant dicts (bandwidth, optional (width, height),
    codecs, uri) → master playlist text."""
    out = ["#EXTM3U", "#EXT-X-VERSION:7"]
    for v in variants:
        attrs = [f"BANDWIDTH={v['bandwidth']}"]
        if v.get("width") is not None:
            attrs.append(f"RESOLUTION={v['width']}x{v['height']}")
        if v.get("codecs") is not None:
            attrs.append(f'CODECS="{v["codecs"]}"')
        out.append("#EXT-X-STREAM-INF:" + ",".join(attrs))
        out.append(str(v["uri"]))
    return "\n".join(out) + "\n"


def build_media(durations_ms: list[int], endlist: bool = True) -> str:
    """Fixture twin: per-segment millisecond durations → media playlist
    text (decimal-second EXTINF lines, optional ENDLIST); the target
    duration is the longest segment rounded up to whole seconds."""
    target_s = max(((d + 999) // 1000 for d in durations_ms), default=1)
    out = [
        "#EXTM3U",
        "#EXT-X-VERSION:7",
        f"#EXT-X-TARGETDURATION:{target_s}",
    ]
    for n, d in enumerate(durations_ms):
        out.append(f"#EXTINF:{d // 1000}.{d % 1000:03d},")
        out.append(f"seg{n}.m4s")
    if endlist:
        out.append("#EXT-X-ENDLIST")
    return "\n".join(out) + "\n"
