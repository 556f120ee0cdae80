"""Dependency-free MP4 / ISO-BMFF container METADATA walk (ISO/IEC
14496-12) — the dominant video container on the modern web, previously
absent from the media-inventory surface (mp4 payloads dead-lettered).
Additive vs the reference (Assignment-python.py has no video handling).

Scope follows the codec-gate discipline (the JPEG/TIFF/AVI model): the
structural subset is implemented completely and exactly — box tree
walk (32-bit sizes, 64-bit ``largesize``, size-0 to-end-of-file),
``ftyp`` brands, ``mvhd``/``tkhd``/``mdhd`` version 0 AND 1 layouts,
``hdlr`` track classification, ``stsd`` codec fourcc, ``stts`` sample
counts — while SAMPLE DECODE (H.264/H.265/AAC bitstreams) is out of
scope and stays behind the usual guard: :func:`parse_mp4` returns
metadata only, and callers that need pixels keep dead-lettering.
Durations convert to milliseconds by exact integer floor division
(``duration * 1000 // timescale``) so every value replays in any
engine.

Structural errors (truncated boxes, missing moov/mvhd, nesting bombs)
raise ValueError — the countable dead-letter class, never a wrong
answer or an unbounded allocation.
"""

from __future__ import annotations

import struct


def _walk_boxes(data: bytes, start: int, end: int, depth: int = 0):
    """Yield (type, body_start, body_end) for sibling boxes in
    [start, end); validates sizes so junk cannot over-read or loop."""
    if depth > 16:
        raise ValueError("box tree too deep")
    pos = start
    while pos < end:
        if pos + 8 > end:
            raise ValueError("truncated box header")
        size = struct.unpack(">I", data[pos : pos + 4])[0]
        typ = data[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:
            if pos + 16 > end:
                raise ValueError("truncated largesize header")
            size = struct.unpack(">Q", data[pos + 8 : pos + 16])[0]
            body = pos + 16
        elif size == 0:
            size = end - pos  # extends to the end of the enclosing box
        if size < body - pos or pos + size > end:
            raise ValueError("box size out of bounds")
        yield typ, body, pos + size
        pos += size


def _child(data: bytes, start: int, end: int, typ: bytes, depth: int):
    for t, b, e in _walk_boxes(data, start, end, depth):
        if t == typ:
            return b, e
    return None


def _fullbox_version(data: bytes, body: int, end: int) -> int:
    if body + 4 > end:
        raise ValueError("truncated full box")
    return data[body]


def _u(data: bytes, at: int, n: int) -> int:
    return int.from_bytes(data[at : at + n], "big")


def _mvhd(data: bytes, body: int, end: int) -> tuple[int, int]:
    """(timescale, duration) — v0: u32 pair after 2 u32 times; v1:
    u32 timescale + u64 duration after 2 u64 times."""
    v = _fullbox_version(data, body, end)
    if v == 0:
        if body + 20 > end:
            raise ValueError("truncated mvhd")
        return _u(data, body + 12, 4), _u(data, body + 16, 4)
    if v == 1:
        if body + 32 > end:
            raise ValueError("truncated mvhd")
        return _u(data, body + 20, 4), _u(data, body + 24, 8)
    raise ValueError(f"mvhd version {v} not supported")


def _mdhd(data: bytes, body: int, end: int) -> tuple[int, int]:
    """(timescale, duration) — same layout family as mvhd."""
    return _mvhd(data, body, end)


def _tkhd_dims(data: bytes, body: int, end: int) -> tuple[int, int, int]:
    """(track_id, width, height) — width/height are the LAST two 16.16
    fixed-point u32s of the 80 (v0) / 92 (v1) byte body; the integer
    part is returned (the presentation dims real muxers write)."""
    v = _fullbox_version(data, body, end)
    n = 80 if v == 0 else 92 if v == 1 else None
    if n is None:
        raise ValueError(f"tkhd version {v} not supported")
    if body + 4 + n > end:
        raise ValueError("truncated tkhd")
    track_id = _u(data, body + (12 if v == 0 else 20), 4)
    w = _u(data, body + 4 + n - 8, 4) >> 16
    h = _u(data, body + 4 + n - 4, 4) >> 16
    return track_id, w, h


def _stts_samples(data: bytes, body: int, end: int) -> int:
    _fullbox_version(data, body, end)
    if body + 8 > end:
        raise ValueError("truncated stts")
    n = _u(data, body + 4, 4)
    if n > (end - body - 8) // 8:
        raise ValueError("stts entry count exceeds box")
    return sum(_u(data, body + 8 + 8 * i, 4) for i in range(n))


def _stsd_codec(data: bytes, body: int, end: int) -> str | None:
    _fullbox_version(data, body, end)
    if body + 8 > end:
        raise ValueError("truncated stsd")
    n = _u(data, body + 4, 4)
    if n < 1:
        return None
    # first sample entry: a box whose TYPE is the codec fourcc
    for t, _, _ in _walk_boxes(data, body + 8, end, 12):
        return t.decode("latin-1")
    return None


def parse_mp4(content: bytes) -> dict:
    """Parse ISO-BMFF container metadata:

    ``{major_brand, movie_timescale, movie_duration_ms, n_tracks,
    tracks: [{track_id, kind, codec, width, height, n_samples,
    duration_ms}]}``

    ``kind`` is the hdlr handler class ('video' for vide, 'audio' for
    soun, else the raw fourcc); per-track ``duration_ms`` divides the
    MEDIA duration by the media timescale (mdhd — the timescale-pair
    contract), the movie duration by the mvhd pair; both exact integer
    floor divisions. Tracks missing stbl members report NULL-ish None
    fields rather than failing the container (real muxer variance);
    a missing ftyp+moov pair, truncated boxes, or bad versions raise
    ValueError (the dead-letter class)."""
    if len(content) < 16:
        raise ValueError("too short for an ISO-BMFF file")
    top = list(_walk_boxes(content, 0, len(content)))
    types = [t for t, _, _ in top]
    if b"ftyp" not in types or b"moov" not in types:
        raise ValueError("not an ISO-BMFF file (missing ftyp/moov)")
    fb, fe = next((b, e) for t, b, e in top if t == b"ftyp")
    if fe - fb < 8:
        raise ValueError("truncated ftyp")
    major = content[fb : fb + 4].decode("latin-1")
    mb, me = next((b, e) for t, b, e in top if t == b"moov")
    mv = _child(content, mb, me, b"mvhd", 1)
    if mv is None:
        raise ValueError("moov without mvhd")
    ts, dur = _mvhd(content, *mv)
    if ts <= 0:
        raise ValueError("bad mvhd timescale")
    tracks = []
    for t, tb, te in _walk_boxes(content, mb, me, 1):
        if t != b"trak":
            continue
        tk = _child(content, tb, te, b"tkhd", 2)
        if tk is None:
            raise ValueError("trak without tkhd")
        track_id, w, h = _tkhd_dims(content, *tk)
        kind = codec = None
        n_samples = tdur_ms = None
        md = _child(content, tb, te, b"mdia", 2)
        if md is not None:
            mh = _child(content, *md, b"mdhd", 3)
            if mh is not None:
                mts, mdur = _mdhd(content, *mh)
                if mts <= 0:
                    raise ValueError("bad mdhd timescale")
                tdur_ms = mdur * 1000 // mts
            hd = _child(content, *md, b"hdlr", 3)
            if hd is not None:
                hb, he = hd
                if hb + 12 <= he:
                    four = content[hb + 8 : hb + 12]
                    kind = {b"vide": "video", b"soun": "audio"}.get(
                        four, four.decode("latin-1")
                    )
            mi = _child(content, *md, b"minf", 3)
            st = _child(content, *mi, b"stbl", 4) if mi else None
            if st is not None:
                sd = _child(content, *st, b"stsd", 5)
                if sd is not None:
                    codec = _stsd_codec(content, *sd)
                tt = _child(content, *st, b"stts", 5)
                if tt is not None:
                    n_samples = _stts_samples(content, *tt)
        tracks.append(
            {
                "track_id": track_id,
                "kind": kind,
                "codec": codec,
                "width": w,
                "height": h,
                "n_samples": n_samples,
                "duration_ms": tdur_ms,
            }
        )
    # fragmented profile (fMP4 / CMAF — the DASH/HLS streaming form):
    # samples live in top-level moof boxes, not the moov sample tables.
    # Each moof: mfhd (sequence number) + traf boxes, each traf: tfhd
    # (track id) + trun(s) whose leading u32 is the sample count.
    n_fragments = 0
    frag_samples: dict[int, int] = {}
    for t, fb2, fe2 in top:
        if t != b"moof":
            continue
        n_fragments += 1
        for ft, tb2, te2 in _walk_boxes(content, fb2, fe2, 1):
            if ft != b"traf":
                continue
            th = _child(content, tb2, te2, b"tfhd", 2)
            if th is None:
                raise ValueError("traf without tfhd")
            _fullbox_version(content, th[0], th[1])
            if th[0] + 8 > th[1]:
                raise ValueError("truncated tfhd")
            tid = _u(content, th[0] + 4, 4)
            for rt, rb, re2 in _walk_boxes(content, tb2, te2, 2):
                if rt != b"trun":
                    continue
                _fullbox_version(content, rb, re2)
                if rb + 8 > re2:
                    raise ValueError("truncated trun")
                frag_samples[tid] = frag_samples.get(tid, 0) + _u(
                    content, rb + 4, 4
                )
    for tr in tracks:
        tr["fragment_samples"] = frag_samples.get(tr["track_id"], 0)
    return {
        "major_brand": major,
        "movie_timescale": ts,
        "movie_duration_ms": dur * 1000 // ts,
        "n_tracks": len(tracks),
        "n_fragments": n_fragments,
        "tracks": tracks,
    }


# ---------------------------------------------------------------------------
# builder (fixtures + tests; the build_pdf/build_warc twin)
# ---------------------------------------------------------------------------


def _box(typ: bytes, body: bytes, largesize: bool = False) -> bytes:
    if largesize:
        return struct.pack(">I", 1) + typ + struct.pack(">Q", 16 + len(body)) + body
    return struct.pack(">I", 8 + len(body)) + typ + body


def _fullbox(typ: bytes, version: int, body: bytes) -> bytes:
    return _box(typ, bytes([version, 0, 0, 0]) + body)


def build_mp4(
    duration_s: int,
    video: tuple[str, int, int, int] | None = ("avc1", 320, 240, 24),
    audio: tuple[str, int] | None = None,
    brand: str = "isom",
    version1: bool = False,
    large_mdat: bool = False,
    fragments: list[int] | None = None,
) -> bytes:
    """Serialize a standards-valid ISO-BMFF skeleton: ftyp + moov
    (mvhd + one trak per track: tkhd/mdia/mdhd/hdlr/minf/stbl with
    stsd sample-entry fourcc + a one-entry stts) + a placeholder mdat.
    ``video`` = (codec fourcc, width, height, fps): n_samples =
    fps * duration_s on a 600-tick media timescale; ``audio`` =
    (fourcc, sample_rate): n_samples = rate * duration_s on a
    rate-tick timescale. ``version1`` writes the 64-bit v1
    mvhd/tkhd/mdhd layouts; ``large_mdat`` writes mdat with a 64-bit
    ``largesize`` header — both real-file axes the parser must walk.
    ``fragments`` (per-fragment VIDEO sample counts) appends the fMP4
    streaming profile: one moof (mfhd sequence + traf/tfhd/trun) + mdat
    pair per entry for track 1. The movie pair is
    (1000, 1000 * duration_s)."""

    def times(v: int, n: int) -> bytes:
        return (b"\x00" * (8 if v else 4)) * n

    v = 1 if version1 else 0

    def mvhd_like(typ: bytes, ts: int, dur: int, tail: bytes) -> bytes:
        dur_b = struct.pack(">Q" if v else ">I", dur)
        return _fullbox(typ, v, times(v, 2) + struct.pack(">I", ts) + dur_b + tail)

    def track(
        kind: bytes, fourcc: str, w: int, h: int, ts: int, n: int, tid: int
    ) -> bytes:
        dur = ts * duration_s
        # tkhd: times(2) + track_id + reserved + duration + rest
        tk_body = (
            times(v, 2)
            + struct.pack(">II", tid, 0)
            + struct.pack(">Q" if v else ">I", dur)
            + b"\x00" * 8  # reserved
            + b"\x00\x00" * 3  # layer, alternate_group, volume
            + b"\x00\x00"  # reserved
            + b"\x00" * 36  # matrix
            + struct.pack(">II", w << 16, h << 16)
        )
        tkhd = _fullbox(b"tkhd", v, tk_body)
        mdhd = mvhd_like(b"mdhd", ts, dur, b"\x55\xc4\x00\x00")
        hdlr = _fullbox(b"hdlr", 0, b"\x00" * 4 + kind + b"\x00" * 12 + b"h\x00")
        entry = _box(fourcc.encode("latin-1"), b"\x00" * 8)
        stsd = _fullbox(b"stsd", 0, struct.pack(">I", 1) + entry)
        stts = _fullbox(b"stts", 0, struct.pack(">III", 1, n, ts // max(n // duration_s, 1) if n else 0))
        stbl = _box(b"stbl", stsd + stts)
        minf = _box(b"minf", stbl)
        mdia = _box(b"mdia", mdhd + hdlr + minf)
        return _box(b"trak", tkhd + mdia)

    ftyp = _box(b"ftyp", brand.encode("latin-1") + struct.pack(">I", 0) + b"isomiso2")
    traks = b""
    tid = 1
    if video is not None:
        fourcc, w, h, fps = video
        traks += track(b"vide", fourcc, w, h, 600, fps * duration_s, tid)
        tid += 1
    if audio is not None:
        fourcc, rate = audio
        traks += track(b"soun", fourcc, 0, 0, rate, rate * duration_s, tid)
        tid += 1
    mvhd = mvhd_like(
        b"mvhd",
        1000,
        1000 * duration_s,
        b"\x00\x01\x00\x00" + b"\x01\x00" + b"\x00" * 10 + b"\x00" * 36 + b"\x00" * 24 + struct.pack(">I", tid),
    )
    moov = _box(b"moov", mvhd + traks)
    mdat = _box(b"mdat", b"\x00" * 16, largesize=large_mdat)
    out = ftyp + moov + mdat
    for seq, n in enumerate(fragments or [], start=1):
        mfhd = _fullbox(b"mfhd", 0, struct.pack(">I", seq))
        tfhd = _fullbox(b"tfhd", 0, struct.pack(">I", 1))
        trun = _fullbox(b"trun", 0, struct.pack(">I", n))
        out += _box(b"moof", mfhd + _box(b"traf", tfhd + trun))
        out += _box(b"mdat", b"\x00" * 8)
    return out


# ---------------------------------------------------------------------------
# BMFF image brands (AVIF / HEIC) — ISO/IEC 23008-12 item structure
# ---------------------------------------------------------------------------

_IMAGE_BRANDS = {"avif", "avis", "heic", "heix", "mif1", "msf1"}


def _fullbox_children(data: bytes, body: int, end: int):
    """meta is a FULL box: children start after version/flags."""
    _fullbox_version(data, body, end)
    return _walk_boxes(data, body + 4, end, 1)


def parse_bmff_image(content: bytes) -> dict:
    """Parse an ISO/IEC 23008-12 image container (AVIF/HEIC — the
    modern-web still-image siblings of MP4, same box grammar):

    ``{major_brand, primary_item, n_items, codec, width, height,
    has_exif}``

    The dims are the ``ispe`` (image spatial extents) property that
    ``ipma`` associates with the ``pitm`` primary item — NOT simply the
    first ispe in ``ipco`` (an alpha-auxiliary or thumbnail item can
    own its own); ``codec`` is the primary item's ``infe`` item type
    (av01/hvc1/...). ``has_exif`` reports an Exif item's presence.
    Item decode (AV1/HEVC bitstreams) is out of scope per the
    codec-gate discipline; structural errors raise ValueError."""
    if len(content) < 16:
        raise ValueError("too short for an ISO-BMFF file")
    top = list(_walk_boxes(content, 0, len(content)))
    types = [t for t, _, _ in top]
    if b"ftyp" not in types or b"meta" not in types:
        raise ValueError("not a BMFF image (missing ftyp/meta)")
    fb, fe = next((b, e) for t, b, e in top if t == b"ftyp")
    major = content[fb : fb + 4].decode("latin-1")
    compat = {
        content[at : at + 4].decode("latin-1")
        for at in range(fb + 8, fe - 3, 4)
    }
    if major not in _IMAGE_BRANDS and not (_IMAGE_BRANDS & compat):
        raise ValueError(f"not an image brand ({major!r})")
    mb, me = next((b, e) for t, b, e in top if t == b"meta")

    primary = None
    items: dict[int, str] = {}
    ispes: list[tuple[int, int]] = []  # ipco order (1-based indexing)
    ipco_kinds: list[bytes] = []
    assoc: dict[int, list[int]] = {}  # item_id -> ipco property indices
    for t, b, e in _fullbox_children(content, mb, me):
        if t == b"pitm":
            v = _fullbox_version(content, b, e)
            if b + 4 + (2 if v == 0 else 4) > e:
                raise ValueError("truncated pitm")
            primary = _u(content, b + 4, 2 if v == 0 else 4)
        elif t == b"iinf":
            v = _fullbox_version(content, b, e)
            first = b + 4 + (2 if v == 0 else 4)
            if first > e:
                raise ValueError("truncated iinf")
            for it, ib, ie in _walk_boxes(content, first, e, 2):
                if it != b"infe":
                    continue
                iv = _fullbox_version(content, ib, ie)
                if iv < 2:
                    raise ValueError("infe version < 2 not supported")
                idw = 2 if iv == 2 else 4
                if ib + 4 + idw + 2 + 4 > ie:
                    raise ValueError("truncated infe")
                iid = _u(content, ib + 4, idw)
                at = ib + 4 + idw + 2
                items[iid] = content[at : at + 4].decode("latin-1")
        elif t == b"iprp":
            for pt, pb, pe in _walk_boxes(content, b, e, 2):
                if pt == b"ipco":
                    for ct, cb, ce in _walk_boxes(content, pb, pe, 3):
                        ipco_kinds.append(ct)
                        if ct == b"ispe":
                            _fullbox_version(content, cb, ce)
                            if cb + 12 > ce:
                                raise ValueError("truncated ispe")
                            ispes.append(
                                (_u(content, cb + 4, 4), _u(content, cb + 8, 4))
                            )
                        else:
                            ispes.append(None)
                elif pt == b"ipma":
                    v = _fullbox_version(content, pb, pe)
                    if pb + 8 > pe:
                        raise ValueError("truncated ipma")
                    flags = _u(content, pb + 1, 3)
                    n = _u(content, pb + 4, 4)
                    at = pb + 8
                    if n > (pe - at):
                        raise ValueError("ipma entry count exceeds box")
                    idw = 2 if v == 0 else 4
                    aw = 2 if flags & 1 else 1
                    for _ in range(n):
                        # every read stays inside THIS box: a truncated
                        # entry is a ValueError, never an IndexError or
                        # a read of the next box's bytes (r14 review)
                        if at + idw + 1 > pe:
                            raise ValueError("truncated ipma entry")
                        iid = _u(content, at, idw)
                        at += idw
                        cnt = content[at]
                        at += 1
                        if at + cnt * aw > pe:
                            raise ValueError("truncated ipma associations")
                        idxs = []
                        for _ in range(cnt):
                            if flags & 1:
                                idxs.append(_u(content, at, 2) & 0x7FFF)
                            else:
                                idxs.append(content[at] & 0x7F)
                            at += aw
                        assoc[iid] = idxs
    if primary is None or primary not in items:
        raise ValueError("missing or dangling pitm primary item")
    width = height = None
    for idx in assoc.get(primary, []):
        if 1 <= idx <= len(ispes) and ispes[idx - 1] is not None:
            width, height = ispes[idx - 1]
            break
    return {
        "major_brand": major,
        "primary_item": primary,
        "n_items": len(items),
        "codec": items[primary],
        "width": width,
        "height": height,
        "has_exif": "Exif" in items.values(),
    }


def build_bmff_image(
    w: int,
    h: int,
    brand: str = "avif",
    codec: str = "av01",
    with_exif: bool = False,
    with_alpha: bool = False,
    version1: bool = False,
) -> bytes:
    """Serialize a standards-valid AVIF/HEIC metadata skeleton: ftyp +
    meta(hdlr 'pict', pitm, iinf/infe items, iprp(ipco[ispe...] +
    ipma)) + mdat. ``with_alpha`` adds an auxiliary item with its OWN
    half-size ispe listed FIRST in ipco — a reader that grabs the first
    ispe instead of following pitm->ipma reports the wrong dims (the
    trap the parser test pins). ``version1`` uses the 32-bit
    pitm/infe/ipma layouts."""
    v = 1 if version1 else 0
    iv = 3 if version1 else 2

    def infe(iid: int, typ: str) -> bytes:
        idb = iid.to_bytes(2 if iv == 2 else 4, "big")
        return _fullbox(
            b"infe", iv, idb + b"\x00\x00" + typ.encode("latin-1") + b"\x00"
        )

    items = [(1, codec)]
    if with_alpha:
        items.append((2, codec))  # the alpha auxiliary
    if with_exif:
        items.append((len(items) + 1, "Exif"))
    props = []
    assoc = {}
    if with_alpha:
        props.append(_fullbox(b"ispe", 0, struct.pack(">II", w // 2, h // 2)))
        assoc[2] = [1]
    props.append(_fullbox(b"ispe", 0, struct.pack(">II", w, h)))
    assoc[1] = [len(props)]
    ipco = _box(b"ipco", b"".join(props))
    entries = b""
    for iid, idxs in sorted(assoc.items()):
        entries += iid.to_bytes(2 if v == 0 else 4, "big") + bytes(
            [len(idxs)]
        ) + b"".join(bytes([i]) for i in idxs)
    ipma = _fullbox(b"ipma", v, struct.pack(">I", len(assoc)) + entries)
    iinf = _fullbox(
        b"iinf",
        v,
        len(items).to_bytes(2 if v == 0 else 4, "big")
        + b"".join(infe(i, t) for i, t in items),
    )
    hdlr = _fullbox(b"hdlr", 0, b"\x00" * 4 + b"pict" + b"\x00" * 12 + b"h\x00")
    pitm = _fullbox(b"pitm", v, (1).to_bytes(2 if v == 0 else 4, "big"))
    meta = _fullbox(
        b"meta", 0, hdlr + pitm + iinf + _box(b"iprp", ipco + ipma)
    )
    ftyp = _box(
        b"ftyp", brand.encode("latin-1") + struct.pack(">I", 0) + b"mif1miaf"
    )
    return ftyp + meta + _box(b"mdat", b"\x00" * 8)
