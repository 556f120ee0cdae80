"""Dependency-free PDF text extraction — the second document-ingest
surface of the crawl pipeline after HTML (real crawl archives carry
``application/pdf`` payloads; before this module those rows dead-lettered
out of the corpus at ``operators.crawl.html_extract``). Additive vs the
reference (no crawl/document route; Assignment-python.py stops at image
color analytics).

Scope follows the repo's codec-gate discipline (the JPEG/TIFF model):
the structurally honest subset is implemented completely and exactly,
and everything outside it raises a GUARDED error that the operator
layer converts to a dead-letter row, never a wrong answer. In scope:

* classic PDFs whose streams are plain or any CHAIN of FlateDecode,
  LZWDecode (the in-repo TIFF codec's LZW, /EarlyChange honored),
  ASCIIHexDecode, ASCII85Decode and RunLengthDecode, with the full
  ``/DecodeParms`` predictor family (PNG None/Sub/Up/Average/Paeth,
  predictors 10-15, and TIFF predictor 2 at 8 bits/component) on the
  compression filters;
* the PDF 1.5 compressed-object profile: ``/Type /ObjStm`` object
  streams (members expanded with file-order shadowing, below) and
  cross-reference-STREAM files (no ``trailer`` keyword — the trailer
  dict, including ``/Encrypt``, lives in the ``/Type /XRef`` stream
  dict, which is where encryption detection looks too);
* simple-font re-encoding: ``/Encoding /Differences`` glyph-name maps
  (the ASCII Adobe-Glyph-List subset plus ``uniXXXX``/``uXXXXXX``
  names; unknown names decode to U+FFFD — declared, deterministic) and
  ``/ToUnicode`` CMaps (bfchar + bfrange, 1- and 2-byte codes,
  UTF-16BE targets; an unmapped 1-byte code falls back to Latin-1, an
  unmapped 2-byte code decodes to U+FFFD per code).

* standard-security-handler DECRYPTION for the readable owner-locked
  class (documents whose owner password merely restricts print/modify
  while the USER password is empty) across every spec revision:
  V 1/2 R 2/3 classic RC4 (ISO 32000-1 §7.6.3 — file key from the
  padding constant via Algorithm 2, /U verifies it via Algorithms
  4/5, per-object MD5-derived keys via Algorithm 1), V 4 R 4 crypt
  filters (/CFM /V2 RC4 and /CFM /AESV2 AES-128-CBC with the sAlT
  key suffix, /EncryptMetadata honored), and V 5 R 5/6 /CFM /AESV3
  AES-256 (ISO 32000-2 Algorithms 2.A/2.B: /U's validation salt
  checks the empty password, /UE decrypts to the file key). The AES
  core is functions/aes.py — dependency-free pure Python, FIPS-197
  vector-pinned, with the optional ``cryptography`` accelerator
  behind the br/zstd hook discipline (identical bytes either way).
  Xref streams are never encrypted.

Still guarded (raise): password-protected documents (a non-empty user
password fails the /U check — genuinely unreadable without
credentials), non-Standard security handlers, split /StmF vs /StrF
crypt filters and unknown /CFM names, image/binary filters (DCTDecode,
JPXDecode, JBIG2Decode, CCITTFaxDecode, Crypt), predictors outside the
family above, and composite ``/Subtype /Type0`` fonts WITHOUT a
/ToUnicode CMap (real CID decoding needs font files; with /ToUnicode
present the map is authoritative and such fonts decode fine).

Parsing is xref-INDEPENDENT by design: objects are discovered by
scanning ``N G obj ... endobj`` spans (the repair path every real PDF
reader has, and the only honest one for crawled files whose xref tables
are routinely truncated or wrong; when the same object id appears more
than once — incremental updates — the LAST definition wins, matching
xref-table shadowing semantics). Object-stream members join the same
order: a member's definition position is its CONTAINER's position, so
a direct redefinition appended later (incremental update) shadows it,
and a later ObjStm shadows both — the xref-table outcome, re-derived
from byte order. The cross-reference stream itself is never needed for
discovery; the test suite still decodes one through the predictor path
to pin the encoding.

Deterministic text contract (what a closed-form fixture oracle can
re-derive; the functions/html.py discipline):

* pages in page-TREE order (depth-first ``/Kids`` walk from the
  catalog), never file-byte order;
* within a content stream, the text-showing operators ``Tj`` ``'``
  ``"`` ``TJ`` append to the current line (``TJ`` kerning numbers are
  ignored); a new LINE starts at ``BT``, ``T*``, ``'``, ``"``, ``Tm``,
  and ``Td``/``TD`` with a non-zero ty operand (a tx-only ``Td`` is a
  horizontal kern and continues the line);
* literal strings decode the spec escapes (\\n \\r \\t \\b \\f \\( \\)
  \\\\, octal ``\\ddd``, backslash-EOL continuation; raw EOLs normalize
  to \\n), hex strings ``<...>`` pad an odd final digit with 0; string
  BYTES decode as Latin-1 (fixtures stay in that range — full
  ToUnicode/CMap handling is out of scope and documented here);
* empty lines vanish; lines join with \\n; pages join with \\n. Unlike
  the HTML extractor, whitespace is NOT collapsed — PDF text is
  explicit, every byte was placed deliberately.
"""

from __future__ import annotations

import re
import zlib

from .aes import aes_cbc_decrypt, aes_cbc_encrypt, aes_ecb_encrypt_block

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"


# ---------------------------------------------------------------------------
# builder (fixtures + tests; the build_warc twin)
# ---------------------------------------------------------------------------


def _escape_bytes(out: bytes) -> bytes:
    return (
        out.replace(b"\\", b"\\\\").replace(b"(", b"\\(").replace(b")", b"\\)")
    )


def _content_stream(
    lines: list[str],
    tj_split: bool = False,
    hex_strings: bool = False,
    encode=None,
) -> bytes:
    """One page's content stream: one text line per Td line advance.
    ``tj_split`` shows each line as a TJ array split mid-string with a
    kerning number (same extracted text, different bytes); ``hex_strings``
    shows lines as hex strings (same text, different bytes); ``encode``
    maps visible text to string bytes (a subsetted-font code map;
    default Latin-1)."""
    enc = encode or (lambda s: s.encode("latin-1"))
    ops = [b"BT /F1 12 Tf 72 720 Td"]
    for i, line in enumerate(lines):
        if i:
            ops.append(b"0 -14 Td")
        if hex_strings:
            ops.append(b"<" + enc(line).hex().encode() + b"> Tj")
        elif tj_split and len(line) > 2:
            a, b = line[: len(line) // 2], line[len(line) // 2 :]
            ops.append(
                b"[(" + _escape_bytes(enc(a)) + b") -20 ("
                + _escape_bytes(enc(b)) + b")] TJ"
            )
        else:
            ops.append(b"(" + _escape_bytes(enc(line)) + b") Tj")
    ops.append(b"ET")
    return b"\n".join(ops)


def _png_predict_up(data: bytes, columns: int) -> bytes:
    """PNG Up (filter type 2) predictor ENCODING at the given row
    width — the inverse of :func:`_unpredict` predictor 12 (what real
    writers put on xref streams)."""
    out = bytearray()
    prior = bytes(columns)
    for r0 in range(0, len(data), columns):
        row = data[r0 : r0 + columns]
        out.append(2)
        out += bytes(
            (row[i] - (prior[i] if i < len(prior) else 0)) & 0xFF
            for i in range(len(row))
        )
        prior = row
    return bytes(out)


def _tounicode_cmap(code_of: dict[str, int]) -> bytes:
    """A /ToUnicode CMap (1-byte codes, UTF-16BE targets) covering the
    given char -> code map; consecutive (code, codepoint) runs emit as
    bfrange, singletons as bfchar — both section kinds always exercised
    by construction when the map has >= 2 entries."""
    items = sorted((c, ch) for ch, c in code_of.items())
    runs: list[list[tuple[int, str]]] = []
    for code, ch in items:
        if (
            runs
            and code == runs[-1][-1][0] + 1
            and ord(ch) == ord(runs[-1][-1][1]) + 1
        ):
            runs[-1].append((code, ch))
        else:
            runs.append([(code, ch)])
    chars = [r[0] for r in runs if len(r) == 1]
    ranges = [r for r in runs if len(r) > 1]
    lines = [
        b"/CIDInit /ProcSet findresource begin",
        b"12 dict begin",
        b"begincmap",
        b"/CMapName /Custom-UCS def",
        b"/CMapType 2 def",
        b"1 begincodespacerange",
        b"<00> <ff>",
        b"endcodespacerange",
    ]
    if chars:
        lines.append(b"%d beginbfchar" % len(chars))
        for code, ch in chars:
            lines.append(b"<%02x> <%04x>" % (code, ord(ch)))
        lines.append(b"endbfchar")
    if ranges:
        lines.append(b"%d beginbfrange" % len(ranges))
        for r in ranges:
            lines.append(
                b"<%02x> <%02x> <%04x>" % (r[0][0], r[-1][0], ord(r[0][1]))
            )
        lines.append(b"endbfrange")
    lines += [b"endcmap", b"CMap defined", b"end", b"end"]
    return b"\n".join(lines)


def _runlength_encode(data: bytes) -> bytes:
    """RunLengthDecode fixture encoder: runs >= 3 as (257-n, byte),
    literals chunked to 128, trailing EOD byte."""
    out = bytearray()
    i = 0
    lit = bytearray()

    def flush_lit():
        nonlocal lit
        while lit:
            chunk, lit = lit[:128], lit[128:]
            out.append(len(chunk) - 1)
            out.extend(chunk)

    while i < len(data):
        j = i
        while j < len(data) and j - i < 128 and data[j] == data[i]:
            j += 1
        if j - i >= 3:
            flush_lit()
            out.append(257 - (j - i))
            out.append(data[i])
        else:
            lit += data[i:j]
        i = j
    flush_lit()
    out.append(128)
    return bytes(out)


def _encode_chain(raw: bytes, chain: list[str]) -> bytes:
    """Apply fixture encoders so that DECODING in /Filter array order
    recovers ``raw``: the writer applies the filters right-to-left
    (the last array entry is the innermost encoding)."""
    import base64

    data = raw
    for name in reversed(chain):
        if name == "FlateDecode":
            data = zlib.compress(data)
        elif name == "LZWDecode":
            from .tiff import _lzw_encode

            data = _lzw_encode(data)
        elif name == "ASCIIHexDecode":
            data = data.hex().encode("ascii") + b">"
        elif name == "ASCII85Decode":
            data = base64.a85encode(data, adobe=False) + b"~>"
        elif name == "RunLengthDecode":
            data = _runlength_encode(data)
        else:
            raise ValueError(f"no fixture encoder for {name}")
    return data


def build_pdf(
    pages: list[list[str]],
    flate: bool = True,
    tj_split: bool = False,
    hex_strings: bool = False,
    nested_kids: bool = False,
    object_streams: bool = False,
    content_predictor: bool = False,
    differences: bool = False,
    tounicode: bool = False,
    filter_chain: list[str] | None = None,
    encrypt: str | None = None,
    links: list[list[str]] | None = None,
) -> bytes:
    """Serialize text pages into a complete, standards-valid PDF
    (header, catalog, page tree, per-page FlateDecode-or-plain content
    streams, xref, trailer) — the fixture writer for the extraction
    gates, exactly like ``functions.warc.build_warc`` is for WARC.
    ``nested_kids`` routes pages through an intermediate ``/Pages`` node
    so the depth-first tree walk (not file order) is what the oracle
    pins. ``object_streams`` writes the PDF 1.5 compressed profile:
    every non-stream object lives in one /Type /ObjStm and the file
    ends in a cross-reference STREAM (W [1 4 1], PNG Up predictor 12,
    type-2 entries for the compressed members, NO 'trailer' keyword).
    ``content_predictor`` predictor-encodes the content streams
    themselves (/DecodeParms /Predictor 12). ``differences`` re-encodes
    text through a subsetted /Encoding /Differences font (codes from
    128, AGL glyph names); ``tounicode`` through a /ToUnicode CMap
    font (bfchar + bfrange, permuted 1-byte codes) — in both, raw
    string bytes differ from the visible text and extraction must map
    them back. ``encrypt`` = 'rc4-40' (V1 R2), 'rc4-128' (V2 R3),
    'aes-128' (V4 R4, /CFM /AESV2 crypt filter) or 'aes-256' (V5 R6,
    /CFM /AESV3, full /O /U /OE /UE /Perms set per ISO 32000-2)
    writes the standard security handler with owner password 'owner'
    and an EMPTY user password (the readable owner-locked class):
    every stream encrypted under the profile's per-object (RC4/AESV2)
    or file (AESV3) key — AES streams gain a deterministic leading IV
    and PKCS#7 padding, with /Length patched to the ciphertext size —
    /Encrypt as a direct object (never inside an ObjStm, §7.5.7),
    /ID in the trailer / XRef dict. ``links`` (one list per page)
    writes /Annots link annotations with /URI actions, the URI as a
    HEX string — encrypted under the page object's key when the
    document is encrypted, except in the 1.5 profile where pages are
    ObjStm members and member strings stay plain (§7.5.7)."""
    if differences and tounicode:
        raise ValueError("differences and tounicode are exclusive")
    if encrypt not in (None, "rc4-40", "rc4-128", "aes-128", "aes-256"):
        raise ValueError(f"unknown encrypt profile {encrypt!r}")
    objs: dict[int, bytes] = {}
    payload_len: dict[int, int] = {}
    n_pages = len(pages)
    font_id = 3 + 2 * n_pages + (1 if nested_kids else 0)
    page_ids = []
    content_ids = []
    next_id = 4 if nested_kids else 3
    inner_pages_id = 3 if nested_kids else None
    for _ in pages:
        page_ids.append(next_id)
        content_ids.append(next_id + 1)
        next_id += 2

    encode = None
    font_body = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    cmap_id = 2 * font_id + 1
    cmap_bytes = None
    if differences or tounicode:
        chars = sorted({ch for pg in pages for ln in pg for ch in ln})
        if len(chars) > 95:
            raise ValueError("too many distinct chars for a 1-byte subset")
        if differences:
            code_of = {ch: 128 + i for i, ch in enumerate(chars)}
            names = b" ".join(
                b"/" + _CHAR_TO_GLYPH[ch].encode("ascii") for ch in chars
            )
            font_body = (
                b"<< /Type /Font /Subtype /Type1 /BaseFont /ABCDEF+Custom"
                b" /Encoding << /Type /Encoding /Differences [128 "
                + names
                + b"] >> >>"
            )
        else:
            code_of = {ch: 0x20 + i for i, ch in enumerate(chars)}
            cmap_bytes = zlib.compress(_tounicode_cmap(code_of))
            font_body = (
                b"<< /Type /Font /Subtype /TrueType /BaseFont "
                b"/ABCDEF+Custom /ToUnicode %d 0 R >>" % cmap_id
            )
        encode = lambda s: bytes(code_of[ch] for ch in s)  # noqa: E731

    objs[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    if nested_kids and n_pages > 1:
        # catalog -> 2 (root Pages) -> [3 (inner Pages with all but the
        # last page), last page] ; file order stays ascending object id
        inner = b" ".join(b"%d 0 R" % p for p in page_ids[:-1])
        objs[2] = (
            b"<< /Type /Pages /Kids [3 0 R %d 0 R] /Count %d >>"
            % (page_ids[-1], n_pages)
        )
        objs[3] = (
            b"<< /Type /Pages /Parent 2 0 R /Kids [%s] /Count %d >>"
            % (inner, n_pages - 1)
        )
        parent_of = {
            p: (3 if i < n_pages - 1 else 2) for i, p in enumerate(page_ids)
        }
    else:
        kids = b" ".join(b"%d 0 R" % p for p in page_ids)
        objs[2] = (
            b"<< /Type /Pages /Kids [%s] /Count %d >>" % (kids, n_pages)
        )
        if nested_kids:  # single page: keep the object numbering stable
            objs[3] = b"<< /Type /Pages /Kids [] /Count 0 >>"
        parent_of = {p: 2 for p in page_ids}

    for (pid, cid, lines) in zip(page_ids, content_ids, pages):
        raw = _content_stream(
            lines, tj_split=tj_split, hex_strings=hex_strings, encode=encode
        )
        if filter_chain:
            data = _encode_chain(raw, filter_chain)
            names = b" ".join(b"/" + n.encode("ascii") for n in filter_chain)
            filt = (
                b" /Filter /" + filter_chain[0].encode("ascii")
                if len(filter_chain) == 1
                else b" /Filter [" + names + b"]"
            )
        elif content_predictor:  # implies Flate: predictors ride a filter
            raw += b" " * (-len(raw) % 16)  # whole predictor rows
            data = zlib.compress(_png_predict_up(raw, 16))
            filt = (
                b" /Filter /FlateDecode"
                b" /DecodeParms << /Predictor 12 /Columns 16 >>"
            )
        elif flate:
            data = zlib.compress(raw)
            filt = b" /Filter /FlateDecode"
        else:
            data, filt = raw, b""
        objs[pid] = (
            b"<< /Type /Page /Parent %d 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 %d 0 R >> >> /Contents %d 0 R >>"
            % (parent_of[pid], font_id, cid)
        )
        # indirect /Length on every other content stream: the resolver
        # path (length lives in its own object) is exercised structurally
        payload_len[cid] = len(data)
        if cid % 2 == 0:
            objs[cid] = (
                b"<< /Length %d 0 R%s >>\nstream\n" % (font_id + 1 + cid, filt)
                + data
                + b"\nendstream"
            )
            objs[font_id + 1 + cid] = b"%d" % len(data)
        else:
            objs[cid] = (
                b"<< /Length %d%s >>\nstream\n" % (len(data), filt)
                + data
                + b"\nendstream"
            )
    objs[font_id] = font_body
    stream_ids = set(content_ids)
    if cmap_bytes is not None:
        objs[cmap_id] = (
            b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(cmap_bytes)
            + cmap_bytes
            + b"\nendstream"
        )
        stream_ids.add(cmap_id)
        payload_len[cmap_id] = len(cmap_bytes)

    enc_id = 2 * font_id + 4
    enc_trailer = b""
    enc_stream = None
    if encrypt:
        import hashlib

        r = {"rc4-40": 2, "rc4-128": 3, "aes-128": 4, "aes-256": 6}[encrypt]
        pval = -44  # print/modify restricted; read allowed
        id0 = hashlib.md5(repr(pages).encode() + bytes([r])).digest()
        if r <= 4:  # RC4 / AESV2 share the MD5 key-derivation family
            v, length = {2: (1, 40), 3: (2, 128), 4: (4, 128)}[r]
            n = length // 8
            # Algorithm 3: /O from owner pw 'owner', empty user pw
            h = hashlib.md5((b"owner" + _CRYPT_PAD)[:32]).digest()
            if r >= 3:
                for _ in range(50):
                    h = hashlib.md5(h[:n]).digest()
            okey = h[:n]
            o = _rc4(okey, _CRYPT_PAD)
            if r >= 3:
                for i in range(1, 20):
                    o = _rc4(bytes(bb ^ i for bb in okey), o)
            # Algorithm 2: file key from the (empty) user password
            h = hashlib.md5(
                _CRYPT_PAD + o + (pval & 0xFFFFFFFF).to_bytes(4, "little") + id0
            ).digest()
            if r >= 3:
                for _ in range(50):
                    h = hashlib.md5(h[:n]).digest()
            fkey = h[:n]
            # Algorithms 4/5: /U
            if r == 2:
                u = _rc4(fkey, _CRYPT_PAD)
            else:
                u = _rc4(fkey, hashlib.md5(_CRYPT_PAD + id0).digest())
                for i in range(1, 20):
                    u = _rc4(bytes(bb ^ i for bb in fkey), u)
                u += b"\x00" * 16
            if r == 4:
                objs[enc_id] = (
                    b"<< /Filter /Standard /V 4 /R 4 /Length 128 /P %d "
                    b"/O <%s> /U <%s> /CF << /StdCF << /CFM /AESV2 "
                    b"/AuthEvent /DocOpen /Length 16 >> >> "
                    b"/StmF /StdCF /StrF /StdCF >>"
                    % (pval, o.hex().encode(), u.hex().encode())
                )
            else:
                objs[enc_id] = (
                    b"<< /Filter /Standard /V %d /R %d /Length %d /P %d "
                    b"/O <%s> /U <%s> >>"
                    % (v, r, length, pval, o.hex().encode(), u.hex().encode())
                )
        else:  # aes-256: V5 R6 AESV3 (ISO 32000-2 Algorithms 2.A/2.B/8-10)
            fkey = hashlib.sha256(b"filekey" + id0).digest()
            vs = hashlib.md5(b"vs" + id0).digest()[:8]
            ks = hashlib.md5(b"ks" + id0).digest()[:8]
            u = _hash_r6(b"", vs) + vs + ks
            ue = aes_cbc_encrypt(_hash_r6(b"", ks), b"\x00" * 16, fkey)
            ovs = hashlib.md5(b"ovs" + id0).digest()[:8]
            oks = hashlib.md5(b"oks" + id0).digest()[:8]
            o = _hash_r6(b"owner", ovs, u) + ovs + oks
            oe = aes_cbc_encrypt(_hash_r6(b"owner", oks, u), b"\x00" * 16, fkey)
            perms = aes_ecb_encrypt_block(
                fkey,
                (pval & 0xFFFFFFFF).to_bytes(4, "little")
                + b"\xff\xff\xff\xff"
                + b"Tadb"  # EncryptMetadata true + the 'adb' sentinel
                + hashlib.md5(b"perms" + id0).digest()[:4],
            )
            objs[enc_id] = (
                b"<< /Filter /Standard /V 5 /R 6 /Length 256 /P %d "
                b"/O <%s> /U <%s> /OE <%s> /UE <%s> /Perms <%s> "
                b"/CF << /StdCF << /CFM /AESV3 /AuthEvent /DocOpen "
                b"/Length 32 >> >> /StmF /StdCF /StrF /StdCF >>"
                % (
                    pval,
                    o.hex().encode(),
                    u.hex().encode(),
                    oe.hex().encode(),
                    ue.hex().encode(),
                    perms.hex().encode(),
                )
            )

        def enc_stream(oid: int, raw: bytes) -> bytes:
            if r == 6:
                key = fkey  # AESV3: the file key directly
            else:
                salt = b"sAlT" if r == 4 else b""
                key = hashlib.md5(
                    fkey + oid.to_bytes(3, "little") + b"\x00\x00" + salt
                ).digest()[: min(n + 5, 16)]
                if r <= 3:
                    return _rc4(key, raw)
            # AES-CBC: deterministic per-object IV (any IV decrypts — it
            # rides in the ciphertext; fixtures must be reproducible)
            iv = hashlib.md5(b"iv%d" % oid + id0).digest()
            padn = 16 - len(raw) % 16
            return iv + aes_cbc_encrypt(key, iv, raw + bytes([padn]) * padn)

        marker = b"\nstream\n"
        for oid in sorted(stream_ids):
            obj = objs[oid]
            idx = obj.find(marker) + len(marker)
            ln = payload_len[oid]
            head, tail = obj[:idx], obj[idx + ln :]
            data2 = enc_stream(oid, obj[idx : idx + ln])
            if len(data2) != ln:  # AES grows the payload: patch /Length
                m = re.search(rb"/Length (\d+)( 0 R)?", head)
                if m.group(2):
                    objs[int(m.group(1))] = b"%d" % len(data2)
                else:
                    head = (
                        head[: m.start()]
                        + b"/Length %d" % len(data2)
                        + head[m.end() :]
                    )
                payload_len[oid] = len(data2)
            objs[oid] = head + data2 + tail
        enc_trailer = b" /Encrypt %d 0 R /ID [<%s> <%s>]" % (
            enc_id,
            id0.hex().encode(),
            id0.hex().encode(),
        )

    if links:
        if len(links) != n_pages:
            raise ValueError("links needs one entry per page")
        for pid, urls in zip(page_ids, links):
            if not urls:
                continue
            parts = []
            for u in urls:
                raw = u.encode("latin-1")
                # §7.5.7: ObjStm member strings are never separately
                # encrypted (pages are members in the 1.5 profile)
                if enc_stream is not None and not object_streams:
                    raw = enc_stream(pid, raw)
                parts.append(
                    b"<< /Type /Annot /Subtype /Link /Rect [0 0 100 20]"
                    b" /A << /S /URI /URI <%s> >> >>" % raw.hex().encode()
                )
            objs[pid] = (
                objs[pid][:-2] + b"/Annots [" + b" ".join(parts) + b"] >>"
            )

    if not object_streams:
        out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
        offsets: dict[int, int] = {}
        for oid in sorted(objs):
            offsets[oid] = len(out)
            out += b"%d 0 obj\n" % oid + objs[oid] + b"\nendobj\n"
        xref_at = len(out)
        max_id = max(objs)
        out += b"xref\n0 %d\n" % (max_id + 1)
        out += b"0000000000 65535 f \n"
        for oid in range(1, max_id + 1):
            if oid in offsets:
                out += b"%010d 00000 n \n" % offsets[oid]
            else:
                out += b"0000000000 65535 f \n"
        out += (
            b"trailer\n<< /Size %d /Root 1 0 R%s >>\nstartxref\n%d\n%%%%EOF\n"
            % (max_id + 1, enc_trailer, xref_at)
        )
        return bytes(out)

    # --- PDF 1.5 compressed profile: ObjStm members + xref stream ---
    member_ids = sorted(
        o for o in objs if o not in stream_ids and o != enc_id
    )
    objstm_id = 2 * font_id + 2
    xref_id = 2 * font_id + 5
    bodies = [objs[o] for o in member_ids]
    offs = []
    at = 0
    for b in bodies:
        offs.append(at)
        at += len(b) + 1
    header = b" ".join(
        b"%d %d" % (oid, off) for oid, off in zip(member_ids, offs)
    ) + b"\n"
    payload = header + b"\n".join(bodies) + b"\n"
    stm_data = zlib.compress(payload)
    objstm_id = 2 * font_id + 2
    if enc_stream is not None:
        stm_data = enc_stream(objstm_id, stm_data)
    objstm_body = (
        b"<< /Type /ObjStm /N %d /First %d /Length %d /Filter /FlateDecode >>"
        b"\nstream\n" % (len(member_ids), len(header), len(stm_data))
        + stm_data
        + b"\nendstream"
    )

    out = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n")
    offsets = {}
    if enc_id in objs:
        offsets[enc_id] = len(out)
        out += b"%d 0 obj\n" % enc_id + objs[enc_id] + b"\nendobj\n"
    for oid in sorted(stream_ids):
        offsets[oid] = len(out)
        out += b"%d 0 obj\n" % oid + objs[oid] + b"\nendobj\n"
    offsets[objstm_id] = len(out)
    out += b"%d 0 obj\n" % objstm_id + objstm_body + b"\nendobj\n"
    xref_at = len(out)

    # xref stream rows, W [1 4 1]: type-0 free, type-1 direct offset,
    # type-2 (objstm, member index); predictor 12 like real writers
    rows = bytearray()
    midx = {oid: i for i, oid in enumerate(member_ids)}
    for oid in range(0, xref_id + 1):
        if oid in midx:
            rows += b"\x02" + objstm_id.to_bytes(4, "big") + bytes([midx[oid]])
        elif oid in offsets or oid == xref_id:
            off = xref_at if oid == xref_id else offsets[oid]
            rows += b"\x01" + off.to_bytes(4, "big") + b"\x00"
        else:
            rows += b"\x00" + bytes(5)
    xref_data = zlib.compress(_png_predict_up(bytes(rows), 6))
    out += (
        b"%d 0 obj\n<< /Type /XRef /Size %d /W [1 4 1] /Root 1 0 R%s "
        b"/Filter /FlateDecode /DecodeParms << /Predictor 12 /Columns 6 >> "
        b"/Length %d >>\nstream\n"
        % (xref_id, xref_id + 1, enc_trailer, len(xref_data))
        + xref_data
        + b"\nendstream\nendobj\n"
    )
    out += b"startxref\n%d\n%%%%EOF\n" % xref_at
    return bytes(out)


# ---------------------------------------------------------------------------
# object-level parsing (xref-independent scan)
# ---------------------------------------------------------------------------


class _Lexer:
    """Tokenizer for PDF object syntax (shared by the document scanner
    and the content-stream text extractor)."""

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos

    def _skip_ws(self) -> None:
        d, n = self.data, len(self.data)
        while self.pos < n:
            c = d[self.pos]
            if c in _WS:
                self.pos += 1
            elif c == 0x25:  # '%' comment to EOL
                while self.pos < n and d[self.pos] not in b"\r\n":
                    self.pos += 1
            else:
                return

    def next_token(self):
        """-> (kind, value) with kind in {'name','num','str','dict_open',
        'dict_close','arr_open','arr_close','kw'} or None at EOF."""
        while True:
            tok = self._next_token_once()
            if tok != ("_skip", None):
                return tok

    def _next_token_once(self):
        # one scan step; lone unmodeled delimiters return a skip marker
        # (a LOOP in next_token, not recursion — a crawled PDF can hold
        # megabyte runs of {}{} bytes and must not blow the stack)
        self._skip_ws()
        d, n = self.data, len(self.data)
        if self.pos >= n:
            return None
        c = d[self.pos]
        if d.startswith(b"<<", self.pos):
            self.pos += 2
            return ("dict_open", None)
        if d.startswith(b">>", self.pos):
            self.pos += 2
            return ("dict_close", None)
        if c == 0x5B:  # [
            self.pos += 1
            return ("arr_open", None)
        if c == 0x5D:  # ]
            self.pos += 1
            return ("arr_close", None)
        if c == 0x2F:  # /name
            self.pos += 1
            start = self.pos
            while self.pos < n and d[self.pos] not in _WS and d[self.pos] not in _DELIM:
                self.pos += 1
            return ("name", d[start : self.pos].decode("latin-1"))
        if c == 0x28:  # ( literal string
            return ("str", self._literal_string())
        if c == 0x3C:  # < hex string (<<' handled above)
            return ("str", self._hex_string())
        if c in b"+-.0123456789":
            start = self.pos
            self.pos += 1
            while self.pos < n and d[self.pos] in b"+-.0123456789":
                self.pos += 1
            tok = d[start : self.pos]
            try:
                return ("num", float(tok))
            except ValueError:
                return ("kw", tok.decode("latin-1"))
        # keyword/operator run (obj, endobj, stream, R, true, Tj, ...)
        start = self.pos
        while self.pos < n and d[self.pos] not in _WS and d[self.pos] not in _DELIM:
            self.pos += 1
        if self.pos == start:  # lone delimiter we don't model: skip it
            self.pos += 1
            return ("_skip", None)
        return ("kw", d[start : self.pos].decode("latin-1"))

    def _literal_string(self) -> bytes:
        d, n = self.data, len(self.data)
        assert d[self.pos] == 0x28
        self.pos += 1
        out = bytearray()
        depth = 1
        while self.pos < n:
            c = d[self.pos]
            if c == 0x5C:  # backslash
                self.pos += 1
                if self.pos >= n:
                    break
                e = d[self.pos]
                if e in b"nrtbf":
                    out += {
                        0x6E: b"\n", 0x72: b"\r", 0x74: b"\t",
                        0x62: b"\b", 0x66: b"\f",
                    }[e]
                    self.pos += 1
                elif e in b"()\\":
                    out.append(e)
                    self.pos += 1
                elif e in b"01234567":  # octal, 1-3 digits
                    oct_digits = bytearray()
                    while (
                        len(oct_digits) < 3
                        and self.pos < n
                        and d[self.pos] in b"01234567"
                    ):
                        oct_digits.append(d[self.pos])
                        self.pos += 1
                    out.append(int(oct_digits, 8) & 0xFF)
                elif e in b"\r\n":  # line continuation
                    self.pos += 1
                    if e == 0x0D and self.pos < n and d[self.pos] == 0x0A:
                        self.pos += 1
                else:  # unknown escape: the char stands for itself
                    out.append(e)
                    self.pos += 1
            elif c == 0x28:
                depth += 1
                out.append(c)
                self.pos += 1
            elif c == 0x29:
                depth -= 1
                self.pos += 1
                if depth == 0:
                    return bytes(out)
                out.append(c)
            elif c == 0x0D:  # raw EOL normalizes to \n
                out += b"\n"
                self.pos += 1
                if self.pos < n and d[self.pos] == 0x0A:
                    self.pos += 1
            else:
                out.append(c)
                self.pos += 1
        raise ValueError("unterminated literal string")

    def _hex_string(self) -> bytes:
        d, n = self.data, len(self.data)
        assert d[self.pos] == 0x3C
        self.pos += 1
        digits = bytearray()
        while self.pos < n:
            c = d[self.pos]
            if c == 0x3E:
                self.pos += 1
                if len(digits) % 2:
                    digits += b"0"
                return bytes.fromhex(digits.decode("ascii"))
            if c in b"0123456789abcdefABCDEF":
                digits.append(c)
            elif c not in _WS:
                raise ValueError("bad hex string")
            self.pos += 1
        raise ValueError("unterminated hex string")


def _parse_value(lex: _Lexer, tok=None, depth: int = 0):
    """Recursive-descent PDF value: dict/array/name/num/str/bool/null/ref.
    Refs come back as ('ref', n) after number-number-R lookahead. Depth
    is bounded (crawled junk can open thousands of nested arrays — a
    structural ValueError, never a RecursionError escaping the declared
    error contract)."""
    if depth > 128:
        raise ValueError("object nesting too deep")
    if tok is None:
        tok = lex.next_token()
    if tok is None:
        raise ValueError("unexpected EOF in object")
    kind, val = tok
    if kind == "dict_open":
        d = {}
        while True:
            t = lex.next_token()
            if t is None:
                raise ValueError("unterminated dict")
            if t[0] == "dict_close":
                return d
            if t[0] != "name":
                raise ValueError("dict key is not a name")
            d[t[1]] = _parse_value(lex, depth=depth + 1)
        # unreachable
    if kind == "arr_open":
        arr = []
        while True:
            t = lex.next_token()
            if t is None:
                raise ValueError("unterminated array")
            if t[0] == "arr_close":
                return arr
            arr.append(_parse_value(lex, t, depth=depth + 1))
    if kind == "num":
        # number number R  -> indirect reference (backtrack otherwise)
        save = lex.pos
        t2 = lex.next_token()
        if t2 is not None and t2[0] == "num":
            t3 = lex.next_token()
            if t3 == ("kw", "R"):
                return ("ref", int(val))
        lex.pos = save
        return int(val) if float(val).is_integer() else val
    if kind == "kw":
        if val == "true":
            return True
        if val == "false":
            return False
        if val == "null":
            return None
        raise ValueError(f"unexpected keyword {val!r} in object")
    if kind in ("str", "name"):
        return val
    raise ValueError(f"unexpected token {kind} in object")


_OBJ_RE = re.compile(rb"(?<![0-9])(\d+)\s+(\d+)\s+obj\b")
_STREAM_RE = re.compile(rb"stream(\r\n|\n|\r)")


def _scan_objects(
    data: bytes,
) -> tuple[dict[int, object], dict[int, tuple], dict[int, int], dict[int, int]]:
    """Byte-scan every ``N G obj`` span -> ({obj_id: value},
    {obj_id: (dict, stream_start)}, {obj_id: last definition's file
    position}, {obj_id: generation}) with last-definition-wins
    shadowing (incremental
    updates). Stream payload extents resolve later (the /Length may
    itself be an indirect reference); positions feed the same shadowing
    rule for object-stream members."""
    values: dict[int, object] = {}
    streams: dict[int, tuple] = {}
    positions: dict[int, int] = {}
    gens: dict[int, int] = {}
    cursor = 0  # matches INSIDE a stream payload are not objects:
    # compressed bytes can contain 'N G obj' by accident, so the scan
    # skips to past each stream's endstream before matching again
    for m in _OBJ_RE.finditer(data):
        if m.start() < cursor:
            continue
        oid = int(m.group(1))
        lex = _Lexer(data, m.end())
        try:
            val = _parse_value(lex)
        except ValueError:
            continue  # a malformed object body; scanning continues
        values[oid] = val
        positions[oid] = m.start()
        gens[oid] = int(m.group(2))  # string decryption needs the gen
        streams.pop(oid, None)  # a non-stream redefinition un-streams it
        lex._skip_ws()
        sm = _STREAM_RE.match(data, lex.pos)
        if sm is not None:
            if not isinstance(val, dict):
                raise ValueError("stream without a dict")
            streams[oid] = (val, sm.end())
            end = data.find(b"endstream", sm.end())
            cursor = len(data) if end < 0 else end + len(b"endstream")
        else:
            cursor = lex.pos
    return values, streams, positions, gens


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _unpredict(data: bytes, parms: dict, values: dict) -> bytes:
    """Undo a /DecodeParms predictor after Flate decompression: PNG
    predictors 10-15 (per-row filter byte: None/Sub/Up/Average/Paeth —
    RFC 2083 §6.6, the encoding xref streams almost always use) and
    TIFF predictor 2 (horizontal component delta, 8 bits/component).
    Predictor 1 (or absent) is the identity. Anything else raises the
    guarded error."""

    def geti(key: str, default: int) -> int:
        v = _resolve(parms.get(key, default), values)
        if not isinstance(v, int) or v < 0:
            raise ValueError(f"bad /DecodeParms {key}")
        return v

    pred = geti("Predictor", 1)
    if pred == 1:
        return data
    colors = max(1, geti("Colors", 1))
    bpc = geti("BitsPerComponent", 8)
    cols = max(1, geti("Columns", 1))
    # a row can never be wider than the whole decoded stream: junk
    # /Columns must be a structural error, not a giant allocation
    if cols * colors * max(1, bpc) // 8 > max(1, len(data)):
        raise ValueError("/DecodeParms /Columns exceeds stream size")
    if pred == 2:
        if bpc != 8:
            raise NotImplementedError(
                "TIFF predictor with BitsPerComponent != 8 not supported"
            )
        out = bytearray(data)
        row_len = cols * colors
        for r0 in range(0, len(out), row_len):
            row_end = min(r0 + row_len, len(out))
            for i in range(r0 + colors, row_end):
                out[i] = (out[i] + out[i - colors]) & 0xFF
        return bytes(out)
    if 10 <= pred <= 15:
        bpp = max(1, (colors * bpc + 7) // 8)
        row_len = (cols * colors * bpc + 7) // 8
        out = bytearray()
        prior = bytes(row_len)
        pos = 0
        while pos < len(data):
            ftype = data[pos]
            row = bytearray(data[pos + 1 : pos + 1 + row_len])
            pos += 1 + row_len
            if ftype == 1:  # Sub
                for i in range(bpp, len(row)):
                    row[i] = (row[i] + row[i - bpp]) & 0xFF
            elif ftype == 2:  # Up
                for i in range(len(row)):
                    row[i] = (row[i] + prior[i]) & 0xFF
            elif ftype == 3:  # Average
                for i in range(len(row)):
                    left = row[i - bpp] if i >= bpp else 0
                    row[i] = (row[i] + (left + prior[i]) // 2) & 0xFF
            elif ftype == 4:  # Paeth
                for i in range(len(row)):
                    left = row[i - bpp] if i >= bpp else 0
                    pleft = prior[i - bpp] if i >= bpp else 0
                    row[i] = (row[i] + _paeth(left, prior[i], pleft)) & 0xFF
            elif ftype != 0:
                raise ValueError(f"bad PNG filter type {ftype}")
            out += row
            prior = bytes(row) + bytes(max(0, row_len - len(row)))
        return bytes(out)
    raise NotImplementedError(f"PDF stream predictor {pred} not supported")


def _ascii_hex_decode(data: bytes) -> bytes:
    """ASCIIHexDecode (ISO 32000-1 §7.4.2): hex digits, whitespace
    ignored, '>' EOD, odd final digit pads with 0."""
    end = data.find(b">")
    body = data[: end if end >= 0 else len(data)]
    digits = bytes(c for c in body if c not in _WS)
    if any(c not in b"0123456789abcdefABCDEF" for c in digits):
        raise ValueError("bad ASCIIHexDecode data")
    if len(digits) % 2:
        digits += b"0"
    return bytes.fromhex(digits.decode("ascii"))


def _ascii85_decode(data: bytes) -> bytes:
    """ASCII85Decode (§7.4.3): stdlib base85 with the 'z' shortcut,
    whitespace ignored, '~>' EOD tolerated absent (real-world crawled
    PDFs truncate it)."""
    import base64

    end = data.find(b"~>")
    body = data[: end if end >= 0 else len(data)]
    body = bytes(c for c in body if c not in _WS)
    return base64.a85decode(body, adobe=False)


def _runlength_decode(data: bytes) -> bytes:
    """RunLengthDecode (§7.4.5): length byte 0-127 copies n+1 literal
    bytes, 129-255 repeats the next byte 257-n times, 128 is EOD."""
    out = bytearray()
    i = 0
    while i < len(data):
        n = data[i]
        if n == 128:
            return bytes(out)
        if n < 128:
            chunk = data[i + 1 : i + 2 + n]
            if len(chunk) != n + 1:
                raise ValueError("RunLengthDecode truncated literal")
            out += chunk
            i += 2 + n
        else:
            if i + 1 >= len(data):
                raise ValueError("RunLengthDecode truncated run")
            out += data[i + 1 : i + 2] * (257 - n)
            i += 2
    return bytes(out)  # EOD-less streams end at the data boundary


def _apply_filter(name: str, data: bytes, parms, values: dict) -> bytes:
    """One /Filter leg. Flate and LZW accept predictor /DecodeParms;
    LZW additionally /EarlyChange (default 1, the TIFF schedule — the
    in-repo TIFF codec's decoder IS the implementation, ISO 32000-1
    §7.4.4 referencing TIFF 6.0). The ASCII transports and RunLength
    take no parms. Anything else stays guarded. Codec-level failures
    on corrupt bytes (zlib/base85 errors) re-raise as ValueError — the
    declared structural-breakage class, so crawled junk never leaks an
    undeclared exception type (fuzz-pinned)."""
    try:
        if name == "FlateDecode":
            out = zlib.decompress(data)
        elif name == "LZWDecode":
            from .tiff import _lzw_decode

            early = 1
            if isinstance(parms, dict):
                early = _resolve(parms.get("EarlyChange", 1), values)
                if early not in (0, 1):
                    raise ValueError("bad /EarlyChange")
            out = _lzw_decode(data, None, early_change=bool(early))
        elif name == "ASCIIHexDecode":
            out = _ascii_hex_decode(data)
        elif name == "ASCII85Decode":
            out = _ascii85_decode(data)
        elif name == "RunLengthDecode":
            out = _runlength_decode(data)
        else:
            raise NotImplementedError(
                f"PDF stream filter {name!r} not supported"
            )
    except (ValueError, NotImplementedError):
        raise
    except Exception as e:
        raise ValueError(f"stream decode failed ({name}): {e}") from None
    if name in ("FlateDecode", "LZWDecode") and isinstance(parms, dict):
        try:
            out = _unpredict(out, parms, values)
        except (ValueError, NotImplementedError):
            raise
        except Exception as e:  # MemoryError/OverflowError on junk parms
            raise ValueError(f"predictor decode failed: {e}") from None
    elif parms not in (None, {}) and name not in (
        "FlateDecode",
        "LZWDecode",
    ):
        raise ValueError(f"/DecodeParms not applicable to {name}")
    return out


# --- standard security handler (ISO 32000-1 §7.6.3) -----------------------

_CRYPT_PAD = bytes(
    [
        0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
        0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
        0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
        0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
    ]
)


def _rc4(key: bytes, data: bytes) -> bytes:
    s = list(range(256))
    j = 0
    for i in range(256):
        j = (j + s[i] + key[i % len(key)]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray()
    i = j = 0
    for c in data:
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out.append(c ^ s[(s[i] + s[j]) & 0xFF])
    return bytes(out)


def _hash_r6(password: bytes, salt: bytes, udata: bytes = b"") -> bytes:
    """ISO 32000-2 Algorithm 2.B — the R6 (AES-256) password hash:
    iterated SHA-256/384/512 selected by an AES-128-CBC encryption of
    the previous digest, at least 64 rounds, continuing while the last
    ciphertext byte exceeds (round - 32). The digest selector is the
    first 16 ciphertext bytes as a big-endian integer mod 3 — equal to
    the byte SUM mod 3 (256 ≡ 1 mod 3), which is what gets computed."""
    import hashlib

    k = hashlib.sha256(password + salt + udata).digest()
    digests = (hashlib.sha256, hashlib.sha384, hashlib.sha512)
    rounds = last = 0
    while rounds < 64 or last > rounds - 32:
        k1 = (password + k + udata) * 64
        e = aes_cbc_encrypt(k[:16], k[16:32], k1)
        k = digests[sum(e[:16]) % 3](e).digest()
        last = e[-1]
        rounds += 1
    return k[:32]


class _StdSecurity:
    """Standard security handler, EMPTY user password — the dominant
    real-crawl encrypted-PDF class: documents everyone may READ whose
    owner password merely restricts print/modify. Covered profiles:

    * V 1/2, R 2/3 (classic RC4): file key from the padding constant
      (Algorithm 2), /U verifies it (Algorithms 4/5), per-object
      MD5-derived RC4 keys (Algorithm 1).
    * V 4, R 4 (crypt filters): same Algorithm-2 file key (honoring
      /EncryptMetadata false's 0xFFFFFFFF suffix); /StmF == /StrF
      routed through /CF — /CFM /V2 is RC4 per-object keys, /CFM
      /AESV2 is AES-128-CBC with the "sAlT" key-derivation suffix and
      a per-stream leading IV + PKCS#7 padding (§7.6.2), /Identity is
      pass-through. The cipher is functions/aes.py (dependency-free,
      optional-hook accelerated).
    * V 5, R 5/6 (AES-256, /CFM /AESV3): /U's validation salt checks
      the empty user password (R5 plain SHA-256, R6 Algorithm 2.B via
      :func:`_hash_r6`), /UE decrypts to the file key (Algorithm 2.A),
      which encrypts every stream directly — no per-object derivation.

    A non-empty user password (the /U check fails) is genuinely
    unreadable without credentials: guarded NotImplementedError, as are
    non-Standard handlers, split StmF/StrF, and unknown /CFM names."""

    def __init__(self, enc: dict, id0: bytes, values: dict | None = None) -> None:
        import hashlib

        values = values or {}
        # object generation numbers (Algorithm 1 mixes the low 2 bytes
        # into the per-object key); populated by the parse layer after
        # the object scan — absent oids derive with gen 0, the
        # overwhelmingly common case
        self.gens: dict[int, int] = {}
        if enc.get("Filter") != "Standard":
            raise NotImplementedError(
                f"PDF security handler {enc.get('Filter')!r} not supported"
            )
        v = enc.get("V", 0)
        r = enc.get("R", 2)
        if v == 5 and r in (5, 6):
            self.cfm, _ = self._crypt_filter(enc, values, ("AESV3", "Identity"))
            self._init_v5(enc, r)
            return
        cf_length = None
        if v in (1, 2) and r in (2, 3):
            self.cfm = "V2"
        elif v == 4 and r == 4:
            self.cfm, cf_length = self._crypt_filter(
                enc, values, ("V2", "AESV2", "Identity")
            )
        else:
            raise NotImplementedError(
                f"PDF /Encrypt V={v!r} R={r!r} not supported"
            )
        o = enc.get("O")
        u = enc.get("U")
        p = enc.get("P")
        if not isinstance(o, bytes) or not isinstance(u, bytes) or not isinstance(p, int):
            raise ValueError("bad /Encrypt dictionary")
        # Key length precedence (r14 review): AESV2 is AES-128 BY SPEC
        # regardless of any /Length hints; V4 /V2 (RC4 crypt filters)
        # takes the crypt filter dict's /Length (authoritative for V4 —
        # the top-level /Length may be absent entirely), then the
        # top-level /Length, then the 40-bit default. V1 is always 40.
        if self.cfm == "AESV2":
            length = 128
        elif cf_length is not None:
            length = cf_length
        else:
            length = enc.get("Length", 40)
        if v == 1:
            length = 40
        if not isinstance(length, int) or length % 8 or not 40 <= length <= 128:
            raise ValueError("bad /Encrypt /Length")
        n = length // 8
        # /P is a SIGNED 32-bit flag word: hash its LE byte image. With
        # crypt filters, /EncryptMetadata false appends 0xFFFFFFFF
        # (Algorithm 2 step f).
        extra = (
            b"\xff\xff\xff\xff"
            if v == 4 and enc.get("EncryptMetadata") is False
            else b""
        )
        h = hashlib.md5(
            _CRYPT_PAD
            + o[:32]
            + (p & 0xFFFFFFFF).to_bytes(4, "little")
            + id0
            + extra
        ).digest()
        if r >= 3:
            for _ in range(50):
                h = hashlib.md5(h[:n]).digest()
        self.key = h[:n]
        if r == 2:
            ok = _rc4(self.key, _CRYPT_PAD) == u[:32]
        else:
            x = _rc4(self.key, hashlib.md5(_CRYPT_PAD + id0).digest())
            for i in range(1, 20):
                x = _rc4(bytes(b ^ i for b in self.key), x)
            ok = x[:16] == u[:16]
        if not ok:
            raise NotImplementedError(
                "password-protected PDF (non-empty user password)"
            )

    @staticmethod
    def _crypt_filter(enc: dict, values: dict, allowed: tuple) -> tuple:
        """Resolve /StmF//StrF through /CF to a supported /CFM name;
        returns (cfm, key_bits_or_None). The crypt filter dict's
        /Length is nominally in bits, but real writers (Acrobat
        included) emit BYTES — values <= 32 normalize as bytes*8, and
        40-256 bit counts pass through (the pdf.js tolerance)."""
        stmf = enc.get("StmF", "Identity")
        strf = enc.get("StrF", "Identity")
        if stmf != strf:
            raise NotImplementedError(
                "split PDF /StmF vs /StrF crypt filters not supported"
            )
        if stmf == "Identity":
            return "Identity", None
        cf = _resolve(enc.get("CF"), values)
        cfd = _resolve(cf.get(stmf), values) if isinstance(cf, dict) else None
        if not isinstance(cfd, dict):
            raise ValueError(f"missing crypt filter dict for {stmf!r}")
        cfm = cfd.get("CFM")
        if cfm not in allowed:
            raise NotImplementedError(f"PDF crypt filter /CFM {cfm!r} not supported")
        cf_len = cfd.get("Length")
        if isinstance(cf_len, int) and 1 <= cf_len <= 32:
            cf_len *= 8
        if not isinstance(cf_len, int):
            cf_len = None
        return cfm, cf_len

    def _init_v5(self, enc: dict, r: int) -> None:
        """Algorithm 2.A (empty user password): validate against /U's
        validation salt, then decrypt /UE with the intermediate key to
        recover the 256-bit file key."""
        import hashlib

        u = enc.get("U")
        ue = enc.get("UE")
        if not isinstance(u, bytes) or len(u) < 48:
            raise ValueError("bad /Encrypt /U (need 48 bytes for V5)")
        if not isinstance(ue, bytes) or len(ue) < 32:
            raise ValueError("bad /Encrypt /UE")
        vsalt, ksalt = u[32:40], u[40:48]
        if r == 5:
            h = hashlib.sha256(vsalt).digest()
        else:
            h = _hash_r6(b"", vsalt)
        if h != u[:32]:
            raise NotImplementedError(
                "password-protected PDF (non-empty user password)"
            )
        ik = hashlib.sha256(ksalt).digest() if r == 5 else _hash_r6(b"", ksalt)
        self.key = aes_cbc_decrypt(ik, b"\x00" * 16, ue[:32])

    def decrypt(self, objnum: int, data: bytes) -> bytes:
        import hashlib

        if self.cfm == "Identity":
            return data
        if self.cfm == "AESV3":
            key = self.key
        else:
            # Algorithm 1: low 3 bytes of the object number + low 2
            # bytes of its GENERATION (nonzero in incremental-update
            # files — previously hardcoded 0, which made RC4 silently
            # produce garbage for gen>0 objects; r14 advisor finding)
            gen = self.gens.get(objnum, 0) & 0xFFFF
            salt = b"sAlT" if self.cfm == "AESV2" else b""
            key = hashlib.md5(
                self.key
                + objnum.to_bytes(3, "little")
                + gen.to_bytes(2, "little")
                + salt
            ).digest()[: min(len(self.key) + 5, 16)]
            if self.cfm == "V2":
                return _rc4(key, data)
        # AES-CBC (§7.6.2): leading 16-byte IV, PKCS#7 padding — always
        # present, so a valid ciphertext is >= 32 bytes (empty plaintext
        # = IV + one pad block). A zero-length payload stays empty.
        if not data:
            return b""
        if len(data) < 32 or len(data) % 16:
            raise ValueError("bad AES-encrypted stream length")
        out = aes_cbc_decrypt(key, data[:16], data[16:])
        pad = out[-1]
        if not 1 <= pad <= 16 or out[-pad:] != bytes([pad]) * pad:
            raise ValueError("bad AES stream padding")
        return out[:-pad]


def _stream_bytes(
    oid: int, values: dict, streams: dict, data: bytes, crypt=None
) -> bytes:
    """One stream object's decoded payload: resolve indirect /Length,
    verify 'endstream', decrypt (when the document is encrypted —
    encryption is the OUTERMOST layer, §7.6.2; xref streams are never
    encrypted), then apply the /Filter CHAIN in array order with its
    parallel /DecodeParms (§7.3.8.2: a single name and a one-element
    array are equivalent; a null parms slot means no parms for that
    leg)."""
    sdict, start = streams[oid]
    length = sdict.get("Length")
    if isinstance(length, tuple) and length[0] == "ref":
        length = values.get(length[1])
    if not isinstance(length, int) or length < 0:
        raise ValueError("unresolvable stream /Length")
    raw = data[start : start + length]
    tail = data[start + length : start + length + 20]
    if b"endstream" not in tail.translate(None, bytes(_WS)):
        raise ValueError("stream /Length does not reach endstream")
    if crypt is not None and sdict.get("Type") != "XRef":
        raw = crypt.decrypt(oid, raw)
    filt = _resolve(sdict.get("Filter"), values)
    parms = _resolve(sdict.get("DecodeParms"), values)
    filts = filt if isinstance(filt, list) else [filt] if filt else []
    if isinstance(parms, list):
        plist = parms + [None] * (len(filts) - len(parms))
    else:
        plist = [parms] + [None] * (len(filts) - 1)
    if not filts:
        if parms:
            raise NotImplementedError(
                "/DecodeParms without a filter not supported"
            )
        return raw
    out = raw
    for name, p in zip(filts, plist):
        if not isinstance(name, str):
            raise ValueError("bad /Filter entry")
        out = _apply_filter(name, out, _resolve(p, values), values)
    return out


def _expand_object_streams(
    values: dict, streams: dict, positions: dict, data: bytes, crypt=None
) -> set:
    """Fold every /Type /ObjStm member into ``values`` with file-order
    shadowing: a member's definition position is its container's, so a
    direct definition LATER in the file (incremental update) shadows the
    member and a later ObjStm shadows both — the xref-table outcome
    re-derived from byte order. Members are parsed from the decoded
    payload at /First + per-member offset (ISO 32000-1 §7.5.7); spec
    forbids streams inside an ObjStm, so members are pure values.
    Returns the set of member oids that WON shadowing — their strings
    are never separately encrypted (§7.5.7), which string decryption
    must know."""
    members: set = set()
    for oid in sorted(
        (o for o, (d, _) in streams.items() if d.get("Type") == "ObjStm"),
        key=lambda o: positions[o],
    ):
        sdict, _ = streams[oid]
        payload = _stream_bytes(oid, values, streams, data, crypt)
        n = _resolve(sdict.get("N"), values)
        first = _resolve(sdict.get("First"), values)
        if not isinstance(n, int) or not isinstance(first, int):
            raise ValueError("ObjStm missing /N or /First")
        lex = _Lexer(payload)
        pairs = []
        for _ in range(2 * n):
            tok = lex.next_token()
            if tok is None or tok[0] != "num":
                raise ValueError("bad ObjStm member table")
            pairs.append(int(tok[1]))
        cpos = positions[oid]
        for i in range(n):
            moid, off = pairs[2 * i], pairs[2 * i + 1]
            if moid in positions and positions[moid] > cpos:
                continue  # later direct/stream definition shadows this
            try:
                values[moid] = _parse_value(_Lexer(payload, first + off))
            except ValueError:
                continue  # malformed member; the rest still count
            positions[moid] = cpos
            members.add(moid)
    return members


# ---------------------------------------------------------------------------
# page tree + text operators
# ---------------------------------------------------------------------------


def _resolve(v, values):
    return values.get(v[1]) if isinstance(v, tuple) and v and v[0] == "ref" else v


def _walk_pages(node_ref, values, visited, depth: int = 0) -> list[tuple]:
    """Depth-first /Kids walk; yields (oid, page_dict) pairs — the oid
    (None for an inline node) is the string-decryption key for the
    page's own strings (URI annotations)."""
    if depth > 64:  # a linear /Pages chain must be a structural error,
        # never a RecursionError escaping the declared contract
        raise ValueError("page tree too deep")
    node = _resolve(node_ref, values)
    if not isinstance(node, dict):
        raise ValueError("page-tree node is not a dict")
    is_ref = isinstance(node_ref, tuple) and node_ref and node_ref[0] == "ref"
    key = node_ref[1] if is_ref else id(node)
    if key in visited:
        raise ValueError("cycle in page tree")
    visited.add(key)
    t = node.get("Type")
    if t == "Page":
        return [(node_ref[1] if is_ref else None, node)]
    if t == "Pages" or "Kids" in node:
        out: list[tuple] = []
        for kid in node.get("Kids") or []:
            out.extend(_walk_pages(kid, values, visited, depth + 1))
        return out
    raise ValueError(f"unexpected page-tree node type {t!r}")


def _page_uri_links(page_oid, page, values, crypt, objstm_members) -> list[str]:
    """URI-action outlinks of one page (ISO 32000-1 §12.5.6.5 link
    annotations + §12.6.4.7 URI actions): /Annots entries whose
    /Subtype is /Link and whose action /S is /URI, in annotation-array
    order. The URI string decrypts under its CONTAINING object's number
    when the document is encrypted (§7.6.2 — the innermost indirection
    holds the string: the action object if /A is a reference, else the
    annotation object, else the page itself), EXCEPT strings inside
    object-stream members, which are never separately encrypted
    (§7.5.7). Bytes decode as Latin-1 (URIs are 7-bit per spec; stray
    high bytes stay deterministic)."""
    annots = _resolve(page.get("Annots"), values)
    if not isinstance(annots, list):
        return []
    out: list[str] = []
    for a in annots[:4096]:  # adversarial bound, same class as bfrange
        holder = page_oid
        if isinstance(a, tuple) and a and a[0] == "ref":
            holder = a[1]
        ad = _resolve(a, values)
        if not isinstance(ad, dict) or ad.get("Subtype") != "Link":
            continue
        act_ref = ad.get("A")
        if isinstance(act_ref, tuple) and act_ref and act_ref[0] == "ref":
            holder = act_ref[1]
        act = _resolve(act_ref, values)
        if not isinstance(act, dict) or act.get("S") != "URI":
            continue
        uri = act.get("URI")
        if not isinstance(uri, bytes):
            continue
        if (
            crypt is not None
            and holder is not None
            and holder not in objstm_members
        ):
            uri = crypt.decrypt(holder, uri)
        out.append(uri.decode("latin-1"))
    return out


# ---------------------------------------------------------------------------
# fonts: /Encoding /Differences + /ToUnicode CMaps
# ---------------------------------------------------------------------------

# ASCII-printable subset of the Adobe Glyph List — the names every
# /Differences array over Latin text uses. uniXXXX / uXXXX[XX] names
# are handled programmatically; anything else decodes to U+FFFD
# (declared in the module contract).
_AGL = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~",
}
for _c in "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz":
    _AGL[_c] = _c
_CHAR_TO_GLYPH = {v: k for k, v in _AGL.items()}


def _glyph_char(name: str) -> str:
    if name in _AGL:
        return _AGL[name]
    if name.startswith("uni") and len(name) == 7:
        try:
            return chr(int(name[3:], 16))
        except ValueError:
            return "�"
    if name.startswith("u") and 5 <= len(name) <= 7:
        try:
            return chr(int(name[1:], 16))
        except ValueError:
            return "�"
    return "�"


def _parse_tounicode(cmap: bytes) -> dict[bytes, str]:
    """bfchar/bfrange sections of a /ToUnicode CMap -> {code bytes ->
    unicode str}. Codes are the hex-string source bytes (1- or 2-byte);
    targets are UTF-16BE hex strings. bfrange increments the LAST code
    unit of the start target across the range (ISO 32000-1 §9.10.3's
    Adobe CMap convention) unless the target is an array of per-code
    strings."""
    out: dict[bytes, str] = {}
    lex = _Lexer(cmap)
    mode = None
    pending: list = []
    while True:
        tok = lex.next_token()
        if tok is None:
            break
        kind, val = tok
        if kind == "kw" and val in ("beginbfchar", "beginbfrange"):
            mode, pending = val, []
        elif kind == "kw" and val in ("endbfchar", "endbfrange"):
            mode, pending = None, []
        elif mode == "beginbfchar":
            if kind == "str":
                pending.append(val)
                if len(pending) == 2:
                    src, dst = pending
                    if src:  # a zero-length code can never match: a 0
                        # width in the decoder would stall the scan
                        out[bytes(src)] = dst.decode("utf-16-be", "replace")
                    pending = []
        elif mode == "beginbfrange":
            if kind == "str":
                pending.append(val)
            elif kind == "arr_open":
                pending.append(_parse_value(lex, tok))
            if len(pending) == 3:
                lo, hi, dst = pending
                pending = []
                if len(lo) != len(hi) or not lo:
                    continue
                start = int.from_bytes(lo, "big")
                stop = int.from_bytes(hi, "big")
                width = len(lo)
                # amplification guard: a few compressed bytes must not
                # expand to millions of entries (attacker-controlled
                # bounds); real codespaces are <= 2 bytes anyway
                if stop - start >= 0x10000 or len(out) > 0x20000:
                    continue
                if isinstance(dst, list):
                    for i, d in enumerate(dst):
                        if start + i > stop or not isinstance(d, bytes):
                            break
                        out[(start + i).to_bytes(width, "big")] = d.decode(
                            "utf-16-be", "replace"
                        )
                elif isinstance(dst, bytes) and len(dst) >= 2:
                    base = dst.decode("utf-16-be", "replace")
                    for i in range(stop - start + 1):
                        code = (start + i).to_bytes(width, "big")
                        out[code] = base[:-1] + chr(ord(base[-1]) + i)
    return out


def _font_decoder(font, values, streams, data, crypt=None):
    """One font dict -> callable(bytes) -> str. Precedence: /ToUnicode
    CMap (authoritative when present, including for /Type0 composite
    fonts), then /Encoding /Differences over Latin-1, then Latin-1.
    /Type0 WITHOUT /ToUnicode raises the guarded error (CID decoding
    needs the font file)."""
    font = _resolve(font, values)
    if not isinstance(font, dict):
        return lambda b: b.decode("latin-1")
    tu = font.get("ToUnicode")
    if isinstance(tu, tuple) and tu[0] == "ref" and tu[1] in streams:
        cmap = _parse_tounicode(
            _stream_bytes(tu[1], values, streams, data, crypt)
        )
        widths = sorted({len(k) for k in cmap if k}, reverse=True)

        step = min(widths) if widths else 1  # unmapped-code advance

        def decode_cmap(b: bytes) -> str:
            out = []
            i = 0
            while i < len(b):
                for w in widths:
                    key = b[i : i + w]
                    if len(key) == w and key in cmap:
                        out.append(cmap[key])
                        i += w
                        break
                else:
                    # unmapped: 1-byte codespaces fall back to Latin-1,
                    # wider codes have no byte meaning -> U+FFFD
                    out.append(
                        b[i : i + 1].decode("latin-1") if step == 1 else "�"
                    )
                    i += step
            return "".join(out)

        return decode_cmap
    if font.get("Subtype") == "Type0":
        raise NotImplementedError(
            "composite /Type0 font without /ToUnicode not supported"
        )
    enc = _resolve(font.get("Encoding"), values)
    if isinstance(enc, dict) and isinstance(enc.get("Differences"), list):
        table = {i: chr(i) for i in range(256)}  # Latin-1 base
        code = 0
        for el in enc["Differences"]:
            if isinstance(el, int):
                code = el
            elif isinstance(el, str):
                table[code & 0xFF] = _glyph_char(el)
                code += 1
        return lambda b: "".join(table[c] for c in b)
    return lambda b: b.decode("latin-1")


def _page_text(content: bytes, fonts: dict | None = None) -> str:
    """Apply the module's text-operator contract to one page's
    (concatenated) content stream. ``fonts`` maps resource font names
    (the ``Tf`` operand) to byte decoders; absent fonts and font-less
    text decode Latin-1 (the classic fixture profile)."""
    lex = _Lexer(content)
    lines: list[str] = []
    cur: list[str] = []
    operands: list = []
    latin1 = lambda b: b.decode("latin-1")  # noqa: E731
    decoder = [latin1]

    def newline() -> None:
        text = "".join(cur)
        if text:
            lines.append(text)
        cur.clear()

    def show(val) -> None:
        if isinstance(val, bytes):
            cur.append(decoder[0](val))

    while True:
        tok = lex.next_token()
        if tok is None:
            break
        kind, val = tok
        if kind == "kw":
            if val == "Tj":
                if operands:
                    show(operands[-1])
            elif val == "TJ":
                if operands and isinstance(operands[-1], list):
                    for el in operands[-1]:
                        show(el)
            elif val == "'":
                newline()
                if operands:
                    show(operands[-1])
            elif val == '"':
                newline()
                if operands:
                    show(operands[-1])
            elif val in ("T*", "Tm", "BT"):
                newline()
            elif val in ("Td", "TD"):
                # tx ty Td: a pure-horizontal move continues the line
                if len(operands) >= 2 and operands[-1] != 0:
                    newline()
            elif val == "Tf":
                # /Fname size Tf: select the active font's decoder
                if (
                    fonts
                    and len(operands) >= 2
                    and isinstance(operands[-2], str)
                ):
                    decoder[0] = fonts.get(operands[-2], latin1)
            operands = []
        elif kind == "arr_open":
            # reuse the object parser for the array operand
            operands.append(_parse_value(lex, tok))
        elif kind in ("num", "str", "name"):
            operands.append(val if kind != "num" else val)
        # dict operands (BDC etc.) would arrive as dict_open: parse+drop
        elif kind == "dict_open":
            operands.append(_parse_value(lex, tok))
    newline()
    return "\n".join(lines)


def pdf_text(data: bytes) -> dict:
    """Extract ``{pages: [str], text: str, n_pages: int, links: [str]}``
    from PDF bytes per the module contract (classic AND 1.5
    compressed-object profiles; /Differences + /ToUnicode font
    re-encoding; ``links`` = /Annots URI actions in page-tree-then-
    annotation order — the outlink surface the crawl link graph feeds
    on). Raises
    ValueError on structurally broken documents and NotImplementedError
    on the guarded out-of-scope profiles (encryption, non-Flate
    filters, Type0 fonts without /ToUnicode) — the operator layer
    (``operators.crawl.pdf_extract``) converts both into dead-letter
    rows."""
    if not data.startswith(b"%PDF-"):
        raise ValueError("not a PDF (missing %PDF- header)")
    values, streams, positions, gens = _scan_objects(data)
    # encryption is declared in a trailer dict — the 'trailer' keyword
    # in classic files, the /Type /XRef stream dict in 1.5 xref-stream
    # files (which have no 'trailer' keyword at all). The LAST
    # declaration wins (incremental updates); /ID's first element
    # feeds the key derivation.
    enc = None
    fid = None
    enc_declared = False
    for tm in re.finditer(rb"trailer\b", data):
        lex = _Lexer(data, tm.end())
        try:
            tdict = _parse_value(lex)
        except ValueError:
            continue
        if isinstance(tdict, dict) and "Encrypt" in tdict:
            enc_declared = True
            enc = _resolve(tdict["Encrypt"], values)
            fid = tdict.get("ID", fid)
    for oid, (sdict, _) in streams.items():
        if sdict.get("Type") == "XRef" and "Encrypt" in sdict:
            enc_declared = True
            enc = _resolve(sdict["Encrypt"], values)
            fid = sdict.get("ID", fid)
    crypt = None
    if enc_declared:
        if not isinstance(enc, dict):
            raise ValueError("unresolvable /Encrypt dictionary")
        id0 = b""
        if isinstance(fid, list) and fid and isinstance(fid[0], bytes):
            id0 = fid[0]
        crypt = _StdSecurity(enc, id0, values)
        crypt.gens = gens  # Algorithm-1 keys mix each object's gen
    objstm_members = _expand_object_streams(
        values, streams, positions, data, crypt
    )
    catalog = None
    best = -1
    for oid, v in values.items():
        if isinstance(v, dict) and v.get("Type") == "Catalog":
            if positions.get(oid, 0) > best:  # last definition wins
                catalog, best = v, positions.get(oid, 0)
    if catalog is None:
        raise ValueError("no document catalog")
    pages = _walk_pages(catalog.get("Pages"), values, set())
    if not pages:
        raise ValueError("empty page tree")
    texts: list[str] = []
    links: list[str] = []
    for page_oid, page in pages:
        contents = page.get("Contents")
        refs = contents if isinstance(contents, list) else [contents]
        parts = []
        for ref in refs:
            if not (isinstance(ref, tuple) and ref[0] == "ref"):
                raise ValueError("page /Contents is not a reference")
            if ref[1] not in streams:
                raise ValueError("page /Contents is not a stream")
            parts.append(
                _stream_bytes(ref[1], values, streams, data, crypt)
            )
        fonts = _page_fonts(page, values, streams, data, crypt)
        texts.append(_page_text(b"\n".join(parts), fonts))
        links.extend(
            _page_uri_links(page_oid, page, values, crypt, objstm_members)
        )
    return {
        "pages": texts,
        "text": "\n".join(texts),
        "n_pages": len(texts),
        "links": links,
    }


def _page_fonts(page: dict, values, streams, data, crypt=None) -> dict:
    """The page's font-name -> decoder map, honoring page-tree
    /Resources inheritance (a page without its own Resources uses the
    nearest ancestor's — ISO 32000-1 §7.7.3.4)."""
    node, res, hops = page, None, 0
    while isinstance(node, dict) and hops < 64:
        res = _resolve(node.get("Resources"), values)
        if res is not None:
            break
        node = _resolve(node.get("Parent"), values)
        hops += 1
    if not isinstance(res, dict):
        return {}
    fdict = _resolve(res.get("Font"), values)
    if not isinstance(fdict, dict):
        return {}
    return {
        name: _font_decoder(f, values, streams, data, crypt)
        for name, f in fdict.items()
    }
