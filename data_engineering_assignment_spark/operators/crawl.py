"""Crawl-pipeline operators: HTML main-text extraction and URL/domain
analytics over WARC records — the glue between ``sources.warc_records``
and the text-quality/dedup operators (CCNet/RefinedWeb shape). Additive
vs the reference (no crawl route; Assignment-python.py stops at image
color analytics).

Scale shape: extraction is an Arrow-batched stateless pass (zero
shuffle, embarrassingly parallel — the codec-gate class); URL parts are
the JVM built-in ``parse_url`` (whole-stage codegen, never a Python
round-trip); host blocklists broadcast the SMALL blocked set as a LEFT
ANTI join (the ngram max_df discipline — never ship the kept corpus).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources import map_batches


def _html_struct():
    from pyspark.sql.types import (
        ArrayType,
        BooleanType,
        StringType,
        StructField,
        StructType,
    )

    link = StructType(
        [
            StructField("href", StringType()),
            StructField("anchor", StringType()),
            StructField("nofollow", BooleanType()),
        ]
    )
    from pyspark.sql.types import IntegerType

    og_pair = StructType(
        [
            StructField("property", StringType()),
            StructField("content", StringType()),
        ]
    )
    return StructType(
        [
            StructField("text", StringType()),
            StructField("main_text", StringType()),
            StructField("title", StringType()),
            StructField("links", ArrayType(link)),
            StructField("noindex", BooleanType()),
            StructField("nofollow", BooleanType()),
            StructField("canonical", StringType()),
            StructField("description", StringType()),
            StructField("ld_types", ArrayType(StringType())),
            StructField("ld_blocks", IntegerType()),
            StructField("ld_errors", IntegerType()),
            StructField("og", ArrayType(og_pair)),
            StructField("html_ok", BooleanType()),
        ]
    )


def html_extract(
    df: DataFrame,
    html_col: str = "http_body",
    content_type_col: str | None = None,
) -> DataFrame:
    """Append ``page`` = struct<text, main_text, title, links,
    noindex, nofollow, canonical, description, ld_types, ld_blocks,
    ld_errors, og, html_ok> extracted
    from an HTML string/binary column via :func:`functions.html.parse_html`
    (deterministic contract: script/style/head dropped, entities decoded,
    block boundaries -> newlines, whitespace collapsed). Each link
    carries its rel-nofollow/ugc/sponsored flag; ``noindex``/``nofollow``
    are the page-level ``<meta name=robots>`` directives ('none' implies
    both) — the in-page opt-outs a C4-style corpus filter and a link
    graph must honor.

    Binary input decodes charset-aware via
    :func:`functions.html.decode_html_bytes` (BOM > HTTP Content-Type
    ``content_type_col`` > meta charset > UTF-8).
    mapInPandas with every input column carried through verbatim — the
    one Python hop in the crawl pipeline; downstream stats (lengths,
    word counts, link counts) stay JVM-side expressions over the struct.
    Undecodable/None rows survive with html_ok = false and NULL fields
    (dead-letter discipline, never a dropped row)."""
    from pyspark.sql.types import StructField, StructType

    from ..functions.html import decode_html_bytes, parse_html

    out_schema = StructType(
        list(df.schema.fields) + [StructField("page", _html_struct())]
    )

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vals = []
            ctypes = (
                pdf[content_type_col]
                if content_type_col is not None
                else [None] * len(pdf)
            )
            for raw, ctype in zip(pdf[html_col], ctypes):
                try:
                    if raw is None:
                        raise ValueError("no content")
                    if isinstance(raw, (bytes, bytearray)):
                        raw = decode_html_bytes(
                            bytes(raw),
                            None if ctype is None else str(ctype),
                        )
                    r = parse_html(raw)
                    toks = set(r["robots"])
                    vals.append(
                        {
                            "text": r["text"],
                            "main_text": r["main_text"],
                            "title": r["title"],
                            "links": [
                                {"href": h, "anchor": a, "nofollow": nf}
                                for h, a, nf in r["links"]
                            ],
                            # 'none' == noindex,nofollow per the robots
                            # meta spec
                            "noindex": bool({"noindex", "none"} & toks),
                            "nofollow": bool({"nofollow", "none"} & toks),
                            "canonical": r["canonical"],
                            "description": r["description"],
                            "ld_types": r["ld_types"],
                            "ld_blocks": r["ld_blocks"],
                            "ld_errors": r["ld_errors"],
                            "og": [
                                {"property": k, "content": v}
                                for k, v in r["og"]
                            ],
                            "html_ok": True,
                        }
                    )
                except Exception:
                    vals.append(
                        {"text": None, "main_text": None, "title": None,
                         "links": None, "noindex": None, "nofollow": None,
                         "canonical": None, "description": None,
                         "ld_types": None, "ld_blocks": None,
                         "ld_errors": None, "og": None,
                         "html_ok": False}
                    )
            out = pdf.copy()
            out["page"] = vals
            yield out

    return map_batches(df, mapper, out_schema)


def pdf_extract(df: DataFrame) -> DataFrame:
    """Append ``doc`` = struct<text, n_pages, links, pdf_ok>
    extracted from a PDF binary column via :func:`functions.pdf.pdf_text`
    (the full supported profile set: classic/1.5, filter chains, fonts,
    RC4/AES standard security; out-of-scope documents and structurally
    broken bytes survive as pdf_ok = false with NULL fields — the
    dead-letter discipline, never a dropped row). ``links`` carries the
    /Annots URI actions in page order — PDF outlinks feed the same
    resolution path as HTML anchors, so link graphs stop undercounting
    corpora with PDF mass. Same scale shape as :func:`html_extract`:
    one Arrow-batched stateless Python pass, zero shuffle; downstream
    stats stay JVM-side expressions over the struct."""
    from pyspark.sql.types import (
        ArrayType,
        BooleanType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from ..functions.pdf import pdf_text

    doc_struct = StructType(
        [
            StructField("text", StringType()),
            StructField("n_pages", IntegerType()),
            StructField("links", ArrayType(StringType())),
            StructField("pdf_ok", BooleanType()),
        ]
    )
    out_schema = StructType(
        list(df.schema.fields) + [StructField("doc", doc_struct)]
    )

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vals = []
            for raw in pdf["http_body"]:
                try:
                    if raw is None:
                        raise ValueError("no content")
                    r = pdf_text(bytes(raw))
                    vals.append(
                        {
                            "text": r["text"],
                            "n_pages": r["n_pages"],
                            "links": r["links"],
                            "pdf_ok": True,
                        }
                    )
                except Exception:
                    vals.append(
                        {
                            "text": None,
                            "n_pages": None,
                            "links": None,
                            "pdf_ok": False,
                        }
                    )
            out = pdf.copy()
            out["doc"] = vals
            yield out

    return map_batches(df, mapper, out_schema)


def document_extract(df: DataFrame, content_type_col: str | None = None) -> DataFrame:
    """Content-Type-dispatched text extraction — ONE operator a crawl
    pipeline points at its mixed-payload record stream: routes each row
    to the HTML extractor (``functions.html.parse_html``, charset-aware
    decode) or the PDF extractor (``functions.pdf.pdf_text``), appending
    ``doc`` = struct<text, main_text, title, n_pages, links, kind,
    doc_ok> — ``links`` is the unresolved FOLLOW-ABLE outlink target
    list of either kind (HTML anchor hrefs with rel
    nofollow/ugc/sponsored anchors excluded — the tokens a link graph
    must not count; PDF /Annots URI actions), one explode + resolution
    away from the link graph. Consumers needing the nofollow edges too
    should use :func:`html_extract`'s per-link flag.

    Routing contract (deterministic, dead-letter-complete):

    * the Content-Type header decides first: contains ``html`` -> HTML,
      contains ``pdf`` -> PDF (parameters/case ignored);
    * with no usable header, the payload sniffs: ``%PDF-`` magic -> PDF;
      anything decodable that LOOKS like markup (a ``<`` in the first
      1024 bytes) -> HTML (the WHATWG-ish fallback: HTML parsing never
      raises, so over-routing to HTML is safe);
    * everything else — and every row whose chosen extractor fails —
      survives as kind='other'/'html'/'pdf' with doc_ok = false and
      NULL fields: a countable census row, never a silent drop.

    For PDF rows ``main_text`` = ``text`` (no boilerplate model) and
    ``title`` is NULL; for HTML rows ``n_pages`` = 1. One Arrow-batched
    stateless pass (zero shuffle), the html_extract scale shape."""
    from pyspark.sql.types import (
        ArrayType,
        BooleanType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from ..functions.html import decode_html_bytes, parse_html
    from ..functions.pdf import pdf_text

    body_col = "http_body"
    doc_struct = StructType(
        [
            StructField("text", StringType()),
            StructField("main_text", StringType()),
            StructField("title", StringType()),
            StructField("n_pages", IntegerType()),
            StructField("links", ArrayType(StringType())),
            StructField("kind", StringType()),
            StructField("doc_ok", BooleanType()),
        ]
    )
    out_schema = StructType(
        list(df.schema.fields) + [StructField("doc", doc_struct)]
    )
    dead = {
        "text": None, "main_text": None, "title": None,
        "n_pages": None, "links": None, "doc_ok": False,
    }

    def route(raw, ctype) -> str:
        ct = (str(ctype) if ctype is not None else "").lower()
        if "html" in ct:
            return "html"
        if "pdf" in ct:
            return "pdf"
        head = bytes(raw[:1024]) if isinstance(raw, (bytes, bytearray)) \
            else str(raw)[:1024].encode("utf-8", "replace")
        if head.startswith(b"%PDF-"):
            return "pdf"
        if b"<" in head:
            return "html"
        return "other"

    def extract_one(raw, ctype) -> dict:
        if raw is None:
            return {**dead, "kind": "other"}
        kind = route(raw, ctype)
        try:
            if kind == "html":
                s = (
                    decode_html_bytes(
                        bytes(raw), None if ctype is None else str(ctype)
                    )
                    if isinstance(raw, (bytes, bytearray))
                    else str(raw)
                )
                r = parse_html(s)
                return {
                    "text": r["text"],
                    "main_text": r["main_text"],
                    "title": r["title"],
                    "n_pages": 1,
                    "links": [h for h, _, nf in r["links"] if not nf],
                    "kind": kind,
                    "doc_ok": True,
                }
            if kind == "pdf":
                r = pdf_text(bytes(raw))
                return {
                    "text": r["text"],
                    "main_text": r["text"],
                    "title": None,
                    "n_pages": r["n_pages"],
                    "links": r["links"],
                    "kind": kind,
                    "doc_ok": True,
                }
        except Exception:
            pass
        return {**dead, "kind": kind}

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ctypes = (
                pdf[content_type_col]
                if content_type_col is not None
                else [None] * len(pdf)
            )
            out = pdf.copy()
            out["doc"] = [
                extract_one(raw, ct) for raw, ct in zip(pdf[body_col], ctypes)
            ]
            yield out

    return map_batches(df, mapper, out_schema)


def with_url_parts(
    df: DataFrame, url_col: str = "target_uri", prefix: str = "url_"
) -> DataFrame:
    """Append ``{prefix}scheme/host/path/query`` parsed from a URL column
    — JVM ``try_parse_url`` expressions (codegen, NULL on malformed input — parse_url RAISES under ANSI),
    never a Python UDF."""
    u = F.col(url_col)
    return df.select(
        "*",
        F.try_parse_url(u, F.lit("PROTOCOL")).alias(f"{prefix}scheme"),
        F.try_parse_url(u, F.lit("HOST")).alias(f"{prefix}host"),
        F.try_parse_url(u, F.lit("PATH")).alias(f"{prefix}path"),
        F.try_parse_url(u, F.lit("QUERY")).alias(f"{prefix}query"),
    )


_TRACKING_PARAMS = ("fbclid", "gclid", "msclkid", "mc_eid")


def canonical_url(url_col) -> Column:
    """RFC 3986-flavored URL canonicalization as ONE JVM expression — the
    URL-dedup normalization every crawl frontier needs (the same logical
    page arrives spelled many ways; CCNet-style pipelines key on the
    canonical form). Rules, each pinned by a planted fixture variant in
    the catalog gate:

    * scheme and host lowercased;
    * default ports dropped (http:80, https:443), others kept;
    * fragment dropped (parse_url QUERY/PATH already exclude it);
    * duplicate slashes in the path collapsed, trailing slash stripped
      (except the root), empty path -> '/';
    * tracking params dropped (utm_*, fbclid, gclid, msclkid, mc_eid),
      remaining query params SORTED; empty query -> no '?'.

    Built entirely from parse_url/regexp/array builtins (codegen,
    NULL-safe: a malformed URL yields NULL canonical via parse_url)."""
    u = F.col(url_col) if isinstance(url_col, str) else url_col
    scheme = F.lower(F.try_parse_url(u, F.lit("PROTOCOL")))
    host = F.lower(F.try_parse_url(u, F.lit("HOST")))
    port = F.regexp_extract(F.try_parse_url(u, F.lit("AUTHORITY")), r":(\d+)$", 1)
    keep_port = (port != "") & ~(
        ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443"))
    )
    raw_path = F.try_parse_url(u, F.lit("PATH"))
    path = F.regexp_replace(raw_path, "/{2,}", "/")
    path = F.regexp_replace(path, "(?<=.)/$", "")  # root '/' survives
    path = F.when(path == "", F.lit("/")).otherwise(path)
    q = F.coalesce(F.try_parse_url(u, F.lit("QUERY")), F.lit(""))
    params = F.filter(
        F.split(q, "&"),
        lambda x: (x != "")
        & ~x.startswith("utm_")
        & ~F.split(x, "=")[0].isin(*_TRACKING_PARAMS),
    )
    qn = F.array_join(F.array_sort(params), "&")
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        path,
        F.when(qn != "", F.concat(F.lit("?"), qn)).otherwise(F.lit("")),
    )


def wet_export(df: DataFrame, gzip_members: bool = False) -> DataFrame:
    """Serialize extracted page text as WET-style WARC files — the
    EXPORT side of the crawl pipeline (Common Crawl's WET derivative is
    exactly this: one ``conversion`` record per page, text/plain
    payload). One WET blob per ``shard`` group, records in
    (uri, text) order so the bytes are deterministic under any
    partitioning; ``gzip_members=True`` emits the standard .warc.gz
    form. Output: (shard, wet binary, n_records, wet_len).

    Scale shape: groupBy(shard).applyInPandas — shards are the caller's
    bounded write granularity (a shard must fit an executor, exactly
    like any file-sink partition); records concatenate per ISO 28500, so
    shard files concatenate into larger WETs without re-parsing."""
    from pyspark.sql.types import (
        BinaryType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from ..functions.warc import build_warc

    out_schema = StructType(
        [
            StructField("shard", LongType()),
            StructField("wet", BinaryType()),
            StructField("n_records", IntegerType()),
            StructField("wet_len", LongType()),
        ]
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["uri", "text"], kind="mergesort")
        recs = [
            (
                {
                    "WARC-Type": "conversion",
                    "WARC-Target-URI": str(uri),
                    "Content-Type": "text/plain",
                },
                str(txt).encode("utf-8"),
            )
            for uri, txt in zip(pdf["uri"], pdf["text"])
        ]
        blob = build_warc(recs, gzip_members=gzip_members)
        shard = pdf["shard"].iloc[0]
        return pd.DataFrame(
            {
                "shard": [shard],
                "wet": [blob],
                "n_records": [len(recs)],
                "wet_len": [len(blob)],
            }
        )

    return df.groupBy("shard").applyInPandas(build, out_schema)


def _url_resolve_udf():
    """Arrow-vectorized (base, ref) -> absolute URL resolver — RFC 3986
    reference resolution via stdlib ``urllib.parse.urljoin`` (relative
    paths, root-relative, protocol-relative ``//host/...`` and absolute
    refs all normalize). The SLOW leg of :func:`resolved_url_col` —
    rows the JVM fast path handles arrive here as NULLs (the gate
    nulls both inputs), so per-row Python cost is paid only for the
    genuinely relative/dot-segment tail. Built lazily: a module-level
    pandas_udf with a DDL string would need a session at import
    time."""
    from pyspark.sql.types import StringType

    @F.pandas_udf(StringType())
    def resolve(
        base: pd.Series, ref: pd.Series, fast: pd.Series
    ) -> pd.Series:
        from urllib.parse import urljoin

        out = []
        for b, h, f in zip(base, ref, fast):
            if f is not None:
                out.append(f)  # JVM fast path already resolved it
                continue
            if b is None or h is None:
                out.append(None)
                continue
            try:
                out.append(urljoin(str(b), str(h)))
            except Exception:
                out.append(None)
        return pd.Series(out)

    return resolve


# Fast-path guards, each chosen so the JVM result is BYTE-IDENTICAL to
# urllib.parse.urljoin on every string it accepts (pinned against
# stdlib behavior by tests/test_crawl.py's exhaustive case matrix):
# tab/CR/LF anywhere (urlsplit strips them), an empty query or fragment
# delimiter ('?#', trailing '?' or '#' — urlunparse DROPS the empty
# part), and a path-part ';' (trailing empty params drop too) all fall
# back to Python rather than risk a one-byte divergence.
_CTL_RX = "[\\t\\n\\r]"
_EMPTY_TAIL_RX = "\\?#|[?#]$"
_PATH_SEMI_RX = "^[^?#]*;"
_DOT_SEG_RX = "/\\.{1,2}([/?#]|$)"


def resolve_url_fast_expr(base, ref):
    """JVM fast path for RFC 3986 reference resolution: NULL unless the
    (base, ref) pair falls in a class whose resolution is expressible as
    a pure column function AND provably byte-identical to stdlib
    ``urljoin`` — absolute http(s) refs (returned verbatim),
    protocol-relative ``//host/...`` (base scheme prepended),
    root-relative dot-segment-free paths (base authority prepended),
    fragment-only refs (appended to a fragment-less base) and empty
    refs (the base). Everything else — relative paths, dot segments,
    exotic schemes, URLs with characters urlsplit normalizes — returns
    NULL and is resolved by the pandas-UDF slow leg. On a real crawl
    the fast classes are the overwhelming href mass, so the per-link
    Python CPU named in SCALE.md applies only to the relative tail."""
    clean = lambda c: ~c.rlike(_CTL_RX) & ~c.rlike(_EMPTY_TAIL_RX)  # noqa: E731
    base_http = base.rlike("^https?://[^/?#]") & ~base.rlike(_CTL_RX)
    return (
        F.when(ref == "", base)
        .when(
            ref.rlike("^https?://[^/?#]")
            & clean(ref)
            & ~ref.rlike(_PATH_SEMI_RX),
            ref,
        )
        .when(
            ref.rlike("^//[^/?#]")
            & clean(ref)
            & ~ref.rlike(_PATH_SEMI_RX)
            & base.rlike("^https?://"),
            F.concat(F.regexp_extract(base, "^(https?)", 1), F.lit(":"), ref),
        )
        .when(
            ref.rlike("^/($|[^/])")
            & clean(ref)
            & ~ref.rlike(_DOT_SEG_RX)
            & ~ref.rlike(_PATH_SEMI_RX)
            & base_http,
            F.concat(
                F.regexp_extract(base, "^(https?://[^/?#]*)", 1), ref
            ),
        )
        .when(
            ref.rlike("^#.")
            & ~ref.rlike(_CTL_RX)
            & base_http
            & ~base.contains("#")
            & ~base.rlike("\\?$")
            & ~base.rlike(_PATH_SEMI_RX),
            F.concat(base, ref),
        )
    )


def resolved_url_col(base, ref):
    """(base, ref) -> absolute URL column: the JVM fast path for the
    common reference classes, the Arrow-batched ``urljoin`` UDF for the
    rest. The fast value is computed ONCE and passed INTO the UDF as a
    third input, so the output is a single materialized
    ArrowEvalPython attribute — downstream consumers (canonicalize,
    host parse, filters) reference the attribute instead of inlining
    the regex guard chain into every use (Catalyst re-evaluates plain
    expressions per consumer: the first cut of this function measured
    51 copies of the guard regexes in crawl_link_pagerank's executed
    plan). Python cost per row on fast rows is one None-check; the
    per-row ``urljoin`` (SCALE.md's named per-link CPU) runs only for
    the relative/dot-segment tail. NULL base or ref resolves to NULL
    (dead-letter, never 'None' coercion). Shared by :func:`page_links`
    (hrefs) and :func:`resolve_redirects` (Location headers)."""
    resolver = _url_resolve_udf()
    return resolver(base, ref, resolve_url_fast_expr(base, ref))


MAX_REDIRECT_HOPS = 16  # longest chain resolve_redirects follows


def resolve_redirects(df: DataFrame) -> DataFrame:
    """Resolve HTTP redirect chains to their terminal URLs — the frontier
    step between capture and canonical page identity (a crawl that stores
    ``/old -> 301 -> /new`` must credit content, links and dedup to the
    TERMINAL url; Common Crawl's WAT metadata carries exactly these
    Location hops). Additive vs the reference, which has no crawl route.

    Input: one row per capture with the url, HTTP status and Location
    header (``sources.warc_records`` columns; Location may be RELATIVE —
    resolved against the capture url via RFC 3986 ``urljoin``, the
    :func:`page_links` discipline). Output: one row per DISTINCT captured
    url with ``final_url`` / ``hops`` / ``resolved``:

    * a non-redirect capture is its own terminal: (url, url, 0, true);
    * a redirect chain of length L <= ``MAX_REDIRECT_HOPS`` ending at a
      non-redirecting url resolves with hops = remaining chain length;
    * cycles (self-loops included) and longer chains are
      ``resolved = false`` with NULL final_url/hops — countable
      dead-letter, never a wrong terminal. A url captured BOTH as a
      redirect and a 200 (recrawl flip) counts as a redirect; duplicate
      redirect captures keep the lexicographically least absolute target
      (deterministic under any partitioning).

    Scale shape: pointer doubling — ceil(log2(MAX_REDIRECT_HOPS)) self-joins of
    the redirect-EDGE table (edges only: the overwhelmingly non-redirect
    capture mass never enters the iteration), each a content-key
    equi-join AQE can split; never a window, never a driver loop. The
    composed map doubles reach per round, so 16-hop chains cost 4 joins.

    Edges and terminals come out of ONE aggregation over the capture
    stream (min(v) over per-url captures is non-NULL iff SOME capture
    redirected — the old two-pass formulation aggregated the redirects
    and anti-joined the distinct urls, scanning the upstream parse
    twice), and that per-url table is lazily localCheckpointed: the
    doubling self-joins reference it 2^rounds times and broadcast-join
    duplicates defeat exchange reuse (r16 profile: the WARC parse chain
    physically evaluated in THREE 32-task stages, 38 MapInPandas nodes
    in the plan, ~200 s of task time for a 4 s query). The robots_filter
    checkpoint precedent: consumers differ, so the cut pays for itself.
    """
    import math

    url_col = "target_uri"
    u = F.col(url_col)
    is_redirect = (
        F.col("http_status").between(300, 399) & F.col("http_location").isNotNull()
    )
    # NULL Location on non-redirect rows -> resolver returns NULL -> the
    # min(v) aggregate ignores it: one pass decides redirect-vs-terminal
    # per url with semantics identical to the old filter+anti-join pair
    loc = F.when(is_redirect, F.col("http_location"))
    per_url = (
        df.filter(u.isNotNull())
        .select(u.alias("u"), resolved_url_col(u, loc).alias("v"))
        .groupBy("u")
        .agg(F.min("v").alias("v"))
    )
    per_url = per_url.localCheckpoint(eager=False)
    edges = per_url.filter(F.col("v").isNotNull())

    ptr = edges.select("u", "v", F.lit(1).cast("long").alias("h"))
    for _ in range(math.ceil(math.log2(MAX_REDIRECT_HOPS))):
        nxt = ptr.select(
            F.col("u").alias("nu"), F.col("v").alias("nv"),
            F.col("h").alias("nh"),
        )
        ptr = ptr.join(nxt, ptr.v == nxt.nu, "left").select(
            "u",
            F.coalesce("nv", "v").alias("v"),
            (F.col("h") + F.coalesce("nh", F.lit(0))).alias("h"),
        )

    # terminal test: the landing url must not itself redirect. Cycles
    # always land on a redirecting url; over-long chains exceed the cap.
    out_src = edges.select(F.col("u").alias("tu"))
    ok = F.col("tu").isNull() & (F.col("h") <= F.lit(MAX_REDIRECT_HOPS))
    redirected = ptr.join(out_src, ptr.v == F.col("tu"), "left").select(
        F.col("u").alias("url"),
        F.when(ok, F.col("v")).alias("final_url"),
        F.when(ok, F.col("h")).alias("hops"),
        ok.alias("resolved"),
    )
    terminals = per_url.filter(F.col("v").isNull()).select(
        F.col("u").alias("url"),
        F.col("u").alias("final_url"),
        F.lit(0).cast("long").alias("hops"),
        F.lit(True).alias("resolved"),
    )
    return redirected.unionByName(terminals)


def pair_requests(df: DataFrame) -> DataFrame:
    """Join request-record metadata onto response records via
    ``WARC-Concurrent-To`` (ISO 28500 §5.7: a crawl that stores both
    sides writes the request as its own record naming the response's
    WARC-Record-ID) — the last ISO 28500 join surface, what lets
    user-agent / referer analytics run against response content.

    Output: every RESPONSE row of the input plus ``req_user_agent``,
    ``req_referer`` and ``paired`` (false = a response captured without
    its request — common in metadata-stripped archives, countable,
    never dropped). Requests that name a MISSING response id are
    orphans: countable via :func:`orphan_requests` (they are not
    response rows, so they don't belong in this operator's output).
    When several request records name the same response (duplicate
    captures), the lexicographically least (archive, rec_idx) request
    wins — deterministic under any partitioning (min-struct, the
    resolve_redirects duplicate discipline).

    Scale shape: requests pre-aggregate per concurrent-to id (map-side
    combinable min-struct), then ONE equi-join on the record-id content
    key — AQE-splittable, no window over a content key, no broadcast of
    an SF-scaled side."""
    is_resp = F.col("warc_type") == "response"
    req = (
        df.filter(
            (F.col("warc_type") == "request")
            & F.col("concurrent_to").isNotNull()
        )
        .groupBy(F.col("concurrent_to").alias("_pair_id"))
        .agg(
            F.min(
                F.struct(
                    F.col("archive_id"),
                    F.col("rec_idx"),
                    F.col("http_user_agent"),
                    F.col("http_referer"),
                )
            ).alias("_req")
        )
        .select(
            "_pair_id",
            F.col("_req.http_user_agent").alias("req_user_agent"),
            F.col("_req.http_referer").alias("req_referer"),
        )
    )
    return (
        df.filter(is_resp)
        .join(req, F.col("record_id") == F.col("_pair_id"), "left")
        .withColumn("paired", F.col("_pair_id").isNotNull())
        .drop("_pair_id")
    )


def orphan_requests(df: DataFrame) -> DataFrame:
    """Request records whose ``WARC-Concurrent-To`` names no response
    record in the corpus — the other half of the pairing census
    (truncated archives, mixed dumps). LEFT ANTI on the response-id
    set; same equi-join scale shape as :func:`pair_requests`."""
    resp_ids = (
        df.filter(
            (F.col("warc_type") == "response") & F.col("record_id").isNotNull()
        )
        .select(F.col("record_id").alias("_resp_id"))
        .distinct()
    )
    return df.filter(
        (F.col("warc_type") == "request") & F.col("concurrent_to").isNotNull()
    ).join(resp_ids, F.col("concurrent_to") == F.col("_resp_id"), "left_anti")


def reassemble_segments(df: DataFrame) -> DataFrame:
    """Reassemble ISO 28500 §5.18-5.20 SEGMENTED records — the wire
    form of a record too large for one WARC file: segment 1 is a
    normal record with ``WARC-Segment-Number: 1``; the rest are
    'continuation' records naming it in ``WARC-Segment-Origin-ID``,
    the LAST carrying ``WARC-Segment-Total-Length``. Input: the
    ``sources.warc_records(include_payload=True)`` shape. Output: one
    row per LOGICAL record — every non-continuation input row plus
    ``full_payload`` / ``n_segments`` / ``segment_status``:

    * ``unsegmented`` — no segment headers; full_payload = payload;
    * ``reassembled`` — head + contiguous continuations 2..k whose
      concatenated length EQUALS the declared total;
    * ``incomplete`` — a gap in the segment numbers, a missing declared
      total (the last segment was never captured — absence is the
      truncation signal, ISO 28500 puts the total only there), or a
      length mismatch: full_payload NULL, countable dead-letter.

    Orphan continuations (origin id matching no head) are NOT logical
    records; census them with a LEFT ANTI on the head-id set (the
    orphan_requests pattern). Duplicate segment numbers keep the
    lexicographically least payload (min-struct, deterministic).

    Scale shape: continuations pre-aggregate per origin id (map-side
    combinable collect_list of (number, payload) structs — bounded by
    the segment count of ONE record, a handful by construction since
    segmentation exists to cap file sizes), then ONE AQE-splittable
    equi-join onto the heads; in-row sort + binary fold concatenation,
    no content-key window, no corpus broadcast. Memory per row is the
    logical record's own size — the same bound any consumer of the
    record pays."""
    seg_n = F.col("segment_number")
    heads = df.filter(
        (F.col("warc_type") != "continuation") | F.col("warc_type").isNull()
    )
    conts = df.filter(
        (F.col("warc_type") == "continuation")
        & F.col("segment_origin_id").isNotNull()
        & seg_n.isNotNull()
    )
    per_seg = conts.groupBy(
        F.col("segment_origin_id").alias("_oid"),
        seg_n.alias("_sn"),
    ).agg(
        F.min(F.struct(F.col("payload").alias("p"))).alias("_dup"),
        F.max("segment_total_length").alias("_tot"),
    )
    segs = F.sort_array(
        F.collect_list(F.struct(F.col("_sn"), F.col("_dup.p").alias("p")))
    )
    # distinct sorted integers with min 2 and max size+1 ARE exactly
    # {2..k}: per-number dedup upstream makes the endpoint test a full
    # contiguity proof. Everything derived from the collected array —
    # the byte FOLD above all — is computed ONCE here, pre-shuffle, and
    # crosses the join as plain attributes (a downstream expression
    # would be inlined into every consumer and re-fold the record's
    # bytes per reference — the CLAUDE.md duplicated-expression trap).
    agg = per_seg.groupBy("_oid").agg(
        F.aggregate(
            F.transform(segs, lambda s: s["p"]),
            F.lit(b""),
            lambda acc, p: F.concat(acc, p),
        ).alias("_tail"),
        (
            (F.element_at(segs, 1)["_sn"] == 2)
            & (F.element_at(segs, -1)["_sn"] == F.size(segs) + 1)
        ).alias("_contiguous"),
        F.size(segs).alias("_n_conts"),
        F.max("_tot").alias("_declared_total"),
    )
    joined = heads.join(
        agg, F.col("record_id") == F.col("_oid"), "left"
    )
    is_seg_head = F.col("segment_number") == 1
    # ok avoids touching the bytes at all: length is additive
    ok = (
        F.col("_oid").isNotNull()
        & F.col("_contiguous")
        & F.col("_declared_total").isNotNull()
        & (
            F.length(F.col("payload")) + F.length(F.col("_tail"))
            == F.col("_declared_total")
        )
    )
    return joined.select(
        *df.columns,
        F.when(~is_seg_head.eqNullSafe(True), F.lit(1))
        .otherwise(F.coalesce(F.col("_n_conts"), F.lit(0)) + 1)
        .alias("n_segments"),
        F.when(~is_seg_head.eqNullSafe(True), F.lit("unsegmented"))
        .when(ok, F.lit("reassembled"))
        .otherwise(F.lit("incomplete"))
        .alias("segment_status"),
        F.when(~is_seg_head.eqNullSafe(True), F.col("payload"))
        .when(ok, F.concat(F.col("payload"), F.col("_tail")))
        .alias("full_payload"),
    )


def sitemap_entries(df: DataFrame, content_col: str = "http_body") -> DataFrame:
    """Explode fetched sitemap documents into one row per entry — the
    frontier SEED step (discovery order: robots.txt ``Sitemap:`` lines
    via :func:`functions.robots.sitemap_urls` → fetch → this operator →
    :func:`canonical_url` dedup against the capture index). Parsing is
    :func:`functions.sitemaps.parse_sitemap` (urlset AND sitemapindex,
    gzip-sniffed bytes, namespace-agnostic). Output: (sitemap_uri, kind,
    loc, lastmod, changefreq, priority, n_images, n_videos,
    video_duration_sum, parse_ok) — ``priority`` stays the verbatim
    spec STRING (callers cast; no float surface here); the media
    columns are the Google image/video extension census per entry
    (r15 — duration sum over the entry's videos with a declared
    integer duration, 0 for media-less parsed entries). A
    malformed document survives as ONE parse_ok = false row and an
    entry-less one as a (kind, NULL-loc) row — countable dead-letter /
    census rows, never dropped. One ``sources._binary_meta_source``
    pass (binary ``content_col`` only): sitemap bytes never leave the
    executor; each input row fans out independently (embarrassingly
    parallel, zero shuffle)."""
    from ..functions.sitemaps import parse_sitemap
    from ..sources import _binary_meta_source

    def rows_fn(r):
        if not r["entries"]:
            return [(r["kind"], None, None, None, None, None, None, None)]
        return [
            (
                r["kind"],
                e["loc"],
                e["lastmod"],
                e["changefreq"],
                e["priority"],
                len(e["images"]),
                len(e["videos"]),
                sum(
                    v["duration"]
                    for v in e["videos"]
                    if v["duration"] is not None
                ),
            )
            for e in r["entries"]
        ]

    return _binary_meta_source(
        df, content_col, "target_uri", parse_sitemap,
        "kind string, loc string, lastmod string, changefreq string,"
        " priority string, n_images int, n_videos int,"
        " video_duration_sum long",
        rows_fn,
    ).withColumnRenamed("target_uri", "sitemap_uri")


def feed_entries(df: DataFrame) -> DataFrame:
    """Explode fetched RSS/Atom feed documents into one row per entry —
    the frontier's OTHER seed source beside :func:`sitemap_entries`
    (recency-sensitive crawls discover new URLs from feeds between
    sitemap refreshes). Parsing is :func:`functions.feeds.parse_feed`
    (RSS 2.0 + Atom, gzip-sniffed bytes, namespace-agnostic). Output:
    (feed_uri, kind, feed_title, link, title, published, entry_id,
    parse_ok) — ``published`` stays the verbatim string. A malformed
    document survives as ONE parse_ok = false row and an entry-less
    one as a (kind, NULL-link) row — countable dead-letter / census
    rows, never dropped. One ``sources._binary_meta_source`` pass
    (binary ``http_body`` only), zero shuffle."""
    from ..functions.feeds import parse_feed
    from ..sources import _binary_meta_source

    def rows_fn(r):
        if not r["entries"]:
            return [(r["kind"], r["title"], None, None, None, None)]
        return [
            (r["kind"], r["title"], e["link"], e["title"], e["published"],
             e["id"])
            for e in r["entries"]
        ]

    return _binary_meta_source(
        df, "http_body", "target_uri", parse_feed,
        "kind string, feed_title string, link string, title string,"
        " published string, entry_id string",
        rows_fn,
    ).withColumnRenamed("target_uri", "feed_uri")


def warc_revisit_export(df: DataFrame) -> DataFrame:
    """Serialize captures as WARC with REVISIT deduplication (ISO 28500
    / WARC 1.1 §6.7.2 identical-payload-digest profile — what Heritrix
    and Common Crawl's dedup actually write: the first capture of a
    payload is stored in full, every later identical capture becomes a
    near-empty ``revisit`` record carrying WARC-Refers-To-Target-URI +
    WARC-Payload-Digest): the storage win of exact dedup WITHOUT losing
    the capture census. 'First' is the lexicographically least uri per
    digest — deterministic under any partitioning (the arg-min
    invariant), and cross-shard refers-to is legal per spec. Records
    sort by uri within each shard (byte-deterministic like wet_export);
    stored payloads are raw bytes with Content-Type
    application/octet-stream. Output: (shard, warc binary, n_records,
    n_revisits, warc_len).

    Scale shape: ONE map-side md5 + groupBy(digest).min(uri) + an
    AQE-splittable equi-join back (a hot payload is a skewed JOIN key,
    never a window), then groupBy(shard).applyInPandas serialization —
    payload bytes cross the shuffle once."""
    from pyspark.sql.types import (
        BinaryType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from ..functions.warc import build_warc

    digest = F.md5(F.col("payload"))
    rows = df.select(
        F.col("shard"),
        F.col("uri"),
        F.col("payload"),
        digest.alias("_rv_digest"),
    )
    firsts = rows.groupBy("_rv_digest").agg(
        F.min("uri").alias("_rv_first_uri")
    )
    tagged = rows.join(firsts, "_rv_digest")

    out_schema = StructType(
        [
            StructField("shard", LongType()),
            StructField("warc", BinaryType()),
            StructField("n_records", IntegerType()),
            StructField("n_revisits", IntegerType()),
            StructField("warc_len", LongType()),
        ]
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["uri"], kind="mergesort")
        recs, n_rev = [], 0
        for _, row in pdf.iterrows():
            uri, first = str(row["uri"]), str(row["_rv_first_uri"])
            dig = f"md5:{row['_rv_digest']}"
            if uri == first:
                recs.append(
                    (
                        {
                            "WARC-Type": "response",
                            "WARC-Target-URI": uri,
                            "WARC-Payload-Digest": dig,
                            "Content-Type": "application/octet-stream",
                        },
                        bytes(row["payload"]),
                    )
                )
            else:
                n_rev += 1
                recs.append(
                    (
                        {
                            "WARC-Type": "revisit",
                            "WARC-Target-URI": uri,
                            "WARC-Refers-To-Target-URI": first,
                            "WARC-Payload-Digest": dig,
                            "WARC-Profile": (
                                "http://netpreserve.org/warc/1.1/"
                                "revisit/identical-payload-digest"
                            ),
                        },
                        b"",
                    )
                )
        blob = build_warc(recs)
        return pd.DataFrame(
            {
                "shard": [pdf["shard"].iloc[0]],
                "warc": [blob],
                "n_records": [len(recs)],
                "n_revisits": [n_rev],
                "warc_len": [len(blob)],
            }
        )

    return tagged.groupBy("shard").applyInPandas(build, out_schema)


def resolve_revisits(recs: DataFrame) -> DataFrame:
    """READ-side complement of :func:`warc_revisit_export`: give every
    record of a revisit-deduplicated WARC stream its EFFECTIVE payload
    length — response records keep their own, revisit records inherit
    the stored copy's via the declared WARC-Payload-Digest (cross-
    archive references are legal per spec, so the lookup is corpus-wide,
    not per-file). Appends ``effective_len`` and ``revisit_resolved``
    (false = a dangling revisit whose stored copy is missing from the
    stream — countable dead-letter, effective_len NULL, never a
    fabricated zero). Input is :func:`sources.warc_records` output.

    Scale shape: stored lengths aggregate once per digest (map-side
    groupBy-max over responses only) and join back on the digest — a
    hot payload is a skewed JOIN key AQE can split, never a window."""
    stored = (
        recs.filter(
            (F.col("warc_type") == "response")
            & F.col("payload_digest_declared").isNotNull()
        )
        .groupBy(F.col("payload_digest_declared").alias("_rr_digest"))
        .agg(F.max("payload_len").alias("_rr_stored_len"))
    )
    joined = recs.join(
        stored,
        recs.payload_digest_declared == stored._rr_digest,
        "left",
    )
    is_rev = F.col("warc_type") == "revisit"
    return joined.select(
        recs["*"],
        F.when(is_rev, F.col("_rr_stored_len"))
        .otherwise(F.col("payload_len"))
        .alias("effective_len"),
        (~is_rev | F.col("_rr_stored_len").isNotNull()).alias(
            "revisit_resolved"
        ),
    )


def page_links(df: DataFrame) -> DataFrame:
    """Explode an :func:`html_extract` struct's links into one row per
    anchor with the href RESOLVED against the page's base URI (RFC 3986
    reference resolution via stdlib ``urllib.parse.urljoin`` — relative
    paths, root-relative, protocol-relative ``//host/...``, and absolute
    hrefs all normalize to absolute URLs): appends ``href`` (raw),
    ``anchor`` (text) and ``resolved_url``. The explode is JVM-side;
    resolution is :func:`resolved_url_col` — a JVM expression for the
    common absolute/protocol-relative/root-relative/fragment classes,
    one Arrow-vectorized pandas UDF only for the relative/dot-segment
    tail (the crawl pipeline's second bounded Python hop). Feed
    ``resolved_url`` to
    :func:`canonical_url` / :func:`with_url_parts` for frontier or
    link-graph use. Rows with NULL links explode away (a page with no
    anchors contributes no link rows — link analytics, not a page
    census)."""
    link = F.explode(F.col("page.links")).alias("_link")
    return (
        df.select("*", link)
        .select(
            "*",
            F.col("_link.href").alias("href"),
            F.col("_link.anchor").alias("anchor"),
            F.col("_link.nofollow").alias("link_nofollow"),
        )
        .drop("_link")
        .withColumn(
            "resolved_url",
            resolved_url_col(F.col("target_uri"), F.col("href")),
        )
    )


def wat_export(df: DataFrame) -> DataFrame:
    """Serialize per-page METADATA as WAT-style JSONL shards — the
    metadata derivative beside :func:`wet_export` (text) and
    :func:`cdx_index` (capture spans); Common Crawl's WAT files carry
    exactly this envelope: per page one JSON object with the URI,
    title, outgoing link hrefs and content-length class stats. One
    blob per ``shard`` group, records in uri order with sorted JSON
    keys and fixed separators, so the bytes are deterministic under any
    partitioning (the wet_export discipline). Output: (shard, wat
    binary, n_records, wat_len). Blob lines parse back with any JSON
    reader — the catalog gate re-ingests them through Spark's own
    from_json."""
    import json

    from pyspark.sql.types import (
        BinaryType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("shard", LongType()),
            StructField("wat", BinaryType()),
            StructField("n_records", IntegerType()),
            StructField("wat_len", LongType()),
        ]
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["uri"], kind="mergesort")
        lines = []
        for _, row in pdf.iterrows():
            links = row["links"]
            obj = {
                "uri": str(row["uri"]),
                "title": None if row["title"] is None else str(row["title"]),
                "links": [
                    str(lk["href"]) for lk in (links if links is not None else [])
                ],
                "text_len": int(row["text_len"]),
            }
            lines.append(
                json.dumps(obj, sort_keys=True, separators=(",", ":"))
            )
        blob = ("\n".join(lines) + "\n").encode("utf-8") if lines else b""
        return pd.DataFrame(
            {
                "shard": [pdf["shard"].iloc[0]],
                "wat": [blob],
                "n_records": [len(lines)],
                "wat_len": [len(blob)],
            }
        )

    return df.groupBy("shard").applyInPandas(build, out_schema)


def robots_rules(robots: DataFrame, agent: str) -> DataFrame:
    """Parse per-host robots.txt content into the rule table the given
    crawler ``agent`` must obey (RFC 9309 group selection applied at
    parse time): (host, allow, rule_regex, spec). ``rule_regex`` is the
    pattern pre-translated to an anchored JVM regex so matching stays a
    codegen ``rlike``; ``spec`` is the RFC's longest-match precedence
    key (``functions.robots.pattern_spec``: octet length with a trailing
    ``$`` anchor excluded). Hosts whose robots parse to no applicable
    rules emit nothing (no rules = allowed) — and so do hosts whose
    content RAISES during parsing: per-host parse health is deliberately
    NOT recoverable from this table."""
    from collections.abc import Iterator

    from ..functions.robots import (
        pattern_regex,
        pattern_spec,
        rules_for_agent,
    )

    schema = "url_host string, allow boolean, rule_regex string, spec int"

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for host, content in zip(pdf["url_host"], pdf["content"]):
                try:
                    if isinstance(content, (bytes, bytearray)):
                        content = bytes(content).decode("utf-8", "replace")
                    for allow, pattern in rules_for_agent(str(content), agent):
                        rows.append(
                            (
                                host,
                                allow,
                                pattern_regex(pattern),
                                pattern_spec(pattern),
                            )
                        )
                except Exception:
                    continue  # unreadable robots = no rules = allowed
            yield pd.DataFrame(
                rows, columns=["url_host", "allow", "rule_regex", "spec"]
            )

    return map_batches(robots, mapper, schema)


# A bounded SAMPLE of publicsuffix.org rules covering every rule KIND
# (normal, multi-label, wildcard, exception). The ALGORITHM below is the
# complete PSL decision, so the full list is a drop-in replacement here.
PSL_SAMPLE = [
    "com", "org", "net", "io", "uk", "co.uk", "org.uk", "au", "com.au",
    "jp", "co.jp", "github.io", "*.ck", "!www.ck", "de", "fr", "example",
]


def registered_domain(df: DataFrame) -> DataFrame:
    """Append the ``registered_domain`` (eTLD+1) of ``url_host`` — the
    unit crawl analytics actually groups by (Common Crawl's domain
    ranks, per-site politeness, per-domain contribution caps): the
    public-suffix-list algorithm in full — the prevailing rule is the
    exception rule if any matches, else the longest matching rule
    (wildcard ``*.ck`` counts its ``*`` label; exceptions strip their
    first label; no match falls back to the implicit ``*`` rule), and
    the registered domain is the public suffix plus one label. A host
    that IS a public suffix (or NULL) gets a NULL registered domain —
    countable, never a fabricated domain.

    Scale shape: per DISTINCT host, candidate suffixes (the last 1..max
    rule labels) explode in-row (<= a handful per host), equi-join the
    BOUNDED rule table (broadcast hint — the PSL is ~10k rows), argmax
    by one map-side ``max(struct(is_exception, rule_labels))``, then one
    join back to the row stream (the robots_filter decision-table
    shape). Zero Python anywhere."""
    spark = df.sparkSession
    parsed = []
    for r in PSL_SAMPLE:
        exc, wc = r.startswith("!"), r.startswith("*.")
        key = r[1:] if exc else r[2:] if wc else r
        j = len(key.split("."))
        rule_labels = j + (1 if wc else 0)
        psl_len = rule_labels - 1 if exc else rule_labels
        parsed.append((key, j, rule_labels, int(exc), psl_len))
    rules_df = spark.createDataFrame(
        parsed,
        "key string, key_labels int, rule_labels int, is_exc int,"
        " psl_len int",
    )
    maxj = max(p[1] for p in parsed)

    hosts = (
        df.select(F.col("url_host").alias("_rd_host"))
        .filter(F.col("_rd_host").isNotNull())
        .distinct()
    )
    labels = F.split(F.col("_rd_host"), r"\.")
    nlab = F.size(labels)
    cand = hosts.select(
        "_rd_host",
        nlab.alias("_rd_nlab"),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.least(nlab, F.lit(maxj))),
                lambda j: F.array_join(
                    F.slice(labels, F.size(labels) - j + 1, j), "."
                ),
            )
        ).alias("_rd_suffix"),
    )
    matched = cand.join(
        F.broadcast(rules_df), cand._rd_suffix == rules_df.key
    ).filter(
        # a wildcard rule needs the extra label it matches to exist
        (F.col("rule_labels") == F.col("key_labels"))
        | (F.col("_rd_nlab") >= F.col("rule_labels"))
    )
    best = matched.groupBy("_rd_host").agg(
        F.max(
            F.struct(
                F.col("is_exc"), F.col("rule_labels"), F.col("psl_len")
            )
        ).alias("_rd_best")
    )
    dec = (
        hosts.join(best, "_rd_host", "left")
        .select(
            "_rd_host",
            F.coalesce(F.col("_rd_best.psl_len"), F.lit(1)).alias("_rd_psl"),
        )
        .select(
            "_rd_host",
            F.when(
                F.size(F.split(F.col("_rd_host"), r"\.")) > F.col("_rd_psl"),
                F.array_join(
                    F.slice(
                        F.split(F.col("_rd_host"), r"\."),
                        F.size(F.split(F.col("_rd_host"), r"\."))
                        - F.col("_rd_psl"),
                        F.col("_rd_psl") + 1,
                    ),
                    ".",
                ),
            ).alias("registered_domain"),
        )
    )
    return df.join(
        dec, df["url_host"] == dec._rd_host, "left"
    ).drop("_rd_host")


def recrawl_schedule(diff: DataFrame) -> DataFrame:
    """Adaptive revisit intervals from a :func:`cdx_snapshot_diff`
    result — the classic multiplicative refresh policy (Cho &
    Garcia-Molina 2003 incremental-crawler shape): pages that CHANGED
    since the last visit halve their interval (floor 3600 s), pages
    that did NOT double it (ceiling ``max_interval_s``), newly-discovered
    pages start at one day (86400 s), and GONE pages leave the schedule
    (``next_interval_s`` NULL — a countable retirement, never a dropped
    row). A NULL ``prior_interval_s`` (first time through the scheduler)
    behaves as one day. Appends ``next_interval_s``; all long floor division —
    SQL-replayable, zero float surface, one stateless column map (the
    scale cost is wherever the diff came from)."""
    max_interval_s = 172800
    prior = F.coalesce(F.col("prior_interval_s"), F.lit(86400)).cast("long")
    nxt = (
        F.when(
            F.col("change") == "changed",
            F.greatest(F.lit(3600).cast("long"), F.expr(
                "CAST(coalesce(prior_interval_s, 86400) AS BIGINT) div 2"
            )),
        )
        .when(
            F.col("change") == "unchanged",
            F.least(F.lit(max_interval_s).cast("long"), prior * 2),
        )
        .when(
            F.col("change") == "added",
            F.lit(86400).cast("long"),
        )
    )
    return diff.withColumn("next_interval_s", nxt)


def robots_sitemaps(robots: DataFrame) -> DataFrame:
    """Explode each host's robots.txt into its ``Sitemap:`` discovery
    lines — one row per (host, sitemap_url), nothing for hosts that
    declare none (:func:`functions.robots.sitemap_urls`: first
    occurrence wins, duplicates dropped). The discovery half of the
    seed loop: feed the urls to the fetcher, then the captures to
    :func:`sitemap_entries`. Undecodable robots bodies contribute no
    rows here."""
    from collections.abc import Iterator

    from ..functions.robots import sitemap_urls

    schema = "url_host string, sitemap_url string"

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for host, content in zip(pdf["url_host"], pdf["content"]):
                try:
                    if isinstance(content, (bytes, bytearray)):
                        content = bytes(content).decode("utf-8", "replace")
                    for u in sitemap_urls(str(content)):
                        rows.append((host, u))
                except Exception:
                    continue
            yield pd.DataFrame(rows, columns=["url_host", "sitemap_url"])

    return map_batches(robots, mapper, schema)


def robots_delays(robots: DataFrame) -> DataFrame:
    """Per-host ``Crawl-delay`` seconds for ``agent`` — one row per
    input host, ``crawl_delay_s`` NULL when the host declares none (or
    its robots.txt fails to parse): the politeness interval table a
    fetch scheduler joins onto its frontier by host.
    Semantics are :func:`functions.robots.crawl_delay` (group-scoped,
    exact-token beats '*', max across selected groups, ceil)."""
    from collections.abc import Iterator

    from ..functions.robots import crawl_delay

    agent = "graft"
    schema = "url_host string, crawl_delay_s int"

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for host, content in zip(pdf["url_host"], pdf["content"]):
                try:
                    if isinstance(content, (bytes, bytearray)):
                        content = bytes(content).decode("utf-8", "replace")
                    rows.append((host, crawl_delay(str(content), agent)))
                except Exception:
                    rows.append((host, None))
            yield pd.DataFrame(rows, columns=["url_host", "crawl_delay_s"])

    return map_batches(robots, mapper, schema)


def robots_filter(urls: DataFrame, robots: DataFrame, agent: str) -> DataFrame:
    """Append ``allowed`` (RFC 9309 decision for ``agent``) to a URL
    table: longest matching pattern wins, Allow wins ties, no matching
    rule or no robots.txt for the host -> allowed.

    NULL host/path rows (malformed URLs that never went through
    ``canonical_url``/``with_url_parts``, or whose parse NULLed) take
    the same no-matching-rule default: ``allowed = true``. That is
    deliberate — robots filtering is an etiquette gate, not a validity
    gate; compose a NULL-canonical dead-letter split BEFORE this
    operator if malformed URLs must not reach the fetcher.

    Scale shape: decisions are computed once per DISTINCT (host, path)
    against the host's rule table (an equi-join on host — a hot host is
    a skewed JOIN, which AQE can split, never a window), the argmax over
    matching rules is one map-side-combinable ``max(struct(spec,
    allow))`` (lexicographic: precedence then the Allow tie-win), and
    the bounded decision table joins back to the URL stream."""
    rules = robots_rules(robots, agent)
    cand = urls.select("url_host", "url_path").distinct()
    matched = cand.join(rules, "url_host").filter(
        F.expr("url_path rlike rule_regex")
    )
    dec = (
        matched.groupBy("url_host", "url_path")
        .agg(
            F.max(
                F.struct(
                    F.col("spec"), F.col("allow").cast("int").alias("a")
                )
            ).alias("best")
        )
        .select("url_host", "url_path", (F.col("best.a") == 1).alias("allowed"))
    )
    return urls.join(dec, ["url_host", "url_path"], "left").withColumn(
        "allowed", F.coalesce("allowed", F.lit(True))
    )


def surt_key(url_col) -> Column:
    """SURT-style canonical URL key (the CDX sort key Common Crawl
    tooling uses): host lowercased and dot-reversed with commas, then
    ``)`` + path + ``?query`` — ``http://www.Example.com/p?a=1`` ->
    ``com,example,www)/p?a=1``. One JVM expression (parse_url + split +
    reverse + concat, codegen); compose AFTER :func:`canonical_url` so
    default ports, fragments, tracking params and query order are
    already normalized. NULL on malformed URLs (try_parse_url)."""
    u = F.col(url_col) if isinstance(url_col, str) else url_col
    host = F.lower(F.try_parse_url(u, F.lit("HOST")))
    rev = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    path = F.coalesce(F.try_parse_url(u, F.lit("PATH")), F.lit(""))
    q = F.try_parse_url(u, F.lit("QUERY"))
    return F.concat(
        rev,
        F.lit(")"),
        path,
        F.when(q.isNotNull() & (q != ""), F.concat(F.lit("?"), q)).otherwise(
            F.lit("")
        ),
    )


def cdx_index(archives: DataFrame) -> DataFrame:
    """CDX-style capture index over WARC archives — the third Common
    Crawl derivative beside WET (:func:`wet_export`) and the metadata
    columns WAT carries: one row per HTTP response capture with
    (urlkey, target_uri, mime, status, rec_offset, rec_length,
    archive_id). ``rec_offset``/``rec_length`` are the range-request
    span of the record (plain WARC: the record's own bytes; .warc.gz:
    the compressed member — the slice gunzips and re-parses to exactly
    this record, unit-tested), ``urlkey`` is the SURT sort key over the
    canonicalized URI. Index rows are a pure projection of
    ``sources.warc_records`` metadata — page bytes never enter the
    plan (include_body stays off)."""
    from ..sources import warc_records

    recs = warc_records(archives)
    resp = recs.filter("parse_ok AND warc_type = 'response'")
    return resp.select(
        surt_key(canonical_url("target_uri")).alias("urlkey"),
        "target_uri",
        F.col("http_content_type").alias("mime"),
        F.col("http_status").alias("status"),
        F.col("payload_digest").alias("digest"),
        "rec_offset",
        "rec_length",
        "archive_id",
    )


def cdx_snapshot_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Recrawl delta between two CDX snapshots — the incremental-crawl
    planning step (what must be refetched, what appeared, what vanished):
    one FULL OUTER equi-join on the SURT urlkey classifies every capture

    * ``added``     — in the new snapshot only;
    * ``gone``      — in the old snapshot only;
    * ``changed``   — in both, payload digest differs;
    * ``unchanged`` — in both, payload digest identical (a refetch the
      next crawl can skip — the politeness/budget win).

    Duplicate captures of a urlkey within one snapshot keep the
    lexicographically greatest (digest) per key (deterministic; real CDX
    readers take the latest capture — callers with timestamps should
    pre-pick theirs). Output: (urlkey, old_digest, new_digest, change).

    Scale shape: per-snapshot groupBy + one content-key equi-join, both
    AQE-splittable; no window, no broadcast of either snapshot (at 100 TB
    both sides are corpus-sized)."""
    o = old.groupBy("urlkey").agg(
        F.max("digest").alias("old_digest")
    )
    n = new.groupBy("urlkey").agg(
        F.max("digest").alias("new_digest")
    )
    j = o.join(n, "urlkey", "full_outer")
    change = (
        F.when(F.col("old_digest").isNull(), F.lit("added"))
        .when(F.col("new_digest").isNull(), F.lit("gone"))
        .when(F.col("old_digest") == F.col("new_digest"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select("urlkey", "old_digest", "new_digest", change.alias("change"))


def filter_blocked_hosts(df: DataFrame) -> DataFrame:
    """Drop rows whose host is on the blocklist (``s0.example``) —
    broadcast LEFT ANTI on the (small, bounded) blocked set; the page
    corpus is never shuffled or broadcast."""
    blocked = df.sparkSession.createDataFrame([("s0.example",)], "url_host string")
    return df.join(F.broadcast(blocked), "url_host", "left_anti")
