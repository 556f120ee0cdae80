"""Crawl-pipeline tests: the HTML extraction contract (functions/html.py),
the html_extract operator's dead-letter row, URL parts + blocklist plan
shape, warc_records include_body, and the closed-form fixture formulas
the crawl oracles rely on."""

import pytest

from data_engineering_assignment_spark.functions.html import parse_html


def test_extract_text_contract():
    h = (
        "<html><head><title> My\n Title </title>"
        "<style>p{x:1}</style>"
        '<script>if (a < b) s = "</fake>ish";</script></head>'
        "<body><h1>Head &amp; Tail</h1>"
        "<p>one <b>two</b>\n three</p><p>four</p>"
        "<div>five<br>six</div>"
        '<noscript><img src="x"></noscript>'
        "<!-- seven <p>eight</p> -->"
        "</body></html>"
    )
    r = parse_html(h)
    assert r["text"] == "Head & Tail\none two three\nfour\nfive\nsix"
    assert r["title"] == "My Title"
    # entities in data decode; inline tags glue; &nbsp; is Unicode
    # whitespace so str.split() folds it into the single-space collapse
    assert parse_html("<p>a&lt;b&gt;c&nbsp;&#65;</p>")["text"] == "a<b>c A"


def test_extract_text_malformed_soup_never_raises():
    for junk in (
        "",
        "plain text, no tags",
        "<p>unclosed",
        "</b>stray close<b>",
        "<script>never closed",
        "<a href=>empty</a>",
        "<<<>>>",
        "\x00<p>nul</p>",
    ):
        parse_html(junk)["text"]  # must not raise


def test_parse_html_links_and_first_title_wins():
    h = (
        "<html><head><title>First</title></head><body>"
        '<a href="/x">X <b>ray</b></a>'
        '<script><a href="/no">no</a></script>'
        '<svg><title>svg label</title></svg>'
        '<a name="anchor-no-href">skip</a>'
        '<a href="/y">Y</a></body></html>'
    )
    r = parse_html(h)
    assert r["title"] == "First"
    assert r["links"] == [("/x", "X ray", False), ("/y", "Y", False)]


def test_fixture_html_closed_form_formulas():
    """The crawl oracles are arithmetic in doc_id ONLY because these
    formulas hold for every fixture page — pin them across the id range
    (1..3 digit ids, all P branches)."""
    from data_engineering_assignment_spark.queries.catalog_sources import (
        _fixture_html,
    )

    for cid in list(range(13)) + [99, 100, 101, 641, 6400]:
        r = parse_html(_fixture_html(cid, cid * 7 + 1))
        d = len(str(cid))
        p = 1 + cid % 3
        lines = r["text"].split("\n")
        assert len(lines) == 3 + p
        assert sum(len(ln.split(" ")) for ln in lines) == 9 + 5 * p
        assert len(r["text"]) == 38 + 2 * d + p * (14 + d)
        assert len(r["links"]) == 3
        assert len(r["title"]) == 4 + d
        # extractable content is cid-keyed: junk id must not leak
        assert r["text"] == parse_html(_fixture_html(cid, 12345))["text"]


def test_html_extract_dead_letter_and_struct(spark):
    from data_engineering_assignment_spark.operators.crawl import html_extract

    df = spark.createDataFrame(
        [
            (1, b"<html><body><p>ok &amp; fine</p></body></html>"),
            (2, None),
        ],
        "doc_id long, http_body binary",
    )
    rows = {r.doc_id: r for r in html_extract(df).select("doc_id", "page.*").collect()}
    assert rows[1].text == "ok & fine" and rows[1].html_ok
    assert not rows[2].html_ok and rows[2].text is None
    assert len(rows) == 2  # dead-letter: never a dropped row


def test_filter_blocked_hosts_broadcasts_blocked_side(spark):
    """The blocklist is the bounded side; the page corpus must never be
    broadcast — assert BroadcastHashJoin LeftAnti with the one-row
    blocklist as the build side."""
    from data_engineering_assignment_spark.operators.crawl import (
        filter_blocked_hosts,
        with_url_parts,
    )

    pages = with_url_parts(
        spark.range(1000).select(
            F_concat_uri("id").alias("target_uri")
        )
    )
    out = filter_blocked_hosts(pages)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert out.count() > 0


def F_concat_uri(col):
    from pyspark.sql import functions as F

    return F.concat(
        F.lit("http://s"), (F.col(col) % 7).cast("string"), F.lit(".example/p")
    )


def test_warc_records_include_body(spark):
    from data_engineering_assignment_spark.functions.warc import build_warc
    from data_engineering_assignment_spark.sources import warc_records

    recs = [
        (
            {
                "WARC-Type": "response",
                "Content-Type": "application/http;msgtype=response",
            },
            b"HTTP/1.1 200 OK\r\n\r\n<p>hi</p>",
        ),
        ({"WARC-Type": "warcinfo"}, b"software: x\r\n"),
    ]
    df = spark.createDataFrame(
        [(1, bytearray(build_warc(recs)))], "archive_id long, content binary"
    )
    rows = {r.warc_type: r for r in warc_records(df, include_body=True).collect()}
    assert bytes(rows["response"].http_body) == b"<p>hi</p>"
    assert rows["warcinfo"].http_body is None
    assert "http_body" not in warc_records(df).columns  # opt-in only


def test_canonical_url_rules(spark):
    """Each canonicalization rule pinned: case, default vs real port,
    dup-slash collapse, trailing slash, fragment, tracking params, query
    sort, empty-path root, malformed -> NULL."""
    from data_engineering_assignment_spark.operators.crawl import canonical_url

    cases = [
        ("http://s3.example/p/42?b=2&a=1", "http://s3.example/p/42?a=1&b=2"),
        ("HTTP://S3.EXAMPLE:80/p/42?a=1&b=2", "http://s3.example/p/42?a=1&b=2"),
        (
            "http://s3.example//p//42?a=1&b=2&utm_source=x#frag",
            "http://s3.example/p/42?a=1&b=2",
        ),
        ("http://s3.example/p/42/?a=1&b=2", "http://s3.example/p/42?a=1&b=2"),
        ("https://h.example:8443/x?fbclid=abc", "https://h.example:8443/x"),
        ("https://h.example:443/x", "https://h.example/x"),
        ("http://h.example/?#f", "http://h.example/"),
        ("http://h.example", "http://h.example/"),
        ("not a url", None),
        (None, None),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "u string")
    got = [r.c for r in df.select(canonical_url("u").alias("c")).collect()]
    assert got == [want for _, want in cases]


def test_wet_export_deterministic_and_parseable(spark):
    """wet_export produces byte-deterministic shard files whose records
    parse back with parse_warc regardless of input partitioning."""
    from data_engineering_assignment_spark.functions.warc import parse_warc
    from data_engineering_assignment_spark.operators.crawl import wet_export

    rows = [(i, i % 2, f"http://w.example/{i}", f"text {i}") for i in range(20)]
    for nparts in (1, 7):
        df = spark.createDataFrame(
            rows, "doc_id long, shard long, uri string, text string"
        ).repartition(nparts)
        out = {r.shard: r for r in wet_export(df).collect()}
        assert out[0].n_records == 10 and out[1].n_records == 10
        recs = parse_warc(bytes(out[1].wet))
        assert [r["headers"]["WARC-Type"] for r in recs] == ["conversion"] * 10
        # deterministic order: uris sorted lexicographically within shard
        uris = [r["headers"]["WARC-Target-URI"] for r in recs]
        assert uris == sorted(uris)
        if nparts == 1:
            first = {s: bytes(r.wet) for s, r in out.items()}
        else:
            assert {s: bytes(r.wet) for s, r in out.items()} == first


def test_parse_html_fuzz_never_raises_and_is_deterministic():
    """Property fuzz (pure Python, no Spark job per example): parse_html
    must never raise on arbitrary text and must be a pure function —
    the dead-letter contract only catches what extraction itself
    raises, so the extractor has to absorb any tag soup a crawl can
    contain."""
    from hypothesis import given, settings, strategies as hst

    tokens = hst.sampled_from(
        list("<>/&;#!-= \"'abPpAqZ\n\t\xa0\U0001F600")
        + ["<p>", "</p>", "<script>", "</script>", "<!--", "-->",
           "&amp;", "&#x41;", "<a href='x'>", "</a>", "<title>"]
    )
    soup = hst.lists(tokens, max_size=120).map("".join)

    @settings(max_examples=300, deadline=None)
    @given(soup)
    def run(s):
        r1 = parse_html(s)
        r2 = parse_html(s)
        assert r1 == r2
        assert isinstance(r1["text"], str)
        # normalized: no leading/trailing/doubled whitespace, no empty
        # lines (empty TEXT is fine — a page can have no content)
        if r1["text"]:
            for line in r1["text"].split("\n"):
                assert line == " ".join(line.split()) and line != ""

    run()


def test_robots_parser_rfc9309_semantics():
    from data_engineering_assignment_spark.functions.robots import (
        parse_robots,
        pattern_regex,
        robots_decision,
        rules_for_agent,
    )

    txt = (
        "# comment\n"
        "User-agent: GraftBot\n"
        "User-Agent: other\n"          # consecutive agents share a group
        "Disallow: /d/\n"
        "Allow: /d/a\n"
        "disallow: /w/*/end$\n"        # field names case-insensitive
        "Disallow:\n"                  # empty = allow all = no rule
        "\n"
        "User-agent: *\n"
        "Crawl-delay: 1\n"             # unknown field ignored for rules
        "Disallow: /\n"
    )
    groups = parse_robots(txt)
    assert [g["agents"] for g in groups] == [["graftbot", "other"], ["*"]]
    rules = rules_for_agent(txt, "graftbot")
    assert rules == [(False, "/d/"), (True, "/d/a"), (False, "/w/*/end$")]
    # exact group beats *; an unknown agent falls back to the * group
    assert rules_for_agent(txt, "nobody") == [(False, "/")]
    # decisions: longest match wins, Allow wins ties, no match -> allow
    assert robots_decision(rules, "/d/a42")          # Allow /d/a (len 4)
    assert not robots_decision(rules, "/d/x42")      # Disallow /d/
    assert not robots_decision(rules, "/w/9/end")    # wildcard + $ anchor
    assert robots_decision(rules, "/w/9/endless")    # $ anchor must bind
    assert robots_decision(rules, "/elsewhere")
    # tie: same length Allow + Disallow -> Allow
    assert robots_decision([(False, "/p/"), (True, "/p/")], "/p/x")
    # regex metacharacters in patterns stay literal: the dot rule blocks
    # the literal path but must NOT match as a regex wildcard
    assert not robots_decision([(False, "/a.b")], "/a.b")
    assert robots_decision([(False, "/a.b")], "/axb")
    assert pattern_regex("/d/*x$") == "^/d/.*x$"


def test_robots_spec_excludes_anchor_octet():
    """RFC 9309 longest-match counts matched octets, not syntax: the
    trailing '$' anchor is excluded from the precedence key, so
    Allow /abcd (4 octets) outranks Disallow /abc$ (3 octets)."""
    from data_engineering_assignment_spark.functions.robots import (
        pattern_spec,
        robots_decision,
    )

    assert pattern_spec("/abc$") == 4
    assert pattern_spec("/abcd") == 5
    assert pattern_spec("/w/*/end$") == 8
    # anchored rule still wins where its octets are longer
    assert not robots_decision([(False, "/abc$"), (True, "/ab")], "/abc")
    # the regression pair: Disallow '/p/x$' is spec 4, NOT 5, so the
    # equal-octet Allow '/p/x' TIES and the Allow tie-win applies (the
    # old key scored the Disallow 5 and blocked the path)
    assert robots_decision([(False, "/p/x$"), (True, "/p/x")], "/p/x")


def test_robots_unknown_fields_do_not_split_groups():
    """Unknown fields between User-agent lines are ignored entirely
    (RFC 9309: crawlers SHOULD ignore these lines): 'User-agent: a /
    Sitemap / User-agent: b / Disallow: /x' is ONE two-agent group."""
    from data_engineering_assignment_spark.functions.robots import (
        parse_robots,
        rules_for_agent,
    )

    txt = (
        "User-agent: a\n"
        "Sitemap: http://e.example/sitemap.xml\n"
        "User-agent: b\n"
        "Disallow: /x\n"
    )
    groups = parse_robots(txt)
    assert [g["agents"] for g in groups] == [["a", "b"]]
    assert rules_for_agent(txt, "a") == [(False, "/x")]
    assert rules_for_agent(txt, "b") == [(False, "/x")]


def test_robots_rules_omit_hosts_without_applicable_rules(spark):
    """A host whose robots.txt holds no rule for the agent emits nothing
    into the rule table (documented robots_rules contract)."""
    import pandas as pd

    from data_engineering_assignment_spark.operators.crawl import robots_rules

    robots = spark.createDataFrame(
        pd.DataFrame(
            {
                "url_host": ["good.example", "empty.example"],
                "content": [
                    "User-agent: *\nDisallow: /d/\nAllow: /d/a\n",
                    "# nothing applicable\nSitemap: http://x/s.xml\n",
                ],
            }
        )
    )
    hosts = {
        r.url_host
        for r in robots_rules(robots, "graftbot").collect()
    }
    assert hosts == {"good.example"}


def test_robots_filter_operator(spark):
    from data_engineering_assignment_spark.operators.crawl import robots_filter

    urls = spark.createDataFrame(
        [
            ("h1.example", "/d/a1"),   # Allow beats Disallow
            ("h1.example", "/d/z"),    # Disallow /d/
            ("h2.example", "/d/z"),    # no robots for h2 -> allowed
        ],
        "url_host string, url_path string",
    )
    robots = spark.createDataFrame(
        [("h1.example", "User-agent: *\nDisallow: /d/\nAllow: /d/a\n")],
        "url_host string, content string",
    )
    rows = {
        (r.url_host, r.url_path): r.allowed
        for r in robots_filter(urls, robots, "graftbot").collect()
    }
    assert rows == {
        ("h1.example", "/d/a1"): True,
        ("h1.example", "/d/z"): False,
        ("h2.example", "/d/z"): True,
    }


def test_main_text_boilerplate_and_link_density():
    """main_text drops structural-chrome lines and high-link-density
    lines while text keeps everything."""
    h = (
        "<html><body>"
        "<header><p>Site Chrome</p></header>"
        '<nav><a href="/a">A</a> <a href="/b">B</a></nav>'
        "<p>real prose with a few honest words and "
        '<a href="/ref">one link</a> inside</p>'
        '<p><a href="/x">pure link line</a></p>'
        "<footer>copyright stuff</footer>"
        "</body></html>"
    )
    r = parse_html(h)
    assert r["text"] == (
        "Site Chrome\nA B\nreal prose with a few honest words and "
        "one link inside\npure link line\ncopyright stuff"
    )
    # prose survives (anchor 'one link' = 8 of 56 chars); chrome and the
    # pure-link line do not
    assert r["main_text"] == (
        "real prose with a few honest words and one link inside"
    )
    # links are still collected from everywhere outside dropped subtrees
    assert [href for href, _, _ in r["links"]] == ["/a", "/b", "/ref", "/x"]


def test_anchor_spanning_blocks_credits_each_line():
    """An <a> legally wrapping block elements (HTML5) credits its anchor
    chars to EACH line it spans: both wrapped lines are pure anchor text
    and must fail the link-density gate — under end-of-anchor-only
    accounting the first would pass as prose."""
    h = (
        "<body>"
        '<a href="/mega"><p>first nav line</p><p>second nav line</p></a>'
        "<p>honest prose line with plenty of ordinary words</p>"
        "</body>"
    )
    r = parse_html(h)
    assert r["text"] == (
        "first nav line\nsecond nav line\n"
        "honest prose line with plenty of ordinary words"
    )
    assert r["main_text"] == (
        "honest prose line with plenty of ordinary words"
    )
    # the link record still carries the FULL anchor text
    assert r["links"] == [("/mega", "first nav line second nav line", False)]


def test_decode_html_bytes_precedence():
    """BOM > HTTP header charset > meta charset > UTF-8; unknown names
    fall through; mojibake still decodes (errors=replace)."""
    from data_engineering_assignment_spark.functions.html import (
        decode_html_bytes,
    )

    assert decode_html_bytes("café".encode("utf-8")) == "café"
    assert decode_html_bytes(b"\xef\xbb\xbf" + "café".encode("utf-8")) == "café"
    assert decode_html_bytes(b"\xff\xfe" + "café".encode("utf-16-le")) == "café"
    assert decode_html_bytes(b"\xfe\xff" + "café".encode("utf-16-be")) == "café"
    assert (
        decode_html_bytes(
            "café".encode("latin-1"), "text/html; charset=ISO-8859-1"
        )
        == "café"
    )
    assert (
        decode_html_bytes('<meta charset="iso-8859-1"><p>café'.encode("latin-1"))
        == '<meta charset="iso-8859-1"><p>café'
    )
    # header beats meta
    assert (
        decode_html_bytes(
            '<meta charset="utf-16"><p>café'.encode("latin-1"),
            "text/html; charset=latin-1",
        )
        == '<meta charset="utf-16"><p>café'
    )
    # BOM beats header
    assert (
        decode_html_bytes(
            b"\xff\xfe" + "x".encode("utf-16-le"), "text/html; charset=latin-1"
        )
        == "x"
    )
    # unknown charset name -> utf-8 fallback
    assert decode_html_bytes("café".encode("utf-8"), "charset=bogus-enc") == "café"
    # invalid bytes never raise
    assert "�" in decode_html_bytes(b"\xe9 bare latin-1 accent")


def test_robots_filter_precedence_surface(spark):
    """The decision-table operator across the precedence surface:
    longest match, Allow tie-win, $ anchor, no-match default, no-robots
    host, NULL path."""
    from data_engineering_assignment_spark.operators.crawl import robots_filter

    urls = spark.createDataFrame(
        [
            ("h1.example", "/d/a1"),     # Allow /d/a beats Disallow /d/
            ("h1.example", "/d/z"),      # Disallow /d/
            ("h1.example", "/w/9/end"),  # wildcard + $ anchor binds
            ("h1.example", "/w/9/endless"),  # anchor must NOT match
            ("h1.example", "/p/x"),      # equal-spec tie -> Allow
            ("h1.example", "/elsewhere"),    # no match -> allowed
            ("h2.example", "/d/z"),      # no robots -> allowed
            ("h1.example", None),        # NULL path -> allowed default
        ],
        "url_host string, url_path string",
    )
    robots = spark.createDataFrame(
        [
            (
                "h1.example",
                "User-agent: *\nDisallow: /d/\nAllow: /d/a\n"
                "Disallow: /w/*/end$\nDisallow: /p/x$\nAllow: /p/x\n",
            )
        ],
        "url_host string, content string",
    )

    def rows(df):
        return {
            (r.url_host, r.url_path): r.allowed for r in df.collect()
        }

    batch = rows(robots_filter(urls, robots, "graftbot"))
    assert batch[("h1.example", "/d/a1")] is True
    assert batch[("h1.example", "/d/z")] is False
    assert batch[("h1.example", "/w/9/end")] is False
    assert batch[("h1.example", "/w/9/endless")] is True
    assert batch[("h1.example", "/p/x")] is True
    assert batch[("h1.example", None)] is True
    assert batch[("h2.example", "/d/z")] is True


def test_page_links_resolution_modes(spark):
    """page_links resolves every RFC 3986 reference class against the
    page base: relative path, root-relative, protocol-relative,
    dot-segments, absolute, fragment-only; pages without anchors
    contribute no rows."""
    from data_engineering_assignment_spark.operators.crawl import (
        html_extract,
        page_links,
    )

    html = (
        "<body>"
        '<a href="rel/x">a</a>'
        '<a href="/rooted">b</a>'
        '<a href="//other.example/p">c</a>'
        '<a href="../up">d</a>'
        '<a href="https://abs.example/q">e</a>'
        '<a href="#frag">f</a>'
        "</body>"
    )
    df = spark.createDataFrame(
        [
            ("http://h.example/dir/page.html", html),
            ("http://h.example/empty", "<body>no links</body>"),
        ],
        "target_uri string, html string",
    )
    out = page_links(html_extract(df, html_col="html"))
    got = [
        (r.href, r.resolved_url)
        for r in out.orderBy("anchor").collect()
    ]
    assert got == [
        ("rel/x", "http://h.example/dir/rel/x"),
        ("/rooted", "http://h.example/rooted"),
        ("//other.example/p", "http://other.example/p"),
        ("../up", "http://h.example/up"),
        ("https://abs.example/q", "https://abs.example/q"),
        ("#frag", "http://h.example/dir/page.html#frag"),
    ]


def test_resolved_url_col_matches_urljoin(spark):
    """The JVM fast path (resolve_url_fast_expr) is byte-identical to
    stdlib urljoin on every (base, ref) pair it accepts, and the
    composed resolved_url_col equals urljoin everywhere (the slow leg
    covers whatever the guards reject). Cross product of adversarial
    bases x refs — every guard (tabs, empty query/fragment delimiters,
    path params, dot segments, exotic schemes) gets both a fast-class
    neighbor and a must-fall-back twin."""
    from urllib.parse import urljoin

    from pyspark.sql import functions as SF

    from data_engineering_assignment_spark.operators.crawl import (
        resolve_url_fast_expr,
        resolved_url_col,
    )

    bases = [
        "http://a.example/x/y",
        "https://a.example/x/y?q=1#f",
        "http://a.example",
        "http://a.example/",
        "http://u:p@a.example:8080/x;p/y?a=1;b=2",
        "http://a.example/x/y?",
        "http://a.example/x;",
        "http://a.example/x\ty",
        "HTTP://a.example/x",
        "ftp://a.example/x",
        "weird://a/x",
        "notaurl",
        "",
    ]
    refs = [
        "http://c.example/d",
        "https://c.example/d/e?q=2#g",
        "HTTP://c.example/d",
        "http://c.example/a/../b",
        "http://c.example/d;",
        "http://c.example/d;p=1",
        "http://c.example/d?",
        "http://c.example/d?#x",
        "http://c.example/d\te",
        "http:///p",
        "http:g",
        "mailto:x@y.z",
        "//other.example/p?z#h",
        "//other.example/d;",
        "///三slash",
        "/rooted/p?z=2#g",
        "/",
        "/p;v=1/q",
        "/p/./q",
        "/p/../q",
        "/p/..",
        "/p/.",
        "/a b/c",
        "/p?",
        "/p#",
        "#frag",
        "#a#b",
        "#",
        "",
        "rel/x",
        "../up",
        "g?y=1",
        ";x",
        "?q=only",
    ]
    pairs = [(b, r) for b in bases for r in refs]
    df = spark.createDataFrame(pairs, "base string, ref string")
    out = df.select(
        "base",
        "ref",
        resolved_url_col(SF.col("base"), SF.col("ref")).alias("got"),
        resolve_url_fast_expr(SF.col("base"), SF.col("ref")).alias("fast"),
    ).collect()
    n_fast = 0
    for r in out:
        want = urljoin(r.base, r.ref)
        assert r.got == want, (r.base, r.ref, r.got, want)
        if r.fast is not None:
            n_fast += 1
            assert r.fast == want, ("fast", r.base, r.ref, r.fast, want)
    # the fast classes actually fire (absolute refs resolve JVM-side
    # under every base; base-dependent classes under the http(s) bases;
    # 87/429 of this deliberately guard-heavy matrix — real crawl hrefs
    # are overwhelmingly in the fast classes)
    assert n_fast >= 80


def test_resolved_url_col_null_dead_letter(spark):
    """NULL base or ref resolves to NULL — dead-letter, never a
    str(None) coercion artifact."""
    from pyspark.sql import functions as SF

    from data_engineering_assignment_spark.operators.crawl import (
        resolved_url_col,
    )

    df = spark.createDataFrame(
        [(None, "/p"), ("http://a.example/x", None), (None, None)],
        "base string, ref string",
    )
    got = df.select(
        resolved_url_col(SF.col("base"), SF.col("ref")).alias("r")
    ).collect()
    assert [r.r for r in got] == [None, None, None]


def test_reassemble_segments(spark):
    """ISO 28500 record segmentation: a 3-segment record reassembles to
    the exact original bytes; a missing middle segment, a missing LAST
    segment (no declared total) and a length-mismatched total all come
    back incomplete; unsegmented records pass through; duplicate
    segment numbers keep the lexicographically least payload."""
    from data_engineering_assignment_spark.functions.warc import build_warc
    from data_engineering_assignment_spark.operators.crawl import (
        reassemble_segments,
    )
    from data_engineering_assignment_spark.sources import warc_records

    def head(rid, payload, **extra):
        return (
            {
                "WARC-Type": "response",
                "WARC-Record-ID": rid,
                "WARC-Segment-Number": "1",
                **extra,
            },
            payload,
        )

    def cont(rid, origin, n, payload, total=None):
        h = {
            "WARC-Type": "continuation",
            "WARC-Record-ID": rid,
            "WARC-Segment-Origin-ID": origin,
            "WARC-Segment-Number": str(n),
        }
        if total is not None:
            h["WARC-Segment-Total-Length"] = str(total)
        return (h, payload)

    full = b"AAAA" + b"BBBB" + b"CC"
    recs = [
        ({"WARC-Type": "response", "WARC-Record-ID": "<u0>"}, b"whole"),
        head("<s1>", b"AAAA"),
        cont("<c12>", "<s1>", 2, b"BBBB"),
        cont("<c13>", "<s1>", 3, b"CC", total=len(full)),
        # duplicate of segment 2 with a lexicographically LARGER payload:
        # must lose (and the reassembly still length-checks)
        cont("<c12d>", "<s1>", 2, b"ZZZZ"),
        # gap: segments 1 and 3 only
        head("<s2>", b"XX"),
        cont("<c23>", "<s2>", 3, b"YY", total=6),
        # missing last segment: no declared total anywhere
        head("<s3>", b"PP"),
        cont("<c32>", "<s3>", 2, b"QQ"),
        # declared total disagrees with the bytes
        head("<s4>", b"11"),
        cont("<c42>", "<s4>", 2, b"22", total=99),
        # orphan continuation
        cont("<c9>", "<missing>", 2, b"NN", total=4),
    ]
    df = spark.createDataFrame(
        [(1, bytearray(build_warc(recs)))], "archive_id long, content binary"
    )
    rows = warc_records(df, include_payload=True)
    out = {
        r.record_id: r
        for r in reassemble_segments(rows).collect()
    }
    assert set(out) == {"<u0>", "<s1>", "<s2>", "<s3>", "<s4>"}
    assert out["<u0>"].segment_status == "unsegmented"
    assert bytes(out["<u0>"].full_payload) == b"whole"
    assert out["<u0>"].n_segments == 1
    assert out["<s1>"].segment_status == "reassembled"
    assert bytes(out["<s1>"].full_payload) == full
    assert out["<s1>"].n_segments == 3
    for rid in ("<s2>", "<s3>", "<s4>"):
        assert out[rid].segment_status == "incomplete", rid
        assert out[rid].full_payload is None, rid
    # orphan census: the documented LEFT ANTI pattern
    from pyspark.sql import functions as SF

    heads_ids = rows.filter("segment_number = 1").select(
        SF.col("record_id").alias("_h")
    )
    orphans = rows.filter("warc_type = 'continuation'").join(
        heads_ids, SF.col("segment_origin_id") == SF.col("_h"), "left_anti"
    )
    assert [r.record_id for r in orphans.collect()] == ["<c9>"]


def test_pair_requests_and_orphans(spark):
    """pair_requests: responses gain req_user_agent/req_referer via
    WARC-Concurrent-To; unpaired responses survive paired=false;
    duplicate requests resolve by min (archive, rec_idx); orphan
    requests (naming a missing response) come back from
    orphan_requests and never pollute the response output."""
    from data_engineering_assignment_spark.operators.crawl import (
        orphan_requests,
        pair_requests,
    )

    schema = (
        "archive_id long, rec_idx int, warc_type string,"
        " record_id string, concurrent_to string,"
        " http_user_agent string, http_referer string"
    )
    rows = [
        (1, 0, "response", "<urn:r1>", None, None, None),
        (1, 1, "request", "<urn:q1>", "<urn:r1>", "bot-a", "http://ref/1"),
        # duplicate request for r1, later rec_idx: must lose
        (1, 2, "request", "<urn:q1d>", "<urn:r1>", "zz-decoy", None),
        # unpaired response
        (2, 0, "response", "<urn:r2>", None, None, None),
        # orphan request
        (2, 1, "request", "<urn:q9>", "<urn:r-missing>", "ghost", None),
        # request with NULL concurrent_to: neither paired nor orphan
        (2, 2, "request", "<urn:q0>", None, "noid", None),
    ]
    df = spark.createDataFrame(rows, schema)
    out = {r.record_id: r for r in pair_requests(df).collect()}
    assert set(out) == {"<urn:r1>", "<urn:r2>"}
    assert out["<urn:r1>"].paired
    assert out["<urn:r1>"].req_user_agent == "bot-a"
    assert out["<urn:r1>"].req_referer == "http://ref/1"
    assert not out["<urn:r2>"].paired
    assert out["<urn:r2>"].req_user_agent is None
    orph = orphan_requests(df).collect()
    assert [r.record_id for r in orph] == ["<urn:q9>"]


def test_resolve_redirects_chains_cycles_and_caps(spark):
    """resolve_redirects: terminal captures are their own final (0 hops);
    chains resolve with per-node remaining-hop counts; relative Location
    resolves against the capture url; cycles, self-loops and chains
    longer than max_hops come back resolved=false with NULL final/hops;
    a url captured both as 301 and 200 counts as a redirect; duplicate
    redirect captures keep the lexicographically least target."""
    from data_engineering_assignment_spark.operators.crawl import (
        resolve_redirects,
    )

    u = lambda s: f"http://h.example/{s}"  # noqa: E731
    rows = [
        # 3-hop chain a -> b -> c -> d (b's Location is RELATIVE)
        (u("a"), 301, u("b")),
        (u("b"), 302, "/c"),
        (u("c"), 308, u("d")),
        (u("d"), 200, None),
        # 2-cycle and a self-loop
        (u("x"), 301, u("y")),
        (u("y"), 301, u("x")),
        (u("self"), 301, u("self")),
        # recrawl flip: captured as 200 AND 301 -> redirect wins
        (u("flip"), 200, None),
        (u("flip"), 301, u("d")),
        # duplicate redirect captures -> min(target) deterministic
        (u("dup"), 301, u("zzz")),
        (u("dup"), 301, u("d")),
    ]
    # an 18-hop chain under max_hops=16 must NOT resolve
    rows += [(u(f"n{i:02d}"), 301, u(f"n{i + 1:02d}")) for i in range(18)]
    rows.append((u("n18"), 200, None))
    df = spark.createDataFrame(
        rows, "target_uri string, http_status int, http_location string"
    )
    got = {
        r.url: (r.final_url, r.hops, r.resolved)
        for r in resolve_redirects(df).collect()
    }
    assert got[u("a")] == (u("d"), 3, True)
    assert got[u("b")] == (u("d"), 2, True)
    assert got[u("c")] == (u("d"), 1, True)
    assert got[u("d")] == (u("d"), 0, True)
    for dead in ("x", "y", "self"):
        assert got[u(dead)] == (None, None, False)
    assert got[u("flip")] == (u("d"), 1, True)
    assert got[u("dup")] == (u("d"), 1, True)
    # 18 > max_hops: the head of the long chain is dead-lettered...
    assert got[u("n00")] == (None, None, False)
    # ...but its sub-chains inside the cap still resolve (n02 is 16 away)
    assert got[u("n02")] == (u("n18"), 16, True)
    assert len(got) == 4 + 3 + 1 + 1 + 19


def test_warc_records_carries_location_header(spark):
    """warc_records exposes the Location singleton header (first wins)
    for redirect responses and NULL elsewhere."""
    from data_engineering_assignment_spark.functions.warc import build_warc
    from data_engineering_assignment_spark.sources import warc_records

    blob = build_warc(
        [
            (
                {
                    "WARC-Type": "response",
                    "WARC-Target-URI": "http://h.example/old",
                    "Content-Type": "application/http;msgtype=response",
                },
                b"HTTP/1.1 301 Moved Permanently\r\n"
                b"Location: /new\r\nLocation: /second-ignored\r\n\r\n",
            ),
            (
                {
                    "WARC-Type": "response",
                    "WARC-Target-URI": "http://h.example/ok",
                    "Content-Type": "application/http;msgtype=response",
                },
                b"HTTP/1.1 200 OK\r\n\r\nhi",
            ),
        ]
    )
    df = spark.createDataFrame([(1, blob)], "archive_id long, content binary")
    got = {
        r.target_uri: (r.http_status, r.http_location)
        for r in warc_records(df).collect()
    }
    assert got["http://h.example/old"] == (301, "/new")
    assert got["http://h.example/ok"] == (200, None)


def test_parse_sitemap_contract():
    """parse_sitemap: namespaced and bare roots, urlset vs sitemapindex,
    gzip sniff, loc-less entries skipped, unknown children ignored,
    malformed XML / wrong root raise ValueError."""
    import gzip

    from data_engineering_assignment_spark.functions.sitemaps import (
        build_sitemap,
        parse_sitemap,
    )

    xml = (
        '<?xml version="1.0"?>'
        '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        "<url><loc>http://h.example/a</loc>"
        "<lastmod>2026-01-02</lastmod><priority>0.8</priority>"
        "<mobile>ignored</mobile></url>"
        "<url><lastmod>2026-01-03</lastmod></url>"  # loc-less: skipped
        "<url><loc>http://h.example/b</loc></url>"
        "</urlset>"
    )
    r = parse_sitemap(xml)
    assert r["kind"] == "urlset"
    assert [e["loc"] for e in r["entries"]] == [
        "http://h.example/a",
        "http://h.example/b",
    ]
    assert r["entries"][0]["lastmod"] == "2026-01-02"
    assert r["entries"][0]["priority"] == "0.8"
    assert r["entries"][1]["lastmod"] is None

    # bare (undeclared-namespace) root parses the same
    bare = "<urlset><url><loc>http://h.example/c</loc></url></urlset>"
    assert parse_sitemap(bare)["entries"][0]["loc"] == "http://h.example/c"

    # sitemapindex + gzip round-trip through the fixture builder
    idx = build_sitemap(
        [{"loc": "http://h.example/s1.xml"}, {"loc": "http://h.example/s2.xml"}],
        kind="sitemapindex",
        gzipped=True,
    )
    assert idx[:2] == b"\x1f\x8b"
    r2 = parse_sitemap(idx)
    assert r2["kind"] == "sitemapindex"
    assert len(r2["entries"]) == 2
    # plain-bytes path too
    assert parse_sitemap(gzip.decompress(idx))["kind"] == "sitemapindex"

    for junk in ("<urlset><url>", "<rss></rss>", "not xml at all"):
        with pytest.raises(ValueError):
            parse_sitemap(junk)

    # query-string URLs ('&') round-trip: build_sitemap escapes field
    # text, parse_sitemap unescapes it (r12 advisor finding — unescaped
    # '&' made the whole fixture document dead-letter)
    amp = "http://h.example/p?a=1&b=<2>&c='q'"
    rt = parse_sitemap(
        build_sitemap([{"loc": amp, "lastmod": "2026&01"}])
    )
    assert rt["entries"][0]["loc"] == amp
    assert rt["entries"][0]["lastmod"] == "2026&01"


def test_parse_sitemap_mutation_contract():
    """Byte-mutated sitemaps parse or raise ValueError — never a foreign
    exception (the codec fuzz discipline; r14's feeds LookupError escape
    motivated pinning every ET.fromstring caller). Exercises the XML
    declaration's encoding attr, the gzip member, and the body."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from data_engineering_assignment_spark.functions.sitemaps import (
        build_sitemap,
        parse_sitemap,
    )

    @settings(max_examples=150, deadline=None)
    @given(
        mutations=st.lists(
            st.tuples(st.integers(0, 400), st.integers(0, 255)),
            min_size=1,
            max_size=6,
        ),
        gzipped=st.booleans(),
    )
    def _fuzz(mutations, gzipped):
        base = bytearray(
            build_sitemap(
                [
                    {"loc": "http://h.example/a", "lastmod": "2026-01-02"},
                    {"loc": "http://h.example/b"},
                ],
                gzipped=gzipped,
            )
        )
        for pos, val in mutations:
            base[pos % len(base)] = val
        try:
            r = parse_sitemap(bytes(base))
            assert isinstance(r, dict)
        except ValueError:
            pass

    _fuzz()

    # the named escapes, pinned directly: unknown encoding declaration
    # (LookupError inside ET) and a truncated gzip member (EOFError)
    bad_enc = b'<?xml version="1.0" encoding="ATF-8"?><urlset></urlset>'
    with pytest.raises(ValueError, match="malformed XML"):
        parse_sitemap(bad_enc)
    gz = build_sitemap([{"loc": "http://h.example/a"}], gzipped=True)
    with pytest.raises(ValueError, match="gzip"):
        parse_sitemap(gz[: len(gz) // 2])


def test_sitemap_entries_dead_letter_and_fanout(spark):
    """sitemap_entries: one row per entry, entry-less documents survive
    as a (kind, NULL-loc) census row, malformed documents as one
    parse_ok=false row — never dropped."""
    from data_engineering_assignment_spark.functions.sitemaps import (
        build_sitemap,
    )
    from data_engineering_assignment_spark.operators.crawl import (
        sitemap_entries,
    )

    good = build_sitemap(
        [
            {"loc": "http://h.example/a", "priority": "0.5"},
            {"loc": "http://h.example/b"},
        ]
    )
    empty = build_sitemap([])
    df = spark.createDataFrame(
        [
            ("http://h.example/sm1.xml", bytearray(good)),
            ("http://h.example/sm2.xml", bytearray(empty)),
            ("http://h.example/sm3.xml", bytearray(b"<oops")),
            ("http://h.example/sm4.xml", None),
        ],
        "target_uri string, http_body binary",
    )
    rows = sitemap_entries(df).collect()
    by_uri = {}
    for r in rows:
        by_uri.setdefault(r.sitemap_uri, []).append(r)
    assert [r.loc for r in by_uri["http://h.example/sm1.xml"]] == [
        "http://h.example/a",
        "http://h.example/b",
    ]
    assert by_uri["http://h.example/sm1.xml"][0].priority == "0.5"
    (census,) = by_uri["http://h.example/sm2.xml"]
    assert census.kind == "urlset" and census.loc is None and census.parse_ok
    for dead_uri in ("http://h.example/sm3.xml", "http://h.example/sm4.xml"):
        (dead,) = by_uri[dead_uri]
        assert dead.parse_ok is False and dead.kind is None


def test_robots_sitemap_discovery():
    """sitemap_urls extracts Sitemap: lines anywhere in the file
    (case-insensitive field, comments stripped, duplicates dropped)
    while parse_robots keeps ignoring them for group structure."""
    from data_engineering_assignment_spark.functions.robots import (
        parse_robots,
        sitemap_urls,
    )

    txt = (
        "User-agent: a\n"
        "Sitemap: http://h.example/sm1.xml\n"
        "User-agent: b\n"
        "Disallow: /x\n"
        "SITEMAP: http://h.example/sm2.xml # trailing comment\n"
        "sitemap: http://h.example/sm1.xml\n"  # duplicate
        "# Sitemap: http://h.example/commented-out.xml\n"
        "Sitemap:\n"  # empty value: skipped
    )
    assert sitemap_urls(txt) == [
        "http://h.example/sm1.xml",
        "http://h.example/sm2.xml",
    ]
    groups = parse_robots(txt)
    assert len(groups) == 1 and groups[0]["agents"] == ["a", "b"]


def test_parse_sitemap_plain_text_form():
    """The spec's plain-text sitemap: one fully-qualified URL per line
    (blank lines skipped, gzip sniffed); anything with a non-URL line
    still dead-letters."""
    import gzip

    from data_engineering_assignment_spark.functions.sitemaps import (
        parse_sitemap,
    )

    txt = "http://h.example/a\n\nhttps://h.example/b\n"
    r = parse_sitemap(txt)
    assert r["kind"] == "textlist"
    assert [e["loc"] for e in r["entries"]] == [
        "http://h.example/a",
        "https://h.example/b",
    ]
    assert r["entries"][0]["lastmod"] is None
    rz = parse_sitemap(gzip.compress(txt.encode()))
    assert rz == r
    for junk in (
        "http://h.example/a\ngarbage line\n",
        "ftp://h.example/a\n",
        "",
        "   ",
    ):
        with pytest.raises(ValueError):
            parse_sitemap(junk)


def test_warc_payload_digest_and_cdx_snapshot_diff(spark):
    """warc_records carries md5(payload) as payload_digest; the full-outer
    snapshot diff classifies added/gone/changed/unchanged and dedupes
    multiple captures per urlkey deterministically."""
    import hashlib

    from data_engineering_assignment_spark.functions.warc import build_warc
    from data_engineering_assignment_spark.operators.crawl import (
        cdx_snapshot_diff,
    )
    from data_engineering_assignment_spark.sources import warc_records

    payload = b"HTTP/1.1 200 OK\r\n\r\nhello"
    blob = build_warc(
        [
            (
                {
                    "WARC-Type": "response",
                    "WARC-Target-URI": "http://h.example/p",
                    "Content-Type": "application/http;msgtype=response",
                },
                payload,
            )
        ]
    )
    df = spark.createDataFrame([(1, blob)], "archive_id long, content binary")
    (rec,) = warc_records(df).collect()
    assert rec.payload_digest == hashlib.md5(payload).hexdigest()

    old = spark.createDataFrame(
        [
            ("a)/", "d1"),
            ("b)/", "d2"),
            ("c)/", "d3"),
            ("dup)/", "z9"),  # duplicate captures: max(digest) wins
            ("dup)/", "a1"),
        ],
        "urlkey string, digest string",
    )
    new = spark.createDataFrame(
        [
            ("a)/", "d1"),  # unchanged
            ("b)/", "d2x"),  # changed
            ("d)/", "d4"),  # added
            ("dup)/", "z9"),  # matches the kept max digest
        ],
        "urlkey string, digest string",
    )
    got = {r.urlkey: r.change for r in cdx_snapshot_diff(old, new).collect()}
    assert got == {
        "a)/": "unchanged",
        "b)/": "changed",
        "c)/": "gone",
        "d)/": "added",
        "dup)/": "unchanged",
    }


def test_robots_crawl_delay_semantics():
    """crawl_delay: group-scoped, structure-neutral for group boundaries,
    exact-token groups beat '*', max across selected groups, fractional
    values ceil, junk ignored."""
    from data_engineering_assignment_spark.functions.robots import (
        crawl_delay,
        parse_robots,
    )

    txt = (
        "User-agent: a\n"
        "Crawl-delay: 2.2\n"  # group still open: b joins [a, b]
        "User-agent: b\n"
        "Disallow: /x\n"
        "User-agent: *\n"
        "Crawl-delay: 7\n"
        "Disallow: /\n"
        "User-agent: b\n"
        "Crawl-delay: 1\n"
        "Crawl-delay: notanumber\n"
        "Disallow: /y\n"
    )
    assert len(parse_robots(txt)) == 3  # delay lines never split groups
    assert crawl_delay(txt, "a") == 3  # ceil(2.2), via the [a, b] group
    assert crawl_delay(txt, "b") == 3  # max(3, 1) across b's two groups
    assert crawl_delay(txt, "other") == 7  # falls to the '*' group
    assert crawl_delay("User-agent: *\nDisallow: /\n", "a") is None
    assert crawl_delay("Crawl-delay: 5\n", "a") is None  # before any group


def test_robots_crawl_delay_nonpositive_ignored():
    """Non-positive delays (real-world 'Crawl-delay: 0', junk '-5') are
    ignored like any unknown line — a selected group never yields a 0 or
    negative interval to the politeness gate (r12 advisor finding)."""
    from data_engineering_assignment_spark.functions.robots import (
        crawl_delay,
    )

    assert crawl_delay("User-agent: *\nCrawl-delay: 0\n", "a") is None
    assert crawl_delay("User-agent: *\nCrawl-delay: -5\n", "a") is None
    # a positive sibling in the same group still wins
    txt = "User-agent: *\nCrawl-delay: 0\nCrawl-delay: 4\n"
    assert crawl_delay(txt, "a") == 4
    # an ignored non-positive leaves the exact groups delay-less, so the
    # existing exact-else-star fallback applies ('*' delay wins)
    txt2 = (
        "User-agent: bot\nCrawl-delay: -1\nDisallow: /x\n"
        "User-agent: *\nCrawl-delay: 9\n"
    )
    assert crawl_delay(txt2, "bot") == 9


def test_robots_sitemaps_and_delays_operators(spark):
    """robots_sitemaps explodes Sitemap: discovery lines (none for
    silent or undecodable hosts); robots_delays emits one row per host
    with NULL when no delay applies to the agent."""
    from data_engineering_assignment_spark.operators.crawl import (
        robots_delays,
        robots_sitemaps,
    )

    robots = spark.createDataFrame(
        [
            (
                "a.example",
                bytearray(
                    b"User-agent: graft\nCrawl-delay: 2.5\nDisallow: /x\n"
                    b"Sitemap: http://a.example/s1.xml\n"
                    b"Sitemap: http://a.example/s2.xml\n"
                ),
            ),
            ("b.example", bytearray(b"User-agent: *\nDisallow: /\n")),
            ("c.example", None),
        ],
        "url_host string, content binary",
    )
    sm = {
        (r.url_host, r.sitemap_url)
        for r in robots_sitemaps(robots).collect()
    }
    assert sm == {
        ("a.example", "http://a.example/s1.xml"),
        ("a.example", "http://a.example/s2.xml"),
    }
    dl = {
        r.url_host: r.crawl_delay_s for r in robots_delays(robots).collect()
    }
    assert dl == {"a.example": 3, "b.example": None, "c.example": None}


def test_registered_domain_psl_precedence(spark):
    """Full PSL decision on hand-picked hosts: exception beats wildcard,
    wildcard needs its extra label, bare suffixes and suffix-equal hosts
    yield NULL, unknown TLDs use the implicit * fallback, NULL passes
    through."""
    from data_engineering_assignment_spark.operators.crawl import (
        registered_domain,
    )

    rows = [
        ("a.b.co.uk", "b.co.uk"),
        ("co.uk", None),  # host IS the public suffix
        ("uk", None),
        ("w.foo.ck", "w.foo.ck"),  # *.ck -> psl foo.ck
        ("foo.ck", None),  # foo.ck IS the (wildcard) public suffix
        ("ck", None),  # wildcard can't match without its label
        ("www.ck", "www.ck"),  # !www.ck exception -> psl ck
        ("sub.www.ck", "www.ck"),
        ("x.github.io", "x.github.io"),  # private multi-label suffix
        ("github.io", None),
        ("z.unknowntld", "z.unknowntld"),  # implicit * fallback
        ("unknowntld", None),
        (None, None),
    ]
    df = spark.createDataFrame([(h,) for h, _ in rows], "url_host string")
    got = {
        r.url_host: r.registered_domain
        for r in registered_domain(df).collect()
    }
    for host, want in rows:
        assert got[host] == want, (host, got[host], want)


def test_meta_robots_and_rel_nofollow():
    """In-page opt-outs: <meta name=robots> tokens surface in
    first-seen order ('none' left to consumers to expand), and each
    link carries a nofollow flag for rel nofollow/ugc/sponsored —
    case-insensitive, multi-token rel, meta read inside the dropped
    <head> subtree (the <title> rule)."""
    h = (
        "<html><head><title>t</title>"
        '<meta name="ROBOTS" content="NOINDEX, nofollow , noarchive">'
        '<meta name="robots" content="noindex"></head><body>'
        '<a href="/a">plain</a> '
        '<a href="/b" rel="NoFollow">nf</a> '
        '<a href="/c" rel="ugc sponsored">us</a> '
        '<a href="/d" rel="author">ok</a>'
        "</body></html>"
    )
    r = parse_html(h)
    assert r["robots"] == ["noindex", "nofollow", "noarchive"]
    assert r["links"] == [
        ("/a", "plain", False),
        ("/b", "nf", True),
        ("/c", "us", True),
        ("/d", "ok", False),
    ]
    # 'none' is preserved verbatim; no meta -> empty list
    assert parse_html('<meta name=robots content="none">')["robots"] == ["none"]
    assert parse_html("<p>x</p>")["robots"] == []
    # a non-robots meta name does not leak in
    assert parse_html('<meta name="viewport" content="noindex">')["robots"] == []


def test_html_extract_robots_flags(spark):
    from data_engineering_assignment_spark.operators.crawl import (
        html_extract,
        page_links,
    )

    rows = [
        (1, "http://h.example/1",
         '<meta name=robots content="noindex"><a href="/x">x</a>'),
        (2, "http://h.example/2",
         '<meta name=robots content="none"><a href="/y" rel=nofollow>y</a>'),
        (3, "http://h.example/3", "<a href='/z'>z</a>"),
        (4, "http://h.example/4", None),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, target_uri string, html string"
    )
    pages = {r.doc_id: r.page for r in html_extract(df, html_col="html").collect()}
    assert pages[1].noindex and not pages[1].nofollow
    assert pages[2].noindex and pages[2].nofollow  # 'none' implies both
    assert not pages[3].noindex and not pages[3].nofollow
    assert pages[4].noindex is None and not pages[4].html_ok
    links = page_links(
        html_extract(df, html_col="html")
    ).select("doc_id", "href", "link_nofollow").collect()
    got = {(r.doc_id, r.href): r.link_nofollow for r in links}
    assert got == {(1, "/x"): False, (2, "/y"): True, (3, "/z"): False}


def test_canonical_and_description_extraction():
    """rel=canonical (first wins, multi-token rel accepted) and
    description precedence (meta name=description over og:description,
    first of each wins)."""
    h = (
        '<head><link rel="alternate canonical" href="/CANON">'
        '<link rel="canonical" href="/second-ignored">'
        '<meta property="OG:Description" content="og d">'
        '<meta name="Description" content="meta d">'
        '<meta name="description" content="later-ignored"></head>'
        "<body>x</body>"
    )
    r = parse_html(h)
    assert r["canonical"] == "/CANON"
    assert r["description"] == "meta d"
    # og fallback when no meta description
    r = parse_html('<meta property="og:description" content="only og">')
    assert r["description"] == "only og"
    # absent -> None
    r = parse_html("<p>x</p>")
    assert r["canonical"] is None and r["description"] is None
    # a non-canonical link rel does not leak in
    assert parse_html('<link rel="stylesheet" href="/s.css">')["canonical"] is None


def test_inert_subtree_metadata_ignored():
    """Metadata inside template/noscript/svg/iframe subtrees is INERT
    and must not set page-level signals; <head> remains authoritative
    (r14 review finding: a template fragment's noindex wrongly dropped
    real pages)."""
    h = (
        '<template><meta name="robots" content="noindex">'
        '<link rel="canonical" href="/wrong">'
        "<title>wrong title</title>"
        '<meta name="description" content="wrong desc"></template>'
        "<svg><title>svg label</title></svg>"
        '<head><title>real</title><link rel="canonical" href="/right">'
        "</head><p>prose</p>"
    )
    r = parse_html(h)
    assert r["robots"] == []
    assert r["canonical"] == "/right"
    assert r["title"] == "real"
    assert r["description"] is None
    # head metadata still read (the original title rule)
    r2 = parse_html('<head><meta name="robots" content="noindex"></head>x')
    assert r2["robots"] == ["noindex"]


def test_structured_data_extraction():
    """JSON-LD @type census + OpenGraph properties (r15): blocks in
    head AND body count; @type string/list and @graph forms; malformed
    JSON is a countable error, not a page failure; og:* first value
    per property wins; inert subtrees set nothing; script bodies stay
    out of the text."""
    h = (
        "<html><head>"
        '<meta property="og:title" content="T1">'
        '<meta property="OG:Type" content="article">'
        '<meta property="og:title" content="dup-ignored">'
        '<script type="application/ld+json">'
        '{"@context":"https://schema.org","@type":"Article"}</script>'
        "</head><body>"
        '<script type="application/ld+json">'
        '[{"@type":["Product","Offer"]},{"@type":"Person"}]</script>'
        '<script type="application/ld+json">'
        '{"@graph":[{"@type":"NewsArticle"},{"@type":"Organization"}]}'
        "</script>"
        '<script type="application/ld+json">{bad json</script>'
        "<script>var x = 1;</script>"
        '<template><script type="application/ld+json">{"@type":"Inert"}'
        '</script><meta property="og:image" content="inert.png">'
        "</template>"
        "body text</body></html>"
    )
    r = parse_html(h)
    assert r["ld_types"] == [
        "Article", "Product", "Offer", "Person",
        "NewsArticle", "Organization",
    ]
    assert r["ld_blocks"] == 4 and r["ld_errors"] == 1
    assert r["og"] == [("og:title", "T1"), ("og:type", "article")]
    assert r["text"] == "body text"
    # no structured data at all
    r0 = parse_html("<p>plain</p>")
    assert r0["ld_types"] == [] and r0["ld_blocks"] == 0
    assert r0["og"] == []
    # EOF inside an unclosed ld+json block: counted (as an error here)
    r1 = parse_html('<script type="application/ld+json">{"@type":"X"')
    assert r1["ld_blocks"] == 1 and r1["ld_errors"] == 1
    # pathological nesting stays a countable error (never raises)
    deep = '<script type="application/ld+json">' + "[" * 200000
    assert parse_html(deep)["ld_errors"] == 1


def test_html_extract_structured_fields(spark):
    """html_extract carries ld_types/ld_blocks/ld_errors/og through
    the struct, NULL on dead-letter rows."""
    import pandas as pd

    from data_engineering_assignment_spark.operators.crawl import (
        html_extract,
    )
    from pyspark.sql import functions as F

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "html": [
                '<head><meta property="og:a" content="1">'
                '<script type="application/ld+json">{"@type":"T"}'
                "</script></head>ok",
                None,
            ],
        }
    )
    out = html_extract(spark.createDataFrame(pdf), html_col="html")
    rows = {
        r["doc_id"]: r
        for r in out.select(
            "doc_id", "page.ld_types", "page.ld_blocks",
            "page.ld_errors", "page.og", "page.html_ok",
            F.size("page.og").alias("og_n"),
        ).collect()
    }
    assert rows[1]["ld_types"] == ["T"] and rows[1]["ld_blocks"] == 1
    assert rows[1]["ld_errors"] == 0 and rows[1]["og_n"] == 1
    assert rows[1]["og"][0]["property"] == "og:a"
    assert not rows[2]["html_ok"] and rows[2]["ld_types"] is None
    assert rows[2]["og_n"] is None  # size(NULL) stays NULL, not -1


def test_sitemap_media_extensions():
    """Google image/video sitemap extensions (r15): image:loc lists and
    video title/duration parse per entry; non-integer durations ride
    along as None (tolerant about content); sitemapindex/textlist
    entries carry empty media lists."""
    from data_engineering_assignment_spark.functions.sitemaps import (
        build_sitemap,
        parse_sitemap,
    )

    ents = [
        {
            "loc": "http://h.example/a",
            "images": ["http://h.example/i/1", "http://h.example/i/2"],
            "videos": [{"title": "clip & co", "duration": 90}],
        },
        {"loc": "http://h.example/b"},
    ]
    r = parse_sitemap(build_sitemap(ents))
    assert r["entries"][0]["images"] == [
        "http://h.example/i/1", "http://h.example/i/2",
    ]
    assert r["entries"][0]["videos"] == [
        {"title": "clip & co", "duration": 90},
    ]
    assert r["entries"][1]["images"] == [] and r["entries"][1]["videos"] == []
    # non-integer duration -> None, entry still parses
    raw = (
        "<urlset><url><loc>http://h.example/c</loc>"
        "<video:video xmlns:video='x'><video:title>t</video:title>"
        "<video:duration>PT90S</video:duration></video:video>"
        "</url></urlset>"
    )
    v = parse_sitemap(raw)["entries"][0]["videos"][0]
    assert v == {"title": "t", "duration": None}
    # image without a loc is ignored, not an error
    raw2 = (
        "<urlset><url><loc>http://h.example/d</loc>"
        "<image:image xmlns:image='x'><image:caption>c</image:caption>"
        "</image:image></url></urlset>"
    )
    assert parse_sitemap(raw2)["entries"][0]["images"] == []
    # index entries keep the shape
    idx = parse_sitemap(
        build_sitemap([{"loc": "http://h.example/s.xml"}],
                      kind="sitemapindex")
    )
    assert idx["entries"][0]["images"] == []
