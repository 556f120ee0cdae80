"""functions/mime.py — e-mail / mbox parsing contract."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from data_engineering_assignment_spark.functions.mime import (
    build_eml,
    parse_eml,
)


def test_plain_roundtrip():
    r = parse_eml(
        build_eml(
            from_addr="Alice <alice@example.org>",
            to_addrs="b@example.org, c@example.org",
            subject="hello",
            text="line one\nline two",
            message_id="<m1@example.org>",
        )
    )
    assert r["from_addr"] == "Alice <alice@example.org>"
    assert r["to_addrs"] == ["b@example.org", "c@example.org"]
    assert r["subject"] == "hello"
    assert r["message_id"] == "<m1@example.org>"
    assert r["n_parts"] == 1 and r["max_depth"] == 0
    assert r["text"].strip() == "line one\nline two"
    assert not r["has_html"] and r["n_attachments"] == 0


def test_rfc2047_subject_roundtrip():
    # non-ASCII subject serializes as an encoded-word and decodes back
    raw = build_eml(subject="Héllo wörld — naïve")
    assert b"=?utf-8?" in raw.lower()
    assert parse_eml(raw)["subject"] == "Héllo wörld — naïve"


def test_multipart_alternative_and_attachment():
    r = parse_eml(
        build_eml(
            text="plain body",
            html="<p>rich</p>",
            attachments=[("data.bin", b"\x00\x01\x02" * 7)],
        )
    )
    assert r["n_parts"] == 3 and r["has_html"]
    assert r["n_attachments"] == 1
    assert r["text"].strip() == "plain body"
    att = [p for p in r["parts"] if p["is_attachment"]][0]
    assert att["filename"] == "data.bin"
    assert att["transfer_encoding"] == "base64"
    assert att["size_decoded"] == 21
    assert r["max_depth"] == 2  # mixed > alternative > leaves


def test_corrupt_base64_decodes_best_effort():
    # the stdlib rule: bad base64 is tolerated content, not a dead
    # letter — the message still parses, the size just shifts
    raw = build_eml(attachments=[("a.bin", b"x" * 30)])
    bad = raw.replace(b"eHh4", b"@@!!", 1)
    r = parse_eml(bad)
    assert r["n_parts"] == 2 and r["parts"][-1]["size_decoded"] > 0


def test_guards():
    with pytest.raises(ValueError, match="no core headers"):
        parse_eml(b"\x00\xffnot mail at all")
    with pytest.raises(ValueError, match="no core headers"):
        parse_eml(b"")


@settings(max_examples=150, deadline=None)
@given(
    mutations=st.lists(
        st.tuples(st.integers(0, 500), st.integers(0, 255)),
        min_size=1, max_size=6,
    ),
)
def test_mutation_contract(mutations):
    """Byte-mutated messages parse or raise ValueError — never a
    foreign exception (the codec fuzz discipline; the stdlib email
    package is lenient, so most mutations still parse)."""
    base = bytearray(
        build_eml(
            subject="Héllo", html="<p>h</p>",
            attachments=[("a.bin", b"xyz" * 5)],
        )
    )
    for pos, val in mutations:
        base[pos % len(base)] = val
    try:
        r = parse_eml(bytes(base))
        assert isinstance(r, dict)
    except ValueError:
        pass


def test_quoted_display_name_with_comma():
    """RFC 5322: quoted display names contain commas — the To split
    must not mangle them (r15 review finding)."""
    r = parse_eml(
        build_eml(to_addrs='"Doe, John" <j@x.org>, plain@b.org')
    )
    assert r["to_addrs"] == ['"Doe, John" <j@x.org>', "plain@b.org"]
