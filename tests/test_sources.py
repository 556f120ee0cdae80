"""Source robustness: corrupt-record quarantine on JSONL, parquet schema
evolution via mergeSchema."""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql.types import LongType, StringType, StructField, StructType

from data_engineering_assignment_spark import sources
from data_engineering_assignment_spark.queries.catalog_sources import _fixture_rows


def test_jsonl_corrupt_records_quarantined(spark, tmp_path):
    p = tmp_path / "mixed.jsonl"
    p.write_text(
        '{"id": 1, "name": "ok"}\n'
        '{"id": 2, "name": "also ok"}\n'
        "{not json at all}\n"
        '{"id": "not-a-number", "name": "type clash"}\n'
    )
    schema = StructType(
        [StructField("id", LongType()), StructField("name", StringType())]
    )
    df = sources.read_jsonl(spark, str(p), schema, corrupt_col="_bad").cache()
    clean = df.filter("_bad IS NULL")
    bad = df.filter("_bad IS NOT NULL")
    assert sorted(r["id"] for r in clean.collect()) == [1, 2]
    # both malformed lines survive verbatim for the dead-letter path
    bad_lines = {r["_bad"] for r in bad.collect()}
    assert "{not json at all}" in bad_lines
    assert any("not-a-number" in line for line in bad_lines)
    assert len(bad_lines) == 2
    df.unpersist()


def test_jsonl_corrupt_col_requires_schema(spark, tmp_path):
    import pytest

    with pytest.raises(ValueError, match="schema"):
        sources.read_jsonl(spark, str(tmp_path), corrupt_col="_bad")


def test_parquet_merge_schema_evolution(spark, tmp_path):
    """Old files lack the new column; mergeSchema unions the schemas and
    back-fills nulls — the additive-evolution contract for long-lived
    datasets."""
    d = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id bigint, s string").write.parquet(d)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id bigint, s string, score double"
    ).write.mode("append").parquet(d)
    merged = spark.read.option("mergeSchema", "true").parquet(d)
    assert set(merged.columns) == {"id", "s", "score"}
    rows = {r["id"]: r["score"] for r in merged.collect()}
    assert rows == {1: None, 2: 9.5}


def test_profile_approx_variant_avoids_expand(spark, sf_dir):
    """Exact multi-column count_distinct plans an Expand (rows x columns);
    the approx variant must not — that is its reason to exist at scale."""
    from data_engineering_assignment_spark import plans
    from data_engineering_assignment_spark.operators.corpus import profile_table
    from data_engineering_assignment_spark.tables import load

    orders = load(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    assert "Expand" in plans.simple_plan(profile_table(orders, cols))
    approx = profile_table(orders, cols, exact=False)
    assert "Expand" not in plans.simple_plan(approx)
    got = {r["column_name"]: r for r in approx.collect()}
    exact = {r["column_name"]: r for r in profile_table(orders, cols).collect()}
    for c in cols:  # HLL estimates within a loose band of truth
        assert abs(got[c]["n_distinct"] - exact[c]["n_distinct"]) <= 0.1 * exact[c]["n_distinct"] + 5
        assert got[c]["n_nulls"] == exact[c]["n_nulls"]


def test_native_image_source_matches_own_codec(spark):
    """The native format('image') decode (Java ImageIO, OpenCV BGRA order)
    and our dependency-free PNG codec must agree BYTE-FOR-BYTE on every
    committed fixture — two independent decoders pinning each other."""
    import hashlib
    from pathlib import Path

    from pyspark.sql import functions as F

    from data_engineering_assignment_spark.functions.multimodal import decode_png
    from data_engineering_assignment_spark.sources import read_images

    d = Path(__file__).parent / "fixtures" / "media_png"
    native = {
        r["fname"]: r
        for r in read_images(spark, str(d))
        .select(
            F.element_at(F.split("image.origin", "/"), -1).alias("fname"),
            "image.width",
            "image.height",
            "image.nChannels",
            F.md5("image.data").alias("data_md5"),
        )
        .collect()
    }
    assert len(native) == 3
    for png in sorted(d.glob("*.png")):
        frames, meta = decode_png(png.read_bytes())
        n = native[png.name]
        assert (n["width"], n["height"], n["nChannels"]) == (
            meta["width"], meta["height"], meta["channels"],
        )
        assert n["data_md5"] == hashlib.md5(frames[0].tobytes()).hexdigest()


def test_tar_members_contract(spark):
    """tar_members: plain and gzipped tarballs explode to file rows with
    verified md5 digests, symlinks surface with NULL digest, directory
    entries are skipped, junk bytes dead-letter as one parse_ok=false
    row."""
    import hashlib
    import io
    import tarfile

    from data_engineering_assignment_spark.sources import tar_members

    def build(mode):
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode=mode) as tf:
            d = tarfile.TarInfo("keep/")
            d.type = tarfile.DIRTYPE
            tf.addfile(d)
            f = tarfile.TarInfo("keep/a.txt")
            body = b"hello tar"
            f.size = len(body)
            f.mtime = 1700000123
            tf.addfile(f, io.BytesIO(body))
            ln = tarfile.TarInfo("alias")
            ln.type = tarfile.SYMTYPE
            ln.linkname = "keep/a.txt"
            tf.addfile(ln)
        return buf.getvalue()

    df = spark.createDataFrame(
        [
            (1, bytearray(build("w"))),
            (2, bytearray(build("w:gz"))),
            (3, bytearray(b"definitely not a tarball")),
        ],
        "archive_id long, content binary",
    )
    rows = tar_members(df).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r.archive_id, []).append(r)
    want_digest = hashlib.md5(b"hello tar").hexdigest()
    for aid in (1, 2):
        got = {r.member: r for r in by_id[aid]}
        assert set(got) == {"keep/a.txt", "alias"}  # dir skipped
        f = got["keep/a.txt"]
        assert (f.kind, f.size, f.mtime, f.content_digest, f.parse_ok) == (
            "file", 9, 1700000123, want_digest, True,
        )
        ln = got["alias"]
        assert (ln.kind, ln.content_digest) == ("sym", None)
    (dead,) = by_id[3]
    assert dead.parse_ok is False and dead.member is None


def _zip64_eocd_spliced(raw: bytes) -> bytes:
    """Rewrite a comment-less classic archive to route through the
    ZIP64 end-of-central-directory: insert an EOCD64 record + locator
    before the EOCD and blank the EOCD's counts/offsets to the 0xFFFF/
    0xFFFFFFFF sentinels — the layout every >4GiB crawl dump uses."""
    import struct

    assert raw[-22:-18] == b"PK\x05\x06"
    (n_disk, n_total, cd_size, cd_off) = struct.unpack(
        "<HHII", raw[-14:-2]
    )
    eocd64 = struct.pack(
        "<4sQHHIIQQQQ",
        b"PK\x06\x06", 44, 45, 45, 0, 0,
        n_disk, n_total, cd_size, cd_off,
    )
    locator = struct.pack(
        "<4sIQI", b"PK\x06\x07", 0, len(raw) - 22, 1
    )
    eocd = (
        b"PK\x05\x06" + b"\x00" * 4
        + b"\xff\xff\xff\xff"  # entry counts -> sentinel
        + b"\xff\xff\xff\xff\xff\xff\xff\xff"  # cd size/offset -> sentinel
        + b"\x00\x00"
    )
    return raw[:-22] + eocd64 + locator + eocd


def test_zip_members_zip64(spark):
    """zip_members reads ZIP64 archives: force_zip64 member layout
    (zip64 extra fields + 8-byte data descriptors) AND the spliced
    EOCD64/locator directory route; a truncated EOCD64 dead-letters."""
    import io
    import zipfile

    from data_engineering_assignment_spark.sources import zip_members

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        with zf.open("a.bin", "w", force_zip64=True) as m:
            m.write(b"x" * 1000)
        zf.writestr("b.txt", b"y" * 10, zipfile.ZIP_DEFLATED)
    plain = buf.getvalue()
    spliced = _zip64_eocd_spliced(plain)
    # stdlib reads the spliced form (sanity before the Spark hop)
    assert zipfile.ZipFile(io.BytesIO(spliced)).namelist() == [
        "a.bin", "b.txt",
    ]
    df = spark.createDataFrame(
        [(1, plain), (2, spliced), (3, spliced[:-30])],
        "archive_id long, content binary",
    )
    rows = zip_members(df).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["archive_id"], []).append(r)
    for aid in (1, 2):
        got = sorted(
            (r["member"], r["size_uncompressed"], r["crc_ok"])
            for r in by_id[aid]
            if r["parse_ok"]
        )
        assert got == [("a.bin", 1000, True), ("b.txt", 10, True)]
    assert len(by_id[3]) == 1 and not by_id[3][0]["parse_ok"]


# --- _fixture_rows: the one per-doc generator every fixture gate shares ---


def test_fixture_rows_one_row_per_input_row_with_empty_partitions(spark):
    docs = spark.range(5, numPartitions=8)  # 3 of the 8 partitions are empty
    assert docs.rdd.glom().map(len).collect().count(0) == 3
    out = _fixture_rows(docs, lambda did: (did, 10 * did), "doc_id long, v long")
    assert sorted(map(tuple, out.collect())) == [(i, 10 * i) for i in range(5)]


def test_fixture_rows_passes_did_as_python_int(spark):
    out = _fixture_rows(
        spark.range(4, numPartitions=2),
        lambda did: (did, type(did).__name__),
        "doc_id long, kind string",
    )
    assert {r["kind"] for r in out.collect()} == {"int"}


def test_fixture_rows_names_split_on_top_level_commas(spark):
    schema = (
        "doc_id long, price decimal(10,2), s struct<a:int,b:string>, tag string"
    )
    assert sources.schema_field_names(schema) == ["doc_id", "price", "s", "tag"]
    out = _fixture_rows(
        spark.range(3, numPartitions=1),
        lambda did: (did, Decimal(did) / 4, {"a": did, "b": f"b{did}"}, f"t{did}"),
        schema,
    )
    got = sorted(
        (r["doc_id"], r["price"], r["s"]["a"], r["s"]["b"], r["tag"])
        for r in out.collect()
    )
    assert got == [
        (i, Decimal(i) / 4, i, f"b{i}", f"t{i}") for i in range(3)
    ]


def test_fixture_rows_extra_columns_reach_the_builder_in_order(spark):
    docs = spark.createDataFrame(
        [(1, "a", 10), (2, "bb", 20)], "doc_id long, text string, k long"
    )
    out = _fixture_rows(
        docs,
        lambda did, text, k: (did, f"{text}:{k}"),
        "doc_id long, joined string",
    )
    assert sorted(map(tuple, out.collect())) == [(1, "a:10"), (2, "bb:20")]


# --- _binary_meta_source: the one skeleton every per-file parser shares ---


def _zip_bytes(members: dict[str, bytes]) -> bytes:
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for name, body in members.items():
            zf.writestr(name, body)
    return buf.getvalue()


def test_binary_meta_source_string_id_keeps_type_and_values(spark):
    """A string id column comes back as a string column with its values
    untouched — NULL included, on parsed and dead-letter rows alike."""
    df = spark.createDataFrame(
        [
            ("u1", _zip_bytes({"a.txt": b"a"})),
            ("u2", b"junk"),
            (None, _zip_bytes({"b.txt": b"bb"})),
        ],
        "key string, content binary",
    )
    out = sources.zip_members(df, id_col="key")
    assert out.schema["key"].dataType == StringType()
    got = [(r["key"], r["member"], r["parse_ok"]) for r in out.collect()]
    assert sorted(got, key=repr) == sorted(
        [("u1", "a.txt", True), ("u2", None, False), (None, "b.txt", True)],
        key=repr,
    )


def test_binary_meta_source_rejects_non_binary_content(spark):
    import pytest

    df = spark.createDataFrame([(1, "text")], "archive_id long, body string")
    with pytest.raises(TypeError, match="'body'"):
        sources.tar_members(df, content_col="body")


def test_tar_members_keeps_readable_members_before_the_dead_letter(spark):
    """A tarball whose second member's data is cut short by garbage emits
    the first member's row, then ONE dead-letter row for the archive."""
    import hashlib
    import io
    import tarfile

    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for name, body in (("a.txt", b"hello tar"), ("b.bin", b"x" * 4096)):
            info = tarfile.TarInfo(name)
            info.size, info.mtime = len(body), 1700000123
            tf.addfile(info, io.BytesIO(body))
    # a.txt header + data block, b.bin header, 100 bytes of its data
    cut = buf.getvalue()[: 3 * 512 + 100] + b"\xff" * 200
    df = spark.createDataFrame([(7, cut)], "archive_id long, content binary")
    got = sorted(map(tuple, sources.tar_members(df).collect()), key=repr)
    assert got == [
        (7, "a.txt", 9, "file", 1700000123,
         hashlib.md5(b"hello tar").hexdigest(), True),
        (7, None, None, None, None, None, False),
    ]


def test_warc_records_dead_letter_has_full_width_with_both_flags(spark):
    df = spark.createDataFrame(
        [(3, b"not a warc"), (4, None)], "archive_id long, content binary"
    )
    out = sources.warc_records(df, include_body=True, include_payload=True)
    cols = out.columns
    assert len(cols) == 24 and cols[0] == "archive_id"
    assert cols[-4:] == ["http_body", "http_body_ok", "payload", "parse_ok"]
    rows = sorted(out.collect(), key=lambda r: r["archive_id"])
    assert [r["archive_id"] for r in rows] == [3, 4]
    for r in rows:
        assert r["parse_ok"] is False
        assert all(r[c] is None for c in cols if c not in ("archive_id", "parse_ok"))


# map_batches fusion: a composed chain must hand its second function the
# frames a JVM hop would, so each case runs fused and behind a
# localCheckpoint barrier (two real stages) and must agree, dtypes included.
_GEN_SCHEMA = (
    "k long, n long, s string, b binary, d decimal(10,2), ts timestamp,"
    " st struct<x: int, y: string>"
)


def _stage_fns(drop: str | None = None):
    """(generator, describer) for mapInPandas; nested so that they pickle
    by value (workers cannot import this test module). The generator
    emits every column of _GEN_SCHEMA but ``drop``; the describer emits
    one row per input row, its key and the repr of what it saw: column
    dtypes and values."""

    def gen(batches):
        import datetime

        import pandas as pd

        t0 = datetime.datetime(2024, 6, 1, 12, 0)
        for pdf in batches:
            ks = [int(k) for k in pdf["id"]]
            out = pd.DataFrame(
                {
                    "k": ks,
                    "n": [None if k % 3 == 0 else k * 10 for k in ks],
                    "s": [f"s{k}" for k in ks],
                    "b": [bytes([k]) * 3 for k in ks],
                    "d": [None if k % 5 == 0 else Decimal(k) / 4 for k in ks],
                    "ts": [t0 + datetime.timedelta(minutes=37 * k) for k in ks],
                    "st": [{"x": k, "y": None if k % 2 else f"y{k}"} for k in ks],
                }
            )
            yield out if drop is None else out.drop(columns=drop)

    def describe(batches):
        import pandas as pd

        for pdf in batches:
            dtypes = ",".join(f"{c}:{t}" for c, t in pdf.dtypes.items())
            yield pd.DataFrame(
                {
                    "k": pdf["k"],
                    "seen": [f"{dtypes}|{row!r}" for row in pdf.itertuples(index=False)],
                }
            )

    return gen, describe


def _map_nodes(df) -> int:
    return df._jdf.queryExecution().executedPlan().toString().count("MapInPandas")


def _fused_and_barrier(spark, cols=None, drop=None):
    gen, describe = _stage_fns(drop)
    first = sources.map_batches(spark.range(0, 24, numPartitions=2), gen, _GEN_SCHEMA)
    barrier = first.localCheckpoint(eager=False)
    if cols is not None:
        first, barrier = first.select(*cols), barrier.select(*cols)
    out = "k long, seen string"
    return (
        sources.map_batches(first, describe, out),
        sources.map_batches(barrier, describe, out),
    )


def test_fused_stages_see_what_a_jvm_hop_delivers(spark):
    key = "spark.sql.session.timeZone"
    utc = spark.conf.get(key)
    spark.conf.set(key, "America/New_York")
    try:
        for cols in (None, ("st", "k", "n", "ts")):
            fused, barrier = _fused_and_barrier(spark, cols)
            assert _map_nodes(fused) == 1, cols
            got = sorted(map(tuple, fused.collect()))
            assert len(got) == 24
            assert got == sorted(map(tuple, barrier.collect())), cols
    finally:
        spark.conf.set(key, utc)
    # k = 0: a NULL long arrives as float64 NaN, a timestamp as a naive
    # datetime64 in the session timezone
    seen = got[0][1]
    assert "n:float64" in seen and "ts:datetime64[ns]" in seen, seen
    assert "n=nan" in seen and "2024-06-01 12:00:00" in seen, seen


def test_fused_stage_checks_result_columns_like_the_worker(spark):
    import pytest

    for df in _fused_and_barrier(spark, drop="s"):
        with pytest.raises(Exception, match="RESULT_COLUMN_NAMES_MISMATCH"):
            df.collect()


def test_media_gates_generate_and_decode_in_one_python_stage(spark, sf_dir):
    from data_engineering_assignment_spark.queries import load_catalog

    catalog = load_catalog()
    for name in ("png_decode_stats", "wav_audio_stats"):
        assert _map_nodes(catalog[name].build(spark, sf_dir)) == 1, name
