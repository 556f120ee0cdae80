"""Typed sources (SURVEY.md §2.1 S1-S6).

The reference's scans, generalized: parquet (S2-S4), binary files standing
in for the Databricks-only ``image`` format (S5 — decode happens in
``functions.colors`` / ``functions.multimodal`` UDFs) and schema-inferred
JSON Lines (S6).

Scale notes: explicit schemas avoid inference scans; binaryFile reads
parallelize per file and push ``pathGlobFilter`` down to the listing.
"""

from __future__ import annotations

import os
import stat
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def file_fingerprint(path: str) -> tuple | None:
    """Sorted ``(relative name, inode, size, mtime_ns)`` of every file under
    a local ``path`` (the path itself when it is a file), or None when
    nothing is there. Rewriting, adding or removing any file changes it."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (("", st.st_ino, st.st_size, st.st_mtime_ns),)
        entries = []
        for root, _, files in os.walk(path):
            for name in files:
                full = os.path.join(root, name)
                fst = os.stat(full)
                rel = os.path.relpath(full, path)
                entries.append((rel, fst.st_ino, fst.st_size, fst.st_mtime_ns))
        return tuple(sorted(entries))
    except OSError:  # vanished mid-walk: no stable version to name
        return None


# Confs that change the schema Spark infers from parquet footers; part of
# the schema memo key so flipping one re-infers.
_PARQUET_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)

# Inferred-schema memo. A plain ``spark.read.parquet`` starts one Spark job
# (footer merge) on every call, even for a single file; a reader handed the
# schema starts none. Holds schemas only — no DataFrame, listing or data;
# Spark still lists the files on every read. Keyed on (app id, path, file
# fingerprint, inference confs), so a rewritten file or a flipped conf
# re-infers.
_PARQUET_SCHEMA_MEMO: dict[tuple, StructType] = {}


def _schema_memo_key(spark: SparkSession, path: str) -> tuple | None:
    """Memo key for an absolute path on the local filesystem; None for
    anything else (remote filesystems, relative paths, globs), which infers
    on every read."""
    url = urlparse(path)
    sc = spark.sparkContext
    if url.scheme == "file":
        local = url.path
    elif url.scheme == "" and sc._jsc.hadoopConfiguration().get(
        "fs.defaultFS", "file:///"
    ).startswith("file:"):
        local = path
    else:
        return None
    if not os.path.isabs(local) or any(c in local for c in "*?[{"):
        return None
    fingerprint = file_fingerprint(local)
    if fingerprint is None:
        return None
    confs = tuple(spark.conf.get(k, None) for k in _PARQUET_INFERENCE_CONFS)
    return (sc.applicationId, path, fingerprint, confs)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """S2-S4: self-describing parquet scan (:134,907). The first read of a
    local file version infers its schema (one Spark job); later reads hand
    the memoized schema to the reader and start no job."""
    key = _schema_memo_key(spark, path)
    schema = _PARQUET_SCHEMA_MEMO.get(key) if key is not None else None
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    if key is not None:
        _PARQUET_SCHEMA_MEMO[key] = df.schema
    return df


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    corrupt_col: str | None = None,
) -> DataFrame:
    """S6: JSON Lines scan; schema optional (inference costs an extra pass,
    :711 — pass one in production).

    ``corrupt_col`` opts into quarantine-style ingestion: malformed lines
    land intact in that column (PERMISSIVE mode) instead of silently
    nulling out or failing the job — filter on it to split clean rows from
    a dead-letter stream. Requires an explicit ``schema`` (the column must
    be declared; with inference Spark would widen every field to string)."""
    reader = spark.read
    if corrupt_col is not None:
        if schema is None:
            raise ValueError("corrupt_col requires an explicit schema")
        from pyspark.sql.types import StringType, StructField

        schema = StructType(
            [*schema.fields, StructField(corrupt_col, StringType(), True)]
        )
        reader = reader.option("mode", "PERMISSIVE").option(
            "columnNameOfCorruptRecord", corrupt_col
        )
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_binary_files(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """S5 (portable image source): one row per file with (path,
    modificationTime, length, content). Decode via functions/ UDFs."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def read_images(spark: SparkSession, path: str) -> DataFrame:
    """S5, reference-exact surface (Assignment-python.py:710): Spark's native
    ``image`` source — one row per file with the ``image`` struct (origin,
    height, width, nChannels, mode, data), decoded JVM-side by Java ImageIO
    in OpenCV BGR(A) byte order. Parallelizes per file like binaryFile;
    files ImageIO cannot decode are dropped (``dropInvalid``).

    The binaryFile + own-codec path (:func:`read_binary_files` +
    functions/multimodal.decode_png) remains the production route — it
    handles formats ImageIO lacks, keeps bytes for non-image analytics, and
    its decode is cross-checked against THIS source in
    tests/test_sources.py — but the native format is available for
    reference-parity workloads."""
    return (
        spark.read.format("image")
        .option("dropInvalid", "true")
        .load(path)
    )


def warc_records(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "archive_id",
    include_body: bool = False,
    include_payload: bool = False,
) -> DataFrame:
    """Explode WARC crawl-archive binary columns into one row per record
    (functions/warc.py: plain or per-record-gzip .warc.gz) — the ingest
    shape of LLM training-data pipelines (Common Crawl ships WARC).
    Arrow-batched mapInPandas; archive bytes never leave the executor.
    Unparseable archives survive as one parse_ok = false row (dead-letter
    discipline), so corrupt crawl files are countable, never dropped.

    ``rec_offset``/``rec_length`` are the byte span a range request
    needs to fetch exactly this record from the archive (the CDX index
    contract: the record's own span in a plain WARC, the compressed
    gzip MEMBER's span in a .warc.gz — Common Crawl's convention).

    ``http_content_type`` is the HTTP response's OWN Content-Type header
    (first occurrence, RFC 9110 singleton; NULL for non-HTTP records or
    headerless responses) — distinct from ``content_type``, the WARC
    record's envelope type — and is what
    ``operators.crawl.document_extract`` dispatches on.
    ``http_location`` is the response's Location header verbatim
    (possibly a RELATIVE reference; NULL when absent) — with
    ``http_status`` it is the redirect-edge input to
    ``operators.crawl.resolve_redirects``.
    ``payload_digest`` is the md5 hex of the record's RAW payload bytes
    (the WARC-Payload-Digest role, md5 because both engines can replay
    it) — the content-change signal ``operators.crawl.cdx_snapshot_diff``
    keys recrawl deltas on; a metadata-sized column, so it rides along
    without ``include_body``. ``payload_digest_declared`` is the
    record's own WARC-Payload-Digest HEADER verbatim (NULL when absent)
    — on a revisit record it names the STORED copy's digest, the join
    key ``operators.crawl.resolve_revisits`` uses.

    ``record_id`` / ``concurrent_to`` are the WARC-Record-ID and
    WARC-Concurrent-To headers verbatim (ISO 28500 §5.4/§5.7: a
    'request' record names its 'response' twin's id in
    WARC-Concurrent-To) — the join keys
    ``operators.crawl.pair_requests`` uses to put request-side headers
    (``http_user_agent`` / ``http_referer``, parsed from
    msgtype=request HTTP heads) onto the response rows.

    ``segment_number`` / ``segment_origin_id`` / ``segment_total_length``
    are the ISO 28500 §5.18-5.20 record-segmentation headers (a record
    too large for one file writes segment 1 with its own Record-ID,
    then 'continuation' records naming it in WARC-Segment-Origin-ID,
    the last carrying WARC-Segment-Total-Length; junk numerics degrade
    to NULL) — the inputs to
    ``operators.crawl.reassemble_segments``. ``include_payload=True``
    adds ``payload``: the record's RAW payload bytes (what continuation
    records carry — they are not HTTP messages, so ``http_body`` never
    has them); opt-in for the same reason as ``include_body``.

    ``include_body=True`` adds ``http_body`` (the HTTP message body of
    ``application/http`` response records, NULL elsewhere — the input
    to ``operators.crawl.html_extract`` / ``document_extract``) and
    ``http_body_ok``: the body is DECODED per the response's own
    framing headers (chunked transfer undone, gzip/deflate
    content-encoding decompressed — functions.warc.decode_http_body);
    ``http_body_ok = false`` means an unsupported coding (br/zstd) or a
    decode failure and the column carries the RAW bytes, a countable
    dead-letter. Opt-in because metadata-only scans shouldn't ship page
    bytes through the rest of the plan. The opt-in columns sit between
    ``rec_length`` and ``parse_ok``, which is always last (the
    :func:`_binary_meta_source` layout)."""
    import hashlib

    from ..functions.warc import parse_warc

    def _int_or_none(v):
        # junk numeric headers degrade to NULL, never crash the record
        try:
            return int(v) if v is not None else None
        except ValueError:
            return None

    tail = (
        "rec_idx int, warc_type string, target_uri string,"
        " content_type string, http_status int, http_content_type string,"
        " http_location string, record_id string, concurrent_to string,"
        " http_user_agent string, http_referer string,"
        " segment_number int, segment_origin_id string,"
        " segment_total_length long, payload_len long,"
        " payload_digest string, payload_digest_declared string,"
        " rec_offset long, rec_length long"
    )
    if include_body:
        tail += ", http_body binary, http_body_ok boolean"
    if include_payload:
        tail += ", payload binary"

    def rows_fn(recs):
        for i, r in enumerate(recs):
            h = r["headers"]
            row = (
                i,
                h.get("WARC-Type"),
                h.get("WARC-Target-URI"),
                h.get("Content-Type"),
                r.get("http_status"),
                r.get("http_content_type"),
                r.get("http_location"),
                h.get("WARC-Record-ID"),
                h.get("WARC-Concurrent-To"),
                r.get("http_user_agent"),
                r.get("http_referer"),
                _int_or_none(h.get("WARC-Segment-Number")),
                h.get("WARC-Segment-Origin-ID"),
                _int_or_none(h.get("WARC-Segment-Total-Length")),
                len(r["payload"]),
                hashlib.md5(r["payload"]).hexdigest(),
                h.get("WARC-Payload-Digest"),
                r["rec_offset"],
                r["rec_length"],
            )
            if include_body:
                row += (r.get("http_body"), r.get("http_body_ok"))
            if include_payload:
                row += (r["payload"],)
            yield row

    return _binary_meta_source(df, content_col, id_col, parse_warc, tail, rows_fn)


def tar_members(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Explode TAR archive binary columns into one row per member — the
    other container crawl dumps and dataset drops ship in beside ZIPs
    and WARCs (plain tar and tar.gz/bz2/xz, compression sniffed by
    stdlib ``tarfile`` ``r:*``). Regular files are READ and carry an
    md5 ``content_digest`` (the payload_digest discipline — both
    engines can replay md5, and reading verifies the member actually
    decodes); symlinks/hardlinks surface as kind rows with NULL digest;
    directory entries are skipped like zip_members. Unreadable archives
    survive as one parse_ok = false row (countable dead-letter)."""
    import hashlib
    import io
    import tarfile

    def rows_fn(tf):
        # a generator, so members read before a corrupt tail keep their
        # rows ahead of the archive's dead-letter row
        with tf:
            for info in tf:
                if info.isdir():
                    continue
                if info.isreg():
                    kind = "file"
                    fh = tf.extractfile(info)
                    digest = hashlib.md5(fh.read()).hexdigest()
                else:
                    kind = (
                        "sym"
                        if info.issym()
                        else "hard"
                        if info.islnk()
                        else "special"
                    )
                    digest = None
                yield info.name, int(info.size), kind, int(info.mtime), digest

    return _binary_meta_source(
        df, content_col, "archive_id",
        lambda b: tarfile.open(fileobj=io.BytesIO(b), mode="r:*"),
        "member string, size long, kind string, mtime long,"
        " content_digest string",
        rows_fn,
    )


def schema_field_names(schema: str) -> list[str]:
    """Field names of a DDL schema string, split on TOP-LEVEL commas only:
    decimal(p,s) / struct<...> / map<...> field types legally contain
    commas, and a naive split would mis-derive the names (and any width
    derived from them) and fail only at executor runtime."""
    fields, depth, start = [], 0, 0
    for i, ch in enumerate(schema):
        if ch in "(<":
            depth += 1
        elif ch in ")>":
            depth -= 1
        elif ch == "," and depth == 0:
            fields.append(schema[start:i])
            start = i + 1
    fields.append(schema[start:])
    return [f.strip().split()[0] for f in fields]


# map_batches outputs by the expression id of their first output column, so
# that a later map_batches over one of them, or over a column-only select of
# one, finds the stage it extends. Only the newest _MAP_STAGES_KEPT are
# kept (a query build makes a handful): the entry must outlive its frame,
# whose select may be all the caller still holds, but a long-lived process
# must not grow without bound.
_MAP_STAGES: dict[int, tuple] = {}
_MAP_STAGES_KEPT = 256


def _stage_key(plan) -> int | None:
    """Registry key of an analyzed MapInPandas plan node; None for any
    other node."""
    if plan.nodeName() != "MapInPandas":
        return None
    return plan.output().head().exprId().id()


def _upstream_stage(df: DataFrame):
    """``((input, fn, output), cols)`` when ``df`` is a :func:`map_batches`
    output (``cols`` None) or a column-only selection of one (``cols`` the
    selected column names in order); None otherwise."""
    plan = df._jdf.queryExecution().analyzed()
    cols = None
    if plan.nodeName() == "Project":
        exprs = plan.projectList()
        items = [exprs.apply(i) for i in range(exprs.size())]
        if any(e.getClass().getSimpleName() != "AttributeReference" for e in items):
            return None
        cols = [e.name() for e in items]
        plan = plan.child()
    key = _stage_key(plan)
    stage = None if key is None else _MAP_STAGES.get(key)
    return None if stage is None else (stage, cols)


def _runner_conf(spark: SparkSession) -> dict[str, str]:
    """The conf map the JVM hands every Arrow Python runner (session
    timezone, Arrow safe-check, column assignment by name, ...)."""
    jvm = spark._jvm
    conf = jvm.org.apache.spark.sql.execution.python.ArrowPythonRunner.getPythonRunnerConfMap(
        spark._jsparkSession.sessionState().conf()
    )
    return dict(jvm.scala.jdk.javaapi.CollectionConverters.asJava(conf))


def _fuse(first, first_type: StructType, cols, second, runner_conf: dict[str, str]):
    """One mapInPandas function running ``first`` then ``second``. Each
    frame ``first`` yields takes the path the JVM hop between two stages
    would give it: the worker's result check (columns matched by name)
    and pandas→Arrow conversion for ``first_type``, the column-only
    selection ``cols``, and the worker's Arrow→pandas conversion, under
    the same runner conf. So ``second`` sees the values and dtypes it
    would see behind the hop (a nullable long arrives as float64 with
    NaN); empty frames are dropped, as the JVM sends no empty batch."""

    def fused(batches):
        import pyarrow as pa
        from pyspark.sql.pandas.serializers import ArrowStreamPandasUDFSerializer
        from pyspark.worker import assign_cols_by_name, wrap_pandas_batch_iter_udf

        # as pyspark.worker.read_udfs builds it for SQL_MAP_PANDAS_ITER_UDF
        ser = ArrowStreamPandasUDFSerializer(
            runner_conf.get("spark.sql.session.timeZone"),
            runner_conf.get(
                "spark.sql.execution.pandas.convertToArrowArraySafely", "false"
            ).lower() == "true",
            assign_cols_by_name(runner_conf),
            df_for_struct=True,
            struct_in_pandas="dict",
            ndarray_as_list=False,
            arrow_cast=True,
            int_to_decimal_coercion_enabled=runner_conf.get(
                "spark.sql.execution.pythonUDF.pandas.intToDecimalCoercionEnabled", "false"
            ).lower() == "true",
        )

        def hop():
            wrapped = wrap_pandas_batch_iter_udf(first, first_type, runner_conf)
            for result in wrapped(batches):
                column = ser._create_batch(result).column(0)
                if not len(column):
                    continue
                if cols is not None:
                    column = pa.StructArray.from_arrays(
                        [column.field(c) for c in cols], names=cols
                    )
                yield ser.arrow_to_pandas(column, 0)

        return second(hop())

    return fused


def map_batches(df: DataFrame, fn, schema) -> DataFrame:
    """``df.mapInPandas(fn, schema)``, the one way the package runs a
    Python map stage. When ``df`` is the output of another map_batches
    call, or a column-only ``select`` of one, the two functions are
    composed (:func:`_fuse`) and run as ONE mapInPandas over the first
    stage's input: one Python worker and one JVM↔Arrow round trip per
    task instead of one per stage. Anything else between the stages (a
    Filter, join, aggregate, exchange, localCheckpoint, a computed or
    renamed column) leaves them separate. The second function sees the
    first one's frames as they were yielded, not re-chunked to
    ``spark.sql.execution.arrow.maxRecordsPerBatch``; the runner conf is
    read when the stage is built."""
    upstream = _upstream_stage(df)
    if upstream is not None:
        (src, first, first_out), cols = upstream
        fn = _fuse(first, first_out.schema, cols, fn, _runner_conf(df.sparkSession))
        df = src
    out = df.mapInPandas(fn, schema)
    _MAP_STAGES[_stage_key(out._jdf.queryExecution().analyzed())] = (df, fn, out)
    while len(_MAP_STAGES) > _MAP_STAGES_KEPT:
        del _MAP_STAGES[next(iter(_MAP_STAGES))]
    return out


def _binary_meta_source(
    df: DataFrame,
    content_col: str,
    id_col: str,
    parse,
    schema_tail: str,
    rows_fn,
) -> DataFrame:
    """Shared skeleton for every per-file parser (the container-metadata
    and archive sources here, the media fingerprints, the sitemap/feed
    explodes, audio features): Arrow-batched mapInPandas over
    ``(id_col, content_col)`` only, zero shuffle, one ``parse(bytes)``
    per file, ``rows_fn(parsed)`` yielding the value tuples (one per
    output row, WITHOUT id/parse_ok — most sources emit exactly one;
    explode sources like mp4_tracks emit one per track). Any exception
    — truncation ValueErrors from the bounded walks, junk bytes, NULL
    content, guarded-profile NotImplementedErrors — survives as ONE
    all-None ``parse_ok = false`` row: the countable dead-letter
    contract every codec gate aggregates on. Rows ``rows_fn`` yielded
    before the exception are kept (an archive's readable members
    precede its dead-letter row).

    The id column keeps its input type and values (NULL included).
    ``content_col`` must be binary — a TypeError at build time, not a
    per-row dead-letter at run time. ``schema_tail`` is the scalar
    column list between the id and parse_ok (``"width int, height
    int"``); the dead-letter row width and the pandas column names are
    derived from it (:func:`schema_field_names`), so a source can never
    hand-count its Nones wrong."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.types import BinaryType

    content_type = df.schema[content_col].dataType
    if not isinstance(content_type, BinaryType):
        raise TypeError(
            f"content column {content_col!r} must be binary, got"
            f" {content_type.simpleString()}"
        )
    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"{id_col} {id_type}, {schema_tail}, parse_ok boolean"
    names = schema_field_names(schema)
    n_vals = len(names) - 2  # between id and parse_ok

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, content in zip(pdf[id_col], pdf[content_col]):
                try:
                    for vals in rows_fn(parse(bytes(content))):
                        rows.append((aid, *vals, True))
                except Exception:
                    rows.append((aid,) + (None,) * n_vals + (False,))
            yield pd.DataFrame(rows, columns=names)

    return map_batches(df.select(id_col, content_col), mapper, schema)


def mp3_meta(df: DataFrame) -> DataFrame:
    """MP3 metadata, one row per file (``functions.mp3.parse_mp3``:
    ID3v2.3/2.4 + trailing ID3v1 tag walks, MPEG-1 Layer III frame
    census with exact integer duration; audio decode stays guarded).
    Output: id3_version, title, artist, album, n_frames, sample_rate,
    bitrate_kbps, cbr, duration_ms, parse_ok; junk and guarded
    profiles survive as one parse_ok = false row."""
    from ..functions.mp3 import parse_mp3

    keys = ("id3_version", "title", "artist", "album", "n_frames",
            "sample_rate", "bitrate_kbps", "cbr", "duration_ms")
    return _binary_meta_source(
        df, "content", "archive_id", parse_mp3,
        "id3_version string, title string, artist string,"
        " album string, n_frames long, sample_rate int,"
        " bitrate_kbps int, cbr boolean, duration_ms long",
        lambda r: [tuple(r[k] for k in keys)],
    )


def webp_meta(df: DataFrame) -> DataFrame:
    """WebP container metadata, one row per file
    (``functions.webp.parse_webp``: RIFF walk, VP8/VP8L bitstream
    headers, the VP8X extended profile with ANIM/ANMF animation frames
    and exact integer duration sums; pixel decode stays guarded).
    Output: format, width, height, has_alpha, is_animated, n_frames,
    duration_ms, has_exif, has_icc, parse_ok; junk survives as one
    parse_ok = false row."""
    from ..functions.webp import parse_webp

    keys = ("format", "width", "height", "has_alpha", "is_animated",
            "n_frames", "duration_ms", "has_exif", "has_icc")
    return _binary_meta_source(
        df, "content", "archive_id", parse_webp,
        "format string, width int, height int, has_alpha boolean,"
        " is_animated boolean, n_frames int, duration_ms long,"
        " has_exif boolean, has_icc boolean",
        lambda r: [tuple(r[k] for k in keys)],
    )


def bmff_image_meta(df: DataFrame) -> DataFrame:
    """AVIF/HEIC image-container metadata, one row per file
    (``functions.mp4.parse_bmff_image``: ISO/IEC 23008-12 item
    structure — pitm -> ipma -> ispe so auxiliary/thumbnail items
    can't shadow the primary image's dims; AV1/HEVC item decode stays
    guarded). Output: major_brand, primary_item, n_items, codec,
    width, height, has_exif, parse_ok; junk survives as one
    parse_ok = false row."""
    from ..functions.mp4 import parse_bmff_image

    keys = ("major_brand", "primary_item", "n_items", "codec",
            "width", "height", "has_exif")
    return _binary_meta_source(
        df, "content", "archive_id", parse_bmff_image,
        "major_brand string, primary_item long, n_items int,"
        " codec string, width long, height long, has_exif boolean",
        lambda r: [tuple(r[k] for k in keys)],
    )


def mp4_tracks(df: DataFrame) -> DataFrame:
    """Explode MP4/ISO-BMFF binary columns into one row per TRACK —
    container metadata for the dominant web video format, without any
    sample decode (``functions.mp4.parse_mp4``: box walk, mvhd/tkhd/
    mdhd v0+v1, hdlr classification, stsd codec fourcc, stts sample
    counts; H.264/AAC bitstream decode stays guarded per the codec-gate
    discipline). Output per track: major_brand, movie_duration_ms,
    n_tracks, n_fragments (top-level moof count — the fMP4/CMAF
    streaming profile), track_id, kind ('video'/'audio'/raw fourcc),
    codec, width, height, n_samples (moov sample tables),
    duration_ms (exact integer floor divisions of the timescale
    pairs), fragment_samples (trun sample-count sum for this track
    across all fragments) — plus parse_ok. Unparseable bytes survive
    as ONE parse_ok = false row (the countable dead-letter contract).
    A parseable file with no tracks keeps its movie-level fields on a
    single track-less parse_ok = true row."""
    from ..functions.mp4 import parse_mp4

    def rows_fn(r):
        movie = (r["major_brand"], r["movie_duration_ms"], r["n_tracks"],
                 r["n_fragments"])
        if not r["tracks"]:
            return [(*movie[:2], 0, movie[3],
                     None, None, None, None, None, None, None, None)]
        return [
            (*movie, t["track_id"], t["kind"], t["codec"], t["width"],
             t["height"], t["n_samples"], t["duration_ms"],
             t["fragment_samples"])
            for t in r["tracks"]
        ]

    return _binary_meta_source(
        df, "content", "archive_id", parse_mp4,
        "major_brand string, movie_duration_ms long, n_tracks int,"
        " n_fragments int, track_id long, kind string, codec string,"
        " width int, height int, n_samples long, duration_ms long,"
        " fragment_samples long",
        rows_fn,
    )


def svg_meta(df: DataFrame) -> DataFrame:
    """SVG metadata, one row per file (``functions.svg.parse_svg``:
    intrinsic pixel size with the attribute→viewBox fallback ladder,
    declared units, viewBox extent, element count, script presence,
    title; rendering stays out of scope). Output: width, height,
    width_unit, height_unit, vb_width, vb_height, n_elements,
    has_script, title, parse_ok; junk, non-svg XML and malformed
    lengths survive as one parse_ok = false row."""
    from ..functions.svg import parse_svg

    keys = ("width", "height", "width_unit", "height_unit",
            "vb_width", "vb_height", "n_elements", "has_script", "title")
    return _binary_meta_source(
        df, "content", "archive_id", parse_svg,
        "width double, height double, width_unit string,"
        " height_unit string, vb_width double, vb_height double,"
        " n_elements int, has_script boolean, title string",
        lambda r: [tuple(r[k] for k in keys)],
    )


def flac_meta(df: DataFrame) -> DataFrame:
    """FLAC metadata, one row per file (``functions.flac.parse_flac``:
    STREAMINFO packed fields with exact integer duration,
    VORBIS_COMMENT tags, PICTURE presence, block census; audio decode
    stays guarded). Output: sample_rate, channels, bits_per_sample,
    total_samples, duration_ms, title, artist, album, n_blocks,
    has_picture, parse_ok; junk survives as one parse_ok = false row."""
    from ..functions.flac import parse_flac

    keys = ("sample_rate", "channels", "bits_per_sample",
            "total_samples", "duration_ms", "title", "artist", "album",
            "n_blocks", "has_picture")
    return _binary_meta_source(
        df, "content", "archive_id", parse_flac,
        "sample_rate int, channels int, bits_per_sample int,"
        " total_samples long, duration_ms long, title string,"
        " artist string, album string, n_blocks int,"
        " has_picture boolean",
        lambda r: [tuple(r[k] for k in keys)],
    )


def ogg_meta(df: DataFrame) -> DataFrame:
    """Ogg container metadata, one row per file
    (``functions.ogg.parse_ogg``: page walk, BOS stream census,
    Vorbis/Opus/Theora identification headers, exact integer duration
    from the primary stream's last granule — Opus on the always-48kHz
    output timeline minus pre-skip; codec decode stays guarded).
    Output: n_pages, n_streams, codec, sample_rate, channels,
    duration_ms, pre_skip, parse_ok; junk survives as one
    parse_ok = false row."""
    from ..functions.ogg import parse_ogg

    keys = ("n_pages", "n_streams", "codec", "sample_rate", "channels",
            "duration_ms", "pre_skip")
    return _binary_meta_source(
        df, "content", "archive_id", parse_ogg,
        "n_pages int, n_streams int, codec string, sample_rate int,"
        " channels int, duration_ms long, pre_skip int",
        lambda r: [tuple(r[k] for k in keys)],
    )


def subtitle_cues(df: DataFrame) -> DataFrame:
    """Explode subtitle files (SRT / WebVTT, sniffed by the WEBVTT
    header — ``functions.subtitles.parse_subtitles``) into one row per
    CUE: kind, cue_id (SRT number / VTT identifier, as string),
    start_ms, end_ms (exact integer milliseconds), text, parse_ok.
    A cue-less but valid file keeps one (kind, NULL-cue) census row;
    junk/undecodable bytes survive as one parse_ok = false row."""
    from ..functions.subtitles import parse_subtitles

    def rows_fn(r):
        if not r["cues"]:
            return [(r["kind"], None, None, None, None)]
        return [
            (
                r["kind"],
                None if c["idx"] is None else str(c["idx"]),
                c["start_ms"],
                c["end_ms"],
                c["text"],
            )
            for c in r["cues"]
        ]

    return _binary_meta_source(
        df, "content", "archive_id", parse_subtitles,
        "kind string, cue_id string, start_ms long, end_ms long,"
        " text string",
        rows_fn,
    )


def hls_meta(df: DataFrame) -> DataFrame:
    """HLS playlist metadata, one row per file
    (``functions.hls.parse_m3u8``): master playlists report the
    variant census (count, max bandwidth, the max-bandwidth variant's
    resolution), media playlists the segment census (count, exact
    integer total duration, target duration, VOD-vs-live endlist).
    Output: kind, n_variants, max_bandwidth, best_width, best_height,
    n_segments, total_duration_ms, target_duration_s, endlist,
    version, parse_ok; junk survives as one parse_ok = false row."""
    from ..functions.hls import parse_m3u8

    def rows_fn(r):
        if r["kind"] == "master":
            best = max(r["variants"], key=lambda v: v["bandwidth"])
            return [(
                "master", r["n_variants"], best["bandwidth"],
                best["width"], best["height"],
                None, None, None, None, r["version"],
            )]
        return [(
            "media", None, None, None, None,
            r["n_segments"], r["total_duration_ms"],
            r["target_duration_s"], r["endlist"], r["version"],
        )]

    return _binary_meta_source(
        df, "content", "archive_id", parse_m3u8,
        "kind string, n_variants int, max_bandwidth long,"
        " best_width int, best_height int, n_segments int,"
        " total_duration_ms long, target_duration_s int,"
        " endlist boolean, version int",
        rows_fn,
    )


def eml_messages(df: DataFrame) -> DataFrame:
    """E-mail metadata + first-text-body extraction, one row per
    message (``functions.mime.parse_eml``: RFC 5322 headers with
    encoded-words decoded, MIME part walk, attachment census).
    Output: from_addr, subject, n_recipients, n_parts, max_depth,
    text (first text/plain leaf, charset-decoded), has_html,
    n_attachments, att_bytes (decoded attachment byte sum), parse_ok;
    junk survives as one parse_ok = false row."""
    from ..functions.mime import parse_eml

    def rows_fn(r):
        return [(
            r["from_addr"], r["subject"], len(r["to_addrs"]),
            r["n_parts"], r["max_depth"], r["text"], r["has_html"],
            r["n_attachments"],
            sum(
                p["size_decoded"] for p in r["parts"]
                if p["is_attachment"]
            ),
        )]

    return _binary_meta_source(
        df, "content", "archive_id", parse_eml,
        "from_addr string, subject string, n_recipients int,"
        " n_parts int, max_depth int, text string, has_html boolean,"
        " n_attachments int, att_bytes long",
        rows_fn,
    )


def png_text_meta(df: DataFrame) -> DataFrame:
    """PNG ancillary-chunk metadata, one row per file
    (``functions.pngmeta.parse_png_meta``: tEXt/zTXt/iTXt census,
    eXIf presence, tIME stamp, pHYs dpi; chunk CRCs verified).
    Output: width, height, bit_depth, color_type, n_texts,
    text_chars (decoded text length sum), has_exif, exif_bytes,
    time, dpi_x, dpi_y, parse_ok; junk and CRC-corrupt files survive
    as one parse_ok = false row."""
    from ..functions.pngmeta import parse_png_meta

    def rows_fn(r):
        return [(
            r["width"], r["height"], r["bit_depth"], r["color_type"],
            len(r["texts"]),
            sum(len(t) for _, t in r["texts"]),
            r["has_exif"], r["exif_bytes"], r["time"],
            r["dpi_x"], r["dpi_y"],
        )]

    return _binary_meta_source(
        df, "content", "archive_id", parse_png_meta,
        "width long, height long, bit_depth int, color_type int,"
        " n_texts int, text_chars long, has_exif boolean,"
        " exif_bytes int, time string, dpi_x int, dpi_y int",
        rows_fn,
    )


def ics_events(df: DataFrame) -> DataFrame:
    """Explode iCalendar files (``functions.ics.parse_ics``) into one
    row per VEVENT, calendar-level counts repeated on each row:
    n_events, n_todos, uid, summary (escapes decoded), duration_s
    (exact integer — DURATION property or a bare DATE-TIME
    DTSTART/DTEND pair; never timezone guessing), recurring,
    n_attendees, all_day, parse_ok. An event-less but valid calendar
    keeps one census row; junk survives as one parse_ok = false row."""
    from ..functions.ics import parse_ics

    def rows_fn(r):
        if not r["events"]:
            return [(r["n_events"], r["n_todos"], None, None, None,
                     None, None, None)]
        return [
            (
                r["n_events"], r["n_todos"], e["uid"], e["summary"],
                e["duration_s"], e["recurring"], e["n_attendees"],
                e["all_day"],
            )
            for e in r["events"]
        ]

    return _binary_meta_source(
        df, "content", "archive_id", parse_ics,
        "n_events int, n_todos int, uid string, summary string,"
        " duration_s long, recurring boolean, n_attendees int,"
        " all_day boolean",
        rows_fn,
    )


def zip_members(df: DataFrame, id_col: str = "archive_id") -> DataFrame:
    """Explode ZIP archive binary columns into one row per member —
    crawl dumps and dataset drops ship as ZIPs next to WARCs. Stdlib
    ``zipfile`` over an in-memory buffer (stored + deflate members),
    Arrow-batched mapInPandas; each member is READ so its CRC is
    actually verified (``crc_ok``), not just walked. Unreadable
    archives survive as one parse_ok = false row; a bad member flips
    only its own crc_ok (both dead-letter levels countable)."""
    import io
    import zipfile

    methods = {zipfile.ZIP_STORED: "stored", zipfile.ZIP_DEFLATED: "deflate"}

    def rows_fn(zf):
        with zf:
            for info in zf.infolist():
                if info.is_dir():
                    continue
                try:
                    # Read by ZipInfo, not name: duplicate member names
                    # are legal in ZIP, and a name lookup resolves to the
                    # FIRST match — by-object read verifies THIS member's
                    # CRC.
                    zf.read(info)
                    crc_ok = True
                except Exception:
                    crc_ok = False
                yield (
                    info.filename,
                    info.file_size,
                    info.compress_size,
                    methods.get(info.compress_type, str(info.compress_type)),
                    crc_ok,
                )

    return _binary_meta_source(
        df, "content", id_col, lambda b: zipfile.ZipFile(io.BytesIO(b)),
        "member string, size_uncompressed long, size_compressed long,"
        " method string, crc_ok boolean",
        rows_fn,
    )
