"""Paginated REST source (S1) and multimodal plumbing tests."""

from __future__ import annotations

from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators import (
    multimodal as M,
)
from cloud_based_bi_etl_automation_for_real_estate_company_spark.sources.rest import (
    fetch_paginated,
)
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

SCHEMA = StructType(
    [StructField("id", LongType()), StructField("name", StringType())]
)

TOTAL = 257  # deliberately not a multiple of the page size


def _make_fetcher(total: int):
    """Synthetic API factory: ``total`` records, honors limit/offset,
    optional source-side predicate (S2) via params. Returned as a
    closure so cloudpickle ships it by value — executors cannot import
    this test module by name."""

    def fetch(limit: int, offset: int, params: dict) -> list[dict]:
        lo = params.get("min_id", 0)
        return [
            {"id": i, "name": f"lead-{i}"}
            for i in range(offset, min(offset + limit, total))
            if i >= lo
        ]

    return fetch


def test_paginated_fetch_all_pages(spark):
    df = fetch_paginated(
        spark, _make_fetcher(TOTAL), SCHEMA, total_hint=TOTAL, page_size=50,
        pages_per_task=2,
    )
    rows = df.collect()
    assert len(rows) == TOTAL
    assert {r["id"] for r in rows} == set(range(TOTAL))


def test_paginated_fetch_predicate_pushdown(spark):
    df = fetch_paginated(
        spark, _make_fetcher(TOTAL), SCHEMA, total_hint=TOTAL, page_size=50,
        pages_per_task=2, params={"min_id": 200},
    )
    assert df.count() == TOTAL - 200


def test_multimodal_decode_metadata(spark):
    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "spark")], "doc_id bigint, text string"
    )
    blobs = docs.withColumn("blob", F.encode("text", "utf-8"))
    out = {r["doc_id"]: r for r in M.decode_metadata(blobs).collect()}
    assert out[1]["n_bytes"] == 11
    assert out[1]["width"] == 320 + 11 % 320
    assert out[1]["format"] == "unknown"
    assert out[2]["n_bytes"] == 5


def _png_bytes(w: int, h: int) -> bytes:
    import struct, zlib

    ihdr = struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00"
    chunk = struct.pack(">I", 13) + b"IHDR" + ihdr
    chunk += struct.pack(">I", zlib.crc32(b"IHDR" + ihdr))
    return b"\x89PNG\r\n\x1a\n" + chunk + b"\x00" * 16


def _jpeg_bytes(w: int, h: int) -> bytes:
    import struct

    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    sof0 = b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
    sof0 += struct.pack(">HH", h, w) + b"\x01\x11\x00"
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


def _gif_bytes(w: int, h: int) -> bytes:
    import struct

    return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00" * 8


def _bmp_bytes(w: int, h: int) -> bytes:
    import struct

    header = b"BM" + b"\x00" * 12 + struct.pack("<I", 40)  # BITMAPINFOHEADER
    return header + struct.pack("<ii", w, h) + b"\x00" * 8


def test_image_header_parse_pure_python():
    assert M.parse_image_header(_png_bytes(640, 480)) == (640, 480, "png")
    assert M.parse_image_header(_jpeg_bytes(1024, 768)) == (1024, 768, "jpeg")
    assert M.parse_image_header(_gif_bytes(12, 34)) == (12, 34, "gif")
    assert M.parse_image_header(_bmp_bytes(77, 88)) == (77, 88, "bmp")
    # BMP height may be negative (top-down rows) — dimensions are abs'd
    assert M.parse_image_header(_bmp_bytes(77, -88)) == (77, 88, "bmp")
    assert M.parse_image_header(b"plain text") is None
    assert M.parse_image_header(b"") is None
    # "BM"-prefixed TEXT must not be misread as a bitmap (weak magic
    # guarded by the DIB header-size check + dimension sanity)
    assert M.parse_image_header(b"BMW prices rose sharply this year!!") is None
    # Truncated containers must not crash or mis-report
    assert M.parse_image_header(_png_bytes(640, 480)[:12]) is None
    assert M.parse_image_header(b"\xff\xd8\xff") is None


def test_multimodal_decode_real_headers(spark):
    rows = [
        (1, _png_bytes(640, 480)),
        (2, _jpeg_bytes(320, 200)),
        (3, _gif_bytes(16, 9)),
        (4, b"not an image at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, blob binary")
    out = {r["doc_id"]: r for r in M.decode_metadata(df).collect()}
    assert (out[1]["width"], out[1]["height"], out[1]["format"]) == (640, 480, "png")
    assert (out[2]["width"], out[2]["height"], out[2]["format"]) == (320, 200, "jpeg")
    assert (out[3]["width"], out[3]["height"], out[3]["format"]) == (16, 9, "gif")
    assert out[4]["format"] == "unknown"
    assert out[4]["n_bytes"] == len(b"not an image at all")


def test_fetcher_retry_backoff():
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.sources.rest import (
        with_retries,
    )

    calls = {"n": 0}
    sleeps: list[float] = []

    def flaky(limit, offset, params):
        calls["n"] += 1
        if calls["n"] < 3:
            raise ConnectionError("transient")
        return [{"id": offset}]

    wrapped = with_retries(flaky, max_tries=3, backoff_s=0.5, sleep=sleeps.append)
    assert wrapped(1, 42, {}) == [{"id": 42}]
    assert calls["n"] == 3
    assert sleeps == [0.5, 1.0]  # exponential backoff, injectable clock

    def dead(limit, offset, params):
        raise ConnectionError("permanent")

    import pytest as _pytest

    with _pytest.raises(ConnectionError):
        with_retries(dead, max_tries=2, sleep=sleeps.append)(1, 0, {})


def test_mp4_header_parse_pure_python():
    """ISO-BMFF walk (round-9: the video leg completing the header
    trio): builder round-trip, 64-bit largesize, mvhd v1, audio-only
    m4a, and corrupt/truncated rejection — all hand-built bytes."""
    import struct as _s

    b = M.build_minimal_mp4(1280, 720, 3456, pad=9)
    assert len(b) == 317 + 9
    assert M.parse_video_header(b) == (1280, 720, 3456, 1, 0, "isom", 0)
    # audio-only container: parses, no dims, classified soun
    a = M.build_minimal_mp4(0, 0, 1200, track_kind=b"soun")
    assert M.parse_video_header(a) == (0, 0, 1200, 0, 1, "isom", 0)
    # 64-bit largesize on the mdat must not derail the walk
    big = M.build_minimal_mp4(320, 240, 100)
    largesize_mdat = (
        _s.pack(">I", 1) + b"mdat" + _s.pack(">Q", 16 + 4) + b"\x00" * 4
    )
    assert M.parse_video_header(big[:-8] + largesize_mdat)[:2] == (320, 240)
    # mvhd version 1 (64-bit times): duration still read correctly
    mvhd_v1 = (
        _s.pack(">I", 8 + 4 + 28) + b"mvhd" + b"\x01\x00\x00\x00"
        + _s.pack(">QQIQ", 0, 0, 1000, 7777)
    )
    moov = _s.pack(">I", 8 + len(mvhd_v1)) + b"moov" + mvhd_v1
    ftyp = _s.pack(">I", 16) + b"ftyp" + b"mp42" + _s.pack(">I", 0)
    assert M.parse_video_header(ftyp + moov) == (0, 0, 7777, 0, 0, "mp42", 0)
    # rejection: no ftyp magic / ftyp without moov / lying box size
    assert M.parse_video_header(b"\x89PNG\r\n\x1a\n" + b"\x00" * 24) is None
    assert M.parse_video_header(ftyp) is None
    lying = ftyp + _s.pack(">I", 10 ** 6) + b"moov"
    assert M.parse_video_header(lying) is None
    assert M.parse_video_header(b"") is None


def test_fmp4_header_parse_pure_python():
    """Round-10 fragmented-MP4 awareness: a moov-less styp+sidx+moof
    media segment parses with fragmented=1 and the sidx-summed
    duration (NOT None-as-corrupt); a fragmented MOVIE (moov + mvex +
    mehd, mvhd duration 0) reports mehd's fragment_duration; an
    unfragmented file keeps fragmented=0."""
    import struct as _s

    seg = M.build_minimal_fmp4(2500, pad=11)
    assert len(seg) == 108 + 11
    assert M.parse_video_header(seg) == (0, 0, 2500, 0, 0, "msdh", 1)
    # fragmented movie: mvhd duration 0, mvex/mehd carries the truth
    def box(btype, payload):
        return _s.pack(">I", 8 + len(payload)) + btype + payload

    ftyp = box(b"ftyp", b"isom" + _s.pack(">I", 0) + b"isom")
    mvhd = box(
        b"mvhd",
        b"\x00\x00\x00\x00" + _s.pack(">IIII", 0, 0, 600, 0)
        + b"\x00" * 80 + _s.pack(">I", 2),
    )
    mehd = box(b"mehd", b"\x00\x00\x00\x00" + _s.pack(">I", 1800))
    mvex = box(b"mvex", mehd)
    moov = box(b"moov", mvhd + mvex)
    got = M.parse_video_header(ftyp + moov)
    # 1800 ticks at timescale 600 → 3000 ms, fragmented flag set
    assert got == (0, 0, 3000, 0, 0, "isom", 1)
    # moof without sidx: fragmented recognized, duration honestly -1
    mfhd = box(b"mfhd", b"\x00" * 8)
    seg2 = box(b"styp", b"msdh" + _s.pack(">I", 0) + b"msdh") + box(
        b"moof", mfhd
    )
    assert M.parse_video_header(seg2) == (0, 0, -1, 0, 0, "msdh", 1)


def test_decode_video_metadata_mapinpandas(spark):
    rows = [
        (1, bytearray(M.build_minimal_mp4(640, 360, 2500, pad=3))),
        (2, bytearray(M.build_minimal_mp4(0, 0, 900, track_kind=b"soun"))),
        (3, bytearray(b"definitely not a video")),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, blob binary")
    out = {r["doc_id"]: r for r in M.decode_video_metadata(df).collect()}
    assert out[1]["format"] == "mp4"
    assert (out[1]["width"], out[1]["height"]) == (640, 360)
    assert out[1]["duration_ms"] == 2500
    assert out[1]["n_video_tracks"] == 1 and out[1]["n_audio_tracks"] == 0
    assert out[1]["brand"] == "isom"
    assert out[2]["format"] == "mp4"
    assert out[2]["n_audio_tracks"] == 1 and out[2]["width"] == 0
    assert out[3]["format"] == "unknown"
    assert out[3]["width"] is None and out[3]["duration_ms"] is None
    # decode_metadata (the image entry point) classifies mp4 too
    meta = {r["doc_id"]: r for r in M.decode_metadata(df).collect()}
    assert meta[1]["format"] == "mp4"
    assert (meta[1]["width"], meta[1]["height"]) == (640, 360)
