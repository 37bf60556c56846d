"""Multimodal (binary) column plumbing — image/audio/video as opaque
``binary`` columns with typed metadata, processed in Arrow batches via
``mapInPandas``.

The actual media decode is STUBBED (no image/audio libs in this
container): ``fake_decode_meta`` derives deterministic metadata from
the byte content so the Spark-side plumbing — schema, batch iteration,
partitioning — is real and testable, and the arithmetic is replayable
in a SQL oracle. Swap ``_decode_one`` for a real decoder (PIL/ffmpeg)
in production; the mapInPandas contract is unchanged.

Scale notes: binary payloads ride in Arrow record batches; keep
``spark.sql.execution.arrow.maxRecordsPerBatch`` sized so a batch of
blobs fits executor memory (e.g. 1k × 1 MB blobs = 1 GB — lower it for
media). Partitioning: repartition by a content-hash prefix before
decode to spread large blobs evenly.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

DECODE_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("format", StringType()),
    ]
)


def parse_image_header(blob: bytes) -> tuple[int, int, str] | None:
    """Pure-Python container-header parse — real width/height/format
    for PNG (IHDR), JPEG (SOFn scan), GIF (logical screen descriptor)
    and BMP (BITMAPINFOHEADER), no imaging library required. Returns
    None when the magic bytes match no known container."""
    import struct

    if len(blob) >= 24 and blob[:8] == b"\x89PNG\r\n\x1a\n":
        # 8-byte signature, 4-byte chunk length, b"IHDR", then
        # big-endian width/height.
        if blob[12:16] == b"IHDR":
            w, h = struct.unpack(">II", blob[16:24])
            return int(w), int(h), "png"
        return None
    if len(blob) >= 4 and blob[:2] == b"\xff\xd8":
        # JPEG: walk marker segments until a start-of-frame (SOFn)
        # carries the dimensions. Markers FF01/FFD0–D7 are standalone.
        i = 2
        while i + 4 <= len(blob):
            if blob[i] != 0xFF:
                i += 1
                continue
            marker = blob[i + 1]
            if marker == 0xFF:
                i += 1
                continue
            if marker == 0x01 or 0xD0 <= marker <= 0xD7:
                i += 2
                continue
            if i + 4 > len(blob):
                return None
            seg_len = struct.unpack(">H", blob[i + 2 : i + 4])[0]
            if marker in (0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                          0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
                if i + 9 > len(blob):
                    return None
                h, w = struct.unpack(">HH", blob[i + 5 : i + 9])
                return int(w), int(h), "jpeg"
            if marker == 0xD9 or seg_len < 2:  # EOI / corrupt
                return None
            i += 2 + seg_len
        return None
    if len(blob) >= 10 and blob[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", blob[6:10])
        return int(w), int(h), "gif"
    if len(blob) >= 26 and blob[:2] == b"BM":
        # "BM" alone is a weak magic (any text starting "BM..."
        # matches) — require a known DIB header size and sane positive
        # dimensions before claiming BMP
        # (BITMAPCOREHEADER dib=12 uses 16-bit dims — out of scope)
        dib = struct.unpack("<I", blob[14:18])[0]
        if dib not in (40, 52, 56, 64, 108, 124):
            return None
        w, h = struct.unpack("<ii", blob[18:26])
        if w <= 0 or h == 0 or w > 1 << 20 or abs(h) > 1 << 20:
            return None
        return int(w), abs(int(h)), "bmp"
    return None


def _decode_one(blob: bytes) -> tuple[int, int, int, str]:
    """Decode one payload's metadata: real container-header parse for
    recognized image formats, then ISO-BMFF video (presentation
    width/height from the tkhd walk — format 'mp4'); deterministic
    synthetic metadata (from byte length) for unrecognized bytes so
    non-media fixtures remain SQL-replayable in the oracle."""
    n = len(blob)
    parsed = parse_image_header(blob)
    if parsed is not None:
        width, height, fmt = parsed
        return n, width, height, fmt
    vid = parse_video_header(blob)
    if vid is not None:
        return n, vid[0], vid[1], "mp4-frag" if vid[6] else "mp4"
    return n, 320 + (n % 320), 240 + (n % 240), "unknown"


def decode_metadata(df: DataFrame, blob_col: str = "blob",
                    id_col: str = "doc_id") -> DataFrame:
    """Arrow-batched metadata extraction over a binary column. The
    input is spread across the cluster first when the scan
    under-partitions — decode is the per-row hot loop and must not run
    on a single core because the source was one big file."""
    from .partitioning import spread

    df = spread(df.select(id_col, blob_col), bytes_per_partition=8 << 20)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [_decode_one(b) for b in pdf[blob_col]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].values,
                    "n_bytes": [m[0] for m in metas],
                    "width": [m[1] for m in metas],
                    "height": [m[2] for m in metas],
                    "format": [m[3] for m in metas],
                }
            )

    return df.mapInPandas(run, DECODE_META_SCHEMA)


def with_media_blob(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    frag_mod: int | None = None,
) -> DataFrame:
    """Fixture blob builder with a REAL media slice: rows where
    ``doc_id % 5 == 0`` carry a valid minimal MP4 (built by
    ``build_minimal_mp4`` with doc_id-derived width/height/duration/
    pad, so every field is SQL-replayable arithmetic), the rest keep
    the utf-8 text stand-in. This is how x_multimodal_meta exercises
    the ISO-BMFF walk under the DuckDB oracle without media files in
    the container. ``frag_mod=r`` additionally makes ``doc_id % 5 ==
    r`` rows carry a fragmented-MP4 media segment (build_minimal_fmp4,
    doc_id-derived duration/pad) — x_video_meta passes 1 to pin the
    fMP4 detection path under the oracle."""
    from pyspark.sql.types import BinaryType

    @F.pandas_udf(BinaryType())
    def _build(ids: pd.Series, texts: pd.Series) -> pd.Series:
        out = []
        for i, txt in zip(ids, texts):
            i = int(i)
            if i % 5 == 0:
                out.append(
                    build_minimal_mp4(
                        16 * (1 + i % 64),
                        16 * (1 + i % 36),
                        500 + i % 4000,
                        pad=i % 256,
                    )
                )
            elif frag_mod is not None and i % 5 == frag_mod:
                out.append(
                    build_minimal_fmp4(1000 + i % 3000, pad=i % 128)
                )
            else:
                out.append(("" if txt is None else txt).encode("utf-8"))
        return pd.Series(out)

    return df.withColumn("blob", _build(F.col(id_col), F.col(text_col)))


VIDEO_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", LongType()),
        StructField("n_video_tracks", IntegerType()),
        StructField("n_audio_tracks", IntegerType()),
        StructField("brand", StringType()),
        StructField("format", StringType()),
    ]
)


def _walk_boxes(blob: bytes, start: int, end: int):
    """Yield (type, payload_start, box_end) for each ISO-BMFF box in
    blob[start:end] — the one traversal primitive the whole MP4 parse
    reuses (top level, moov, trak, mdia are all plain box sequences).
    Handles 64-bit largesize (size==1) and to-end-of-file (size==0)
    per ISO/IEC 14496-12 §4.2; stops, rather than raises, on a
    truncated or lying size so corrupt payloads degrade to None."""
    import struct

    i = start
    while i + 8 <= end:
        size = struct.unpack(">I", blob[i : i + 4])[0]
        btype = blob[i + 4 : i + 8]
        hdr = 8
        if size == 1:
            if i + 16 > end:
                return
            size = struct.unpack(">Q", blob[i + 8 : i + 16])[0]
            hdr = 16
        elif size == 0:
            size = end - i
        if size < hdr or i + size > end:
            return
        yield btype, i + hdr, i + size
        i += size


def parse_video_header(
    blob: bytes,
) -> tuple[int, int, int, int, int, str, int] | None:
    """Pure-Python ISO-BMFF (MP4/MOV/M4A) box walk — the video sibling
    of ``parse_image_header``, with no media library: sniff the ``ftyp``
    (or a media segment's ``styp``) box, then walk ``moov`` for
    ``mvhd`` (movie timescale + duration), each ``trak``'s ``tkhd``
    (16.16 fixed-point presentation width/height) and ``mdia``/
    ``hdlr`` (vide/soun track classification). Returns (width, height,
    duration_ms, n_video_tracks, n_audio_tracks, major_brand,
    fragmented) or None when the container doesn't parse; an
    audio-only ISO-BMFF (m4a) parses with width=height=0 and
    n_video_tracks=0 — format branching is the caller's call, same
    contract as the WAV walk.

    Fragmented MP4 (round-10): a container whose samples live in
    ``moof`` fragments — detected via ``mvex`` inside moov, or a
    moov-less ``styp``/``moof``/``sidx`` media segment — sets
    ``fragmented=1`` instead of parsing as corrupt, so a 100 TB video
    crawl can route fMP4 to a segment-aware path rather than silently
    bucketing it with garbage. Duration falls back through mvhd →
    mehd (fragment_duration, mvex) → sidx (sum of subsegment
    durations over the sidx timescale)."""
    import struct

    if len(blob) < 12 or blob[4:8] not in (b"ftyp", b"styp"):
        return None
    brand = blob[8:12].decode("ascii", errors="replace").strip()
    width = height = 0
    duration_ms = -1
    n_video = n_audio = 0
    saw_moov = False
    fragmented = False
    mvhd_ts = 0
    mehd_dur = -1
    sidx_ms = -1
    for btype, p, e in _walk_boxes(blob, 0, len(blob)):
        if btype == b"moof":
            fragmented = True
            continue
        if btype == b"sidx" and p + 4 <= e:
            fragmented = True
            ver = blob[p]
            body = p + 12  # past ver/flags + reference_ID
            if body <= e:
                ts = (
                    struct.unpack(">I", blob[p + 8 : p + 12])[0]
                    if p + 12 <= e
                    else 0
                )
                q = body + (8 if ver == 0 else 16)  # earliest + offset
                if ts and q + 4 <= e:
                    n_refs = struct.unpack(">H", blob[q + 2 : q + 4])[0]
                    q += 4
                    total = 0
                    for _ in range(n_refs):
                        if q + 12 > e:
                            break
                        total += struct.unpack(">I", blob[q + 4 : q + 8])[0]
                        q += 12
                    sidx_ms = total * 1000 // ts
            continue
        if btype != b"moov":
            continue
        saw_moov = True
        for t2, p2, e2 in _walk_boxes(blob, p, e):
            if t2 == b"mvex":
                fragmented = True
                for t3, p3, e3 in _walk_boxes(blob, p2, e2):
                    if t3 == b"mehd" and p3 + 4 <= e3:
                        if blob[p3] == 1 and p3 + 12 <= e3:
                            mehd_dur = struct.unpack(
                                ">Q", blob[p3 + 4 : p3 + 12]
                            )[0]
                        elif blob[p3] == 0 and p3 + 8 <= e3:
                            mehd_dur = struct.unpack(
                                ">I", blob[p3 + 4 : p3 + 8]
                            )[0]
            elif t2 == b"mvhd" and p2 + 4 <= e2:
                ver = blob[p2]
                if ver == 1 and p2 + 32 <= e2:
                    ts = struct.unpack(">I", blob[p2 + 20 : p2 + 24])[0]
                    dur = struct.unpack(">Q", blob[p2 + 24 : p2 + 32])[0]
                elif ver == 0 and p2 + 20 <= e2:
                    ts, dur = struct.unpack(
                        ">II", blob[p2 + 12 : p2 + 20]
                    )
                else:
                    continue
                if ts:
                    mvhd_ts = ts
                    duration_ms = dur * 1000 // ts
            elif t2 == b"trak":
                t_w = t_h = 0
                kind = None
                for t3, p3, e3 in _walk_boxes(blob, p2, e2):
                    if t3 == b"tkhd" and p3 + 4 <= e3:
                        off = p3 + (88 if blob[p3] == 1 else 76)
                        if off + 8 <= e3:
                            wfx, hfx = struct.unpack(
                                ">II", blob[off : off + 8]
                            )
                            t_w, t_h = wfx >> 16, hfx >> 16
                    elif t3 == b"mdia":
                        for t4, p4, e4 in _walk_boxes(blob, p3, e3):
                            if t4 == b"hdlr" and p4 + 12 <= e4:
                                kind = blob[p4 + 8 : p4 + 12]
                if kind == b"vide":
                    n_video += 1
                    width, height = max(width, t_w), max(height, t_h)
                elif kind == b"soun":
                    n_audio += 1
                elif kind is None and t_w and t_h:
                    # header-only trak without an hdlr: dimensioned ⇒
                    # treat as video (hand-trimmed fixtures)
                    n_video += 1
                    width, height = max(width, t_w), max(height, t_h)
    if not saw_moov and not fragmented:
        return None
    # fragmented duration fallback: a fragmented movie's mvhd duration
    # is typically 0 (samples live in moof boxes) — prefer mehd's
    # fragment_duration, then the sidx subsegment sum
    if fragmented and duration_ms <= 0:
        if mehd_dur >= 0 and mvhd_ts:
            duration_ms = mehd_dur * 1000 // mvhd_ts
        elif sidx_ms >= 0:
            duration_ms = sidx_ms
    return (
        int(width),
        int(height),
        int(duration_ms),
        int(n_video),
        int(n_audio),
        brand,
        int(fragmented),
    )


def build_minimal_mp4(
    width: int,
    height: int,
    duration_ms: int,
    pad: int = 0,
    track_kind: bytes = b"vide",
) -> bytes:
    """Deterministic minimal-but-valid ISO-BMFF builder, used by tests
    and the mp4 fixture rows of x_multimodal_meta (no media libs in this
    container, so fixtures are built, not decoded). Fixed layout:
    ftyp(20) + moov(8 + mvhd(108) + trak(8 + tkhd(92) + mdia(8 +
    mdhd(32) + hdlr(33)))) + mdat(8 + pad) = 317 + pad bytes — the
    literal the SQL oracle replays for n_bytes. mvhd timescale is
    1000, so the duration field IS duration_ms."""
    import struct

    def box(btype: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + btype + payload

    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isom")
    mvhd = box(
        b"mvhd",
        b"\x00\x00\x00\x00"  # version 0 + flags
        + struct.pack(">IIII", 0, 0, 1000, duration_ms)
        + struct.pack(">I", 0x00010000)  # rate 1.0
        + struct.pack(">H", 0x0100)  # volume 1.0
        + b"\x00" * 10
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24
        + struct.pack(">I", 2),
    )
    tkhd = box(
        b"tkhd",
        b"\x00\x00\x00\x07"
        + struct.pack(">IIIII", 0, 0, 1, 0, duration_ms)
        + b"\x00" * 8
        + struct.pack(">HHHH", 0, 0, 0, 0)
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + struct.pack(">II", width << 16, height << 16),
    )
    mdhd = box(
        b"mdhd",
        b"\x00\x00\x00\x00"
        + struct.pack(">IIII", 0, 0, 1000, duration_ms)
        + struct.pack(">HH", 0x55C4, 0),  # language 'und'
    )
    hdlr = box(
        b"hdlr",
        b"\x00\x00\x00\x00" + b"\x00" * 4 + track_kind + b"\x00" * 12
        + b"\x00",
    )
    mdia = box(b"mdia", mdhd + hdlr)
    trak = box(b"trak", tkhd + mdia)
    moov = box(b"moov", mvhd + trak)
    mdat = box(b"mdat", b"\x00" * pad)
    return ftyp + moov + mdat


def build_minimal_fmp4(duration_ms: int, pad: int = 0) -> bytes:
    """Deterministic fragmented-MP4 MEDIA SEGMENT builder (round-10):
    styp + sidx + moof(mfhd) + mdat — no moov at all, the shape a DASH
    /CMAF segment has on disk. Fixed layout: styp(20) + sidx(56, two
    references at timescale 1000 whose subsegment durations sum to
    ``duration_ms``) + moof(8 + mfhd(16)) + mdat(8 + pad) = 108 + pad
    bytes — the literal the SQL oracle replays for n_bytes. Exercises
    parse_video_header's fragmented path: brand from styp, duration
    from the sidx subsegment sum, fragmented=1."""
    import struct

    def box(btype: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + btype + payload

    styp = box(b"styp", b"msdh" + struct.pack(">I", 0) + b"msdh")
    d1 = duration_ms // 2
    d2 = duration_ms - d1
    sidx = box(
        b"sidx",
        b"\x00\x00\x00\x00"  # version 0 + flags
        + struct.pack(">II", 1, 1000)  # reference_ID, timescale
        + struct.pack(">II", 0, 0)  # earliest_pts, first_offset
        + struct.pack(">HH", 0, 2)  # reserved, reference_count
        + struct.pack(">III", 100, d1, 0x90000000)
        + struct.pack(">III", 100, d2, 0x90000000),
    )
    mfhd = box(b"mfhd", b"\x00\x00\x00\x00" + struct.pack(">I", 1))
    moof = box(b"moof", mfhd)
    mdat = box(b"mdat", b"\x00" * pad)
    return styp + sidx + moof + mdat


def decode_video_metadata(
    df: DataFrame, blob_col: str = "blob", id_col: str = "doc_id"
) -> DataFrame:
    """Arrow-batched video-metadata extraction over a binary column —
    same spread + mapInPandas contract as ``decode_metadata``.
    Unrecognized payloads keep honest NULL metadata with
    format='unknown' (no synthetic fallback)."""
    from .partitioning import spread

    df = spread(df.select(id_col, blob_col), bytes_per_partition=8 << 20)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i, b in zip(pdf[id_col].values, pdf[blob_col]):
                parsed = parse_video_header(b)
                if parsed is None:
                    rows.append((int(i), len(b), None, None, None, None,
                                 None, None, "unknown"))
                else:
                    w, h, ms, nv, na, brand, frag = parsed
                    rows.append((int(i), len(b), w, h,
                                 None if ms < 0 else ms, nv, na, brand,
                                 "mp4-frag" if frag else "mp4"))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_bytes", "width", "height", "duration_ms",
                    "n_video_tracks", "n_audio_tracks", "brand", "format",
                ],
            )

    return df.mapInPandas(run, VIDEO_META_SCHEMA)
