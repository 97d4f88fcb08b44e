"""Binary asset table + mapInPandas operators.

The asset table is derived deterministically from ``documents`` (the only
corpus in the driver testdata): payload = UTF-8 bytes of the text (opaque
to every operator below — nothing assumes it is text), media_type cycles
image/audio/video by doc_id, and the metadata struct carries the typed
fields a real ingest would stamp (byte size, fake dimensions/duration).

Operator shapes (all narrow — no shuffle, linear scale-out):
- :func:`byte_stats` — per-asset feature extraction over the raw bytes
  via ``mapInPandas`` (Arrow batches of binary → numpy byte arrays).
- :func:`frame_sample` — 1→N row explosion: every ``stride``-th slice of
  a video payload becomes a frame row. The mapInPandas generator yields
  multiple output rows per input row, the real plumbing a frame sampler
  needs; at scale each task samples only its partition's assets.
- :func:`decode_ppm_images` — REAL decode for uncompressed netpbm P6
  payloads (pure numpy header parse + frombuffer raster; no codec
  library), same Arrow mapInPandas shape.
- :func:`decode_image_stub` — the codec seam for COMPRESSED formats.
  JPEG/PNG/video need PIL/ffmpeg (absent here); the stub raises unless
  ``fake=True``, in which case it emits a deterministic pseudo-decode so
  the downstream schema/batch contract is testable.
- :func:`resize_plan` — pure-column resize arithmetic (target dims,
  scale factors) that would parameterize the decoder.

Two private shells hold every per-format Arrow loop, so each codec keeps
only its parser or builder:
- :func:`_per_asset` — the one decode ``mapInPandas``: ``row(payload)``
  per asset gives one output row (every ``*_stats`` decoder, the PPM
  decode, the dHash signature and the decode stub).
- :func:`_synth` — the one synthesizer ``mapInPandas``:
  ``build_one(doc_id)`` gives one payload per document, against
  :data:`PAYLOAD_SCHEMA`.
:func:`_rgb_stats` is the one full-image-mean plus
``RESIZE_TARGET``×``RESIZE_TARGET`` nearest-neighbour stats row shared by
the PPM/BMP/GIF/PNG pixel-stats operators.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_TYPES = ["image", "audio", "video"]


def _spread(key_df: DataFrame) -> DataFrame:
    """Round-robin repartition of a narrow key frame UP to the cluster's
    core count before an expensive per-row Python pass (optimization
    guide §2.5, "input skew: one huge unsplittable file"): the local
    test tables are single-row-group parquet files, i.e. ONE scan
    split, which serialized every synth+decode chain in this module
    onto one of the 32 cores (measured r17: multimodal_jpeg_color_stats
    4.07 s warm with 31 cores idle). The shuffled rows are ids only
    (8 bytes/row) and the partition count derives from the cluster
    (defaultParallelism), not a constant.

    r18 (ADVICE r17): one shared implementation with catalog.spread_scan
    — a strict NO-OP (no Exchange node at all) when the reader already
    yields >= cores splits, instead of the former repartition-to-the-
    same-count, so at production scale no byte ever moves. Applied ONLY
    in front of decode-heavy Python chains (jpeg/gif/png): for the
    trivial decoders (ppm, including the dHash near-dup fixture, and
    bmp/wav/avi) the exchange costs more than the single-core decode it
    parallelizes — a measured r17 regression (+0.5 s combined),
    reverted r18.

    This is the one statement of that policy: the five decode-heavy
    synthesizers (gif, png, jpeg, jpeg_color, jpeg_422) pass their id
    frame through here; the other synthesizers and every decoder run
    with no exchange, and their docstrings point here."""
    from ..catalog import spread_scan

    return spread_scan(key_df)


PAYLOAD_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("payload", BinaryType()),
    ]
)


def _synth(ids: DataFrame, build_one: Callable[[int], bytes]) -> DataFrame:
    """(asset_id, payload) per ``doc_id`` of ``ids``: the one synthesizer
    ``mapInPandas``. ``build_one(doc_id)`` returns the payload bytes.
    Callers pass the id frame, spread or not (see :func:`_spread`)."""

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "asset_id": pdf["doc_id"],
                    "payload": [build_one(int(d)) for d in pdf["doc_id"]],
                }
            )

    return ids.mapInPandas(build, PAYLOAD_SCHEMA)


def _per_asset(
    assets: DataFrame, schema: StructType, row: Callable[[bytes], tuple]
) -> DataFrame:
    """The one decode ``mapInPandas``: a narrow, Arrow-batched pass over
    ``(asset_id, payload)`` that calls ``row(payload_bytes)`` once per
    asset. ``row`` returns the schema's fields after the first, in order;
    the first field (named by the schema, e.g. ``doc_id``) is the asset
    id. Each task decodes only its partition's assets, so throughput
    scales with executors and no payload is shuffled."""
    names = schema.fieldNames()

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                [
                    (aid, *row(bytes(payload)))
                    for aid, payload in zip(pdf["asset_id"], pdf["payload"])
                ],
                columns=names,
            )

    return assets.select("asset_id", "payload").mapInPandas(decode, schema)


ASSET_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("media_type", StringType()),
        StructField("payload", BinaryType()),
        StructField("n_bytes", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", IntegerType()),
    ]
)


def asset_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → asset table with opaque binary payload + typed meta.

    Fake-but-deterministic metadata: width/height derived from doc_id,
    duration from payload size (8 bytes/ms) — stable across engines so
    oracles can recompute it.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.element_at(
            F.array(*[F.lit(m) for m in MEDIA_TYPES]),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("media_type"),
        payload.alias("payload"),
        F.length(payload).cast("int").alias("n_bytes"),
        (F.lit(16) + F.col("doc_id") % 64).cast("int").alias("width"),
        (F.lit(16) + F.col("doc_id") % 48).cast("int").alias("height"),
        (F.length(payload) / 8).cast("int").alias("duration_ms"),
    )


BYTE_STATS_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("media_type", StringType()),
        StructField("n_bytes", IntegerType()),
        StructField("mean_byte", DoubleType()),
        StructField("max_byte", IntegerType()),
        StructField("n_distinct_bytes", IntegerType()),
    ]
)


def byte_stats(assets: DataFrame) -> DataFrame:
    """Per-asset byte-level features via mapInPandas (Arrow-batched).

    The numpy work (frombuffer → mean/max/unique) is the placeholder for
    any real per-asset feature extractor; the contract being exercised is
    binary-in / typed-row-out over whole Arrow batches.
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            arrs = [np.frombuffer(p, dtype=np.uint8) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": [a.size for a in arrs],
                    "mean_byte": [float(a.mean()) if a.size else 0.0 for a in arrs],
                    "max_byte": [int(a.max()) if a.size else 0 for a in arrs],
                    "n_distinct_bytes": [
                        int(np.unique(a).size) for a in arrs
                    ],
                }
            )

    return assets.select(
        "asset_id", "media_type", "payload"
    ).mapInPandas(extract, BYTE_STATS_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_bytes", BinaryType()),
        StructField("frame_len", IntegerType()),
    ]
)


def frame_sample(assets: DataFrame, stride: int = 256) -> DataFrame:
    """Sample every `stride` bytes of video payloads into frame rows.

    1→N explosion inside mapInPandas: each input asset yields
    ``ceil(n_bytes / stride)`` frame rows (empty payloads yield none).
    """

    def frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "asset_id": [],
                "frame_idx": [],
                "frame_bytes": [],
                "frame_len": [],
            }
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                n = len(payload)
                for i, off in enumerate(range(0, n, stride)):
                    chunk = payload[off : off + stride]
                    out["asset_id"].append(aid)
                    out["frame_idx"].append(i)
                    out["frame_bytes"].append(chunk)
                    out["frame_len"].append(len(chunk))
            yield pd.DataFrame(out)

    return (
        assets.filter(F.col("media_type") == "video")
        .select("asset_id", "payload")
        .mapInPandas(frames, FRAME_SCHEMA)
    )


DECODED_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("mean_pixel", DoubleType()),
    ]
)


def _stub_row(buf: bytes) -> tuple[int, int, int, float]:
    a = np.frombuffer(buf, dtype=np.uint8)
    n = 1 if a.size else 0
    return a.size, n, n, (float(a.mean()) if a.size else 0.0)


def decode_image_stub(assets: DataFrame, fake: bool = False) -> DataFrame:
    """Decode image payloads → (dims, channel stats). STUB — for the
    general photographic path only. Seven formats decode for real with
    from-scratch parsers in this module (PPM, BMP, GIF87a+LZW, WAV/PCM,
    AVI/DIB, PNG incl. deflate + all five scanline filters via stdlib
    zlib, and baseline JPEG — grayscale r16; 4:4:4, 4:2:0, 4:2:2 and
    4:4:0 YCbCr color r17 with per-component tables, MCU interleave,
    per-axis chroma upsample and the JFIF RGB transform); what still
    requires a codec library (PIL / libjpeg, absent in this container)
    is progressive-scan JPEG (and >2 sampling factors, e.g. 4:1:1).
    With ``fake=True`` a deterministic pseudo-decode treats the
    payload bytes as a 1×N grayscale plane so the schema/batch contract
    and downstream plan are exercised end-to-end; with the default
    ``fake=False`` this raises NotImplementedError at plan-build time to
    fail fast rather than inside executors.
    """
    if not fake:
        raise NotImplementedError(
            "progressive-scan image decode needs a codec library "
            "(PIL/ffmpeg) not present in this environment; baseline "
            "gray/4:4:4/4:2:2/4:4:0/4:2:0 JPEG decodes for real via "
            "_parse_jpeg* — pass fake=True for the deterministic stub"
        )
    return _per_asset(
        assets.filter(F.col("media_type") == "image"),
        DECODED_SCHEMA,
        _stub_row,
    )


def resize_plan(assets: DataFrame, target: int = 224) -> DataFrame:
    """Column-only resize arithmetic: aspect-preserving scale to `target`
    on the short side — the parameters a real resizer UDF would consume."""
    short = F.least("width", "height")
    scale = F.lit(target) / short
    return assets.select(
        "asset_id",
        "media_type",
        "width",
        "height",
        F.round(scale, 4).alias("scale"),
        F.round(F.col("width") * scale).cast("int").alias("target_w"),
        F.round(F.col("height") * scale).cast("int").alias("target_h"),
    )


def _parse_ppm(buf: bytes) -> tuple[int, int, int, float]:
    """Parse one binary netpbm P6 image: header ``P6 <w> <h> <maxval>``
    (ASCII tokens, ``#`` comments allowed) + one whitespace byte + raw
    interleaved RGB. Returns (width, height, channels, mean_pixel)."""
    w, h, px = _ppm_pixels(buf)
    return w, h, 3, float(px.mean())


def _ppm_pixels(buf: bytes) -> tuple[int, int, np.ndarray]:
    """Parse one P6 payload into (width, height, top-down row-major RGB
    uint8 array of shape (h, w, 3)). The raster is read at the header
    parser's offset: suffix arithmetic (len - w*h*3) would silently shift
    every pixel of a payload with trailing bytes, which the parser
    tolerates."""
    if not buf.startswith(b"P6"):
        raise ValueError("not a P6 PPM payload")
    pos, vals = 2, []
    while len(vals) < 3:
        while pos < len(buf):
            c = buf[pos : pos + 1]
            if c in b" \t\r\n":
                pos += 1
            elif c == b"#":
                nl = buf.find(b"\n", pos)
                pos = len(buf) if nl < 0 else nl + 1
            else:
                break
        start = pos
        while pos < len(buf) and buf[pos : pos + 1].isdigit():
            pos += 1
        if start == pos:
            raise ValueError("malformed PPM header")
        vals.append(int(buf[start:pos]))
    w, h, maxval = vals
    if maxval != 255:
        # maxval > 255 means 2 bytes/sample — reading the raster as
        # uint8 would silently produce garbage stats, so fail loudly
        raise ValueError(f"only 8-bit P6 supported (maxval {maxval})")
    if w == 0 or h == 0:
        # an empty raster has no pixel mean: _rgb_stats would IndexError
        raise ValueError("zero-dimension PPM")
    pos += 1  # exactly one whitespace byte separates header from raster
    n = w * h * 3
    if len(buf) < pos + n:
        raise ValueError("truncated PPM raster")
    px = np.frombuffer(buf, dtype=np.uint8, count=n, offset=pos)
    return w, h, px.reshape(h, w, 3)


def decode_ppm_images(assets: DataFrame) -> DataFrame:
    """REAL image decode — no codec library required — for the
    uncompressed netpbm P6 (PPM) format: a pure numpy header parse +
    ``frombuffer`` over the raw RGB raster, run as the same Arrow-batched
    ``mapInPandas`` shape as :func:`decode_image_stub`. This closes the
    decode seam for uncompressed payloads; entropy-coded formats
    (JPEG/PNG/video) still require the env-gated codec path in
    ``decode_image_stub`` (PIL/ffmpeg absent in this container).

    Scale: narrow per-partition pass, Arrow batch in / Arrow batch out;
    each task decodes only its partition's assets, so throughput scales
    with executors exactly like byte_stats.
    """
    return _per_asset(assets, DECODED_SCHEMA, _parse_ppm)


# ---------------------------------------------------------------------------
# Real pixel math over decoded PPM payloads (VERDICT r6 task 6): the
# bytes→numeric contract the reference's ML_predict.py:109 float32 matrix
# build exercises, rendered as decode → nearest-neighbor resize → stats.

# Means are exact integer micro-units (floor(1e4 * sum / n), same
# pattern as bm25/pagerank): Python round() is half-even while DuckDB
# round() is half-away, so a double mean landing on a .00005 boundary
# could hash-mismatch; integer division cannot.
PPM_PIXEL_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("mean_pixel_e4", LongType()),
        StructField("r_mean_e4", LongType()),
        StructField("g_mean_e4", LongType()),
        StructField("b_mean_e4", LongType()),
    ]
)


RESIZE_TARGET = 2  # the NN resize is RESIZE_TARGET x RESIZE_TARGET


def _rgb_stats(w: int, h: int, px: np.ndarray) -> tuple[int, ...]:
    """The :data:`PPM_PIXEL_SCHEMA` row after ``asset_id`` for one decoded
    top-down RGB (h, w, 3) image: full-image ``mean_pixel_e4`` plus the
    per-channel means of the ``RESIZE_TARGET``×``RESIZE_TARGET`` nearest-
    neighbour resize, as integer micro-units in int64 arithmetic. The NN
    index map is the floor scale ``src = (dst * src_dim) // RESIZE_TARGET``,
    so the DuckDB oracle replays it exactly."""
    px = px.astype(np.int64)
    ys = (np.arange(RESIZE_TARGET) * h) // RESIZE_TARGET
    xs = (np.arange(RESIZE_TARGET) * w) // RESIZE_TARGET
    ch = px[np.ix_(ys, xs)].sum(axis=(0, 1))  # exact int per channel
    n_rz = RESIZE_TARGET * RESIZE_TARGET
    return (
        w,
        h,
        int(10_000 * px.sum()) // (w * h * 3),
        *(int(10_000 * c) // n_rz for c in ch),
    )


def _ppm_payload(d: int) -> bytes:
    w, h = 4 + d % 5, 3 + d % 4
    raster = ((d * 7 + np.arange(w * h * 3, dtype=np.int64)) % 256).astype(
        np.uint8
    )
    return b"P6\n%d %d\n255\n" % (w, h) + raster.tobytes()


def synth_ppm_assets(docs: DataFrame) -> DataFrame:
    """(asset_id, payload): deterministic binary P6 PPM image per
    document — the acquisition stand-in (the container has no image
    corpus), chosen so an oracle can recompute every PIXEL, not just
    byte sizes: width = 4 + doc_id % 5, height = 3 + doc_id % 4, and
    raster byte i (row-major interleaved RGB) = (doc_id*7 + i) % 256.
    The payload is a byte-for-byte valid P6 file (header + raster), so
    the decode below runs the REAL parser, not a shortcut.

    Narrow mapInPandas (Arrow in/out); numpy builds each raster in one
    vectorized modular-arithmetic pass."""
    return _synth(docs.select("doc_id"), _ppm_payload)


def ppm_pixel_stats(assets: DataFrame) -> DataFrame:
    """Decode P6 payloads to pixel arrays, nearest-neighbor-resize to
    ``RESIZE_TARGET``×``RESIZE_TARGET``, and report per-channel means of
    the RESIZED image plus the full-image mean (:func:`_rgb_stats`) —
    arithmetic on decoded pixel VALUES (not payload bytes), which is what
    distinguishes this from byte_stats.

    Scale: narrow Arrow-batched mapInPandas; each task decodes and
    resizes only its partition's assets — same linear scale-out as every
    other decode-family operator."""
    return _per_asset(
        assets, PPM_PIXEL_SCHEMA, lambda b: _rgb_stats(*_ppm_pixels(b))
    )


# ---------------------------------------------------------------------------
# BMP decode (round 10, VERDICT r9 task 4): a SECOND real from-scratch
# decoder — Windows BMP, 24-bit uncompressed BI_RGB — covering the three
# classic raster-decode pitfalls the byte-identical PPM path cannot:
# bottom-up row order, BGR channel order, and 4-byte row padding. The
# synthesizer writes genuinely permuted file bytes (padded BGR rows,
# bottom-up or top-down per asset), so only a correct decoder recovers
# the closed-form logical image the DuckDB oracle recomputes.
# Reference anchor: the brief's multimodal-columns requirement; the
# compressed-codec seam stays env-gated in decode_image_stub.

import struct


def _parse_bmp(buf: bytes) -> tuple[int, int, np.ndarray]:
    """Parse one 24-bit uncompressed BMP into (width, height,
    top-down row-major RGB array of shape (h, w, 3)).

    Validates magic/bpp/compression and fails loudly on anything else
    (the decode_image_stub policy: never silently emit garbage)."""
    if len(buf) < 54 or buf[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_off = struct.unpack_from("<I", buf, 10)[0]
    hdr_size, w, h_raw = struct.unpack_from("<Iii", buf, 14)
    planes, bpp = struct.unpack_from("<HH", buf, 26)
    compression = struct.unpack_from("<I", buf, 30)[0]
    if hdr_size < 40 or planes != 1:
        raise ValueError(f"unsupported BMP header (size {hdr_size})")
    if bpp != 24 or compression != 0:
        raise ValueError(
            f"only 24-bit BI_RGB supported (bpp {bpp}, comp {compression})"
        )
    top_down = h_raw < 0  # negative height = rows stored top-down
    h = -h_raw if top_down else h_raw
    if w <= 0 or h == 0:
        raise ValueError(f"zero-dimension BMP ({w} x {h_raw})")
    stride = ((w * 3 + 3) // 4) * 4  # rows pad to 4-byte boundaries
    if len(buf) < data_off + stride * h:
        raise ValueError("truncated BMP raster")
    rows = np.frombuffer(
        buf, dtype=np.uint8, count=stride * h, offset=data_off
    ).reshape(h, stride)[:, : w * 3]
    px = rows.reshape(h, w, 3)
    if not top_down:
        px = px[::-1]  # bottom-up file order -> top-down image
    return w, h, px[:, :, ::-1]  # BGR file order -> RGB


def _build_bmp(w: int, h: int, px: np.ndarray, top_down: bool) -> bytes:
    """Serialize a top-down RGB (h, w, 3) array as a 24-bit BI_RGB BMP
    (padded BGR rows; bottom-up unless ``top_down``)."""
    stride = ((w * 3 + 3) // 4) * 4
    rows = np.zeros((h, stride), dtype=np.uint8)
    bgr = px[:, :, ::-1]
    if not top_down:
        bgr = bgr[::-1]
    rows[:, : w * 3] = bgr.reshape(h, w * 3)
    raster = rows.tobytes()
    data_off = 14 + 40
    file_size = data_off + len(raster)
    file_hdr = struct.pack("<2sIHHI", b"BM", file_size, 0, 0, data_off)
    h_field = -h if top_down else h
    info_hdr = struct.pack(
        "<IiiHHIIiiII", 40, w, h_field, 1, 24, 0, len(raster), 2835, 2835, 0, 0
    )
    return file_hdr + info_hdr + raster


def _bmp_payload(d: int) -> bytes:
    w, h = 5 + d % 4, 2 + d % 5
    px = (
        ((d * 11 + np.arange(w * h * 3, dtype=np.int64)) % 256)
        .astype(np.uint8)
        .reshape(h, w, 3)
    )
    return _build_bmp(w, h, px, top_down=d % 3 == 0)


def synth_bmp_assets(docs: DataFrame) -> DataFrame:
    """(asset_id, payload): deterministic 24-bit BMP per document.
    Logical image (top-down row-major RGB): sample i = (y*w + x)*3 + c
    has value (doc_id*11 + i) % 256 with w = 5 + doc_id % 4 (strides
    15/18/21/24 -> padding 1/2/3/0 bytes, so every padding case
    occurs), h = 2 + doc_id % 5; every 3rd asset is written TOP-DOWN
    (negative height) so both row orders ship in one corpus. The file
    bytes are a padded, channel-swapped, (usually) row-reversed
    permutation of that logical image — a decoder that skips any of
    the three transforms cannot match the oracle's closed form."""
    return _synth(docs.select("doc_id"), _bmp_payload)


def bmp_pixel_stats(assets: DataFrame) -> DataFrame:
    """Decode 24-bit BMP payloads and report the same integer
    micro-unit stats as ppm_pixel_stats (full-image mean + per-channel
    means of the ``RESIZE_TARGET``x``RESIZE_TARGET`` NN resize,
    :func:`_rgb_stats`) over the decoded top-down RGB image. Same fused
    narrow mapInPandas shape — zero shuffle, linear scale-out."""
    return _per_asset(
        assets, PPM_PIXEL_SCHEMA, lambda b: _rgb_stats(*_parse_bmp(b))
    )


# ---------------------------------------------------------------------------
# GIF87a decode (round 10, beyond VERDICT r9 task 4's BMP): a THIRD real
# from-scratch decoder, and the first COMPRESSED one — the synthesizer
# runs a genuine LZW compressor (variable code width 9->12 bits,
# LSB-first bit packing, clear/EOI codes, 255-byte sub-blocks), so only
# a complete LZW decompressor recovers the index stream. Every 4th
# asset is INTERLACED (4-pass row permutation) and every 5th is large
# enough (300 px) to force the decoder's 9->10-bit code-width growth
# path. Palette entry i maps to RGB (i, 3i%256, 7i%256), so confusing
# palette indices with channel values breaks the oracle hash.
# Public-spec reference: GIF87a (CompuServe, 1987); LZW per the spec's
# Appendix — no third-party code.


def _gif_interlace_rows(h: int) -> list[int]:
    """GIF87a 4-pass interlace: the file stores rows in this order."""
    return (
        list(range(0, h, 8))
        + list(range(4, h, 8))
        + list(range(2, h, 4))
        + list(range(1, h, 2))
    )


def _lzw_compress(indices: bytes, mcs: int) -> bytes:
    """GIF-flavor LZW: variable width mcs+1..12, clear-code reset at
    table overflow, LSB-first bit packing."""
    clear, end = 1 << mcs, (1 << mcs) + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code, width = end + 1, mcs + 1
    emit(clear, width)
    wseq = b""
    for b in indices:
        nseq = wseq + bytes([b])
        if nseq in table:
            wseq = nseq
            continue
        emit(table[wseq], width)
        if next_code < 4096:
            table[nseq] = next_code
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        else:  # table full: reset (decoder mirrors on the clear code)
            emit(clear, width)
            table = {bytes([i]): i for i in range(clear)}
            next_code, width = end + 1, mcs + 1
            # DELIBERATE simplification (ADVICE r10): the pending
            # sequence nseq is NOT seeded into the fresh table, which
            # costs a little compression right after each reset but
            # changes nothing about correctness — the decoder rebuilds
            # the identical table from the emitted codes, and the
            # roundtrip boundary stress tests pin it. This encoder is a
            # test fixture, not a product path.
        wseq = bytes([b])
    if wseq:
        emit(table[wseq], width)
    emit(end, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decompress(data: bytes, mcs: int, n_expected: int) -> bytes:
    """Inverse of _lzw_compress; stops at EOI or after n_expected
    pixels. Fails loudly on a corrupt stream (decode_image_stub
    policy)."""
    clear, end = 1 << mcs, (1 << mcs) + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    width = mcs + 1
    out = bytearray()
    acc = nbits = pos = 0
    prev: bytes | None = None

    def read_code() -> int:
        nonlocal acc, nbits, pos
        while nbits < width:
            if pos >= len(data):
                raise ValueError("truncated LZW stream")
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        return code

    while len(out) < n_expected:
        code = read_code()
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = mcs + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:  # first code after a clear must be a literal
            if code >= clear:
                raise ValueError(f"bad first LZW code {code}")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
        elif code == len(table):  # the KwKwK case
            entry = prev + prev[:1]
        else:
            raise ValueError(f"LZW code {code} beyond table {len(table)}")
        out += entry
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            # The decoder's table lags the encoder's by ONE entry (the
            # encoder adds after emitting; the decoder adds after the
            # NEXT read), so the width bump fires one entry early —
            # when the next free slot hits (1<<width)-1 — to stay in
            # step with the encoder's next_code == (1<<width) bump.
            if len(table) == (1 << width) - 1 and width < 12:
                width += 1
        prev = entry
    if len(out) < n_expected:
        raise ValueError(
            f"LZW stream ended early ({len(out)}/{n_expected} pixels)"
        )
    return bytes(out[:n_expected])


GIF_MCS = 8  # 256-color global table -> 9..12-bit LZW codes


def _gif_palette() -> np.ndarray:
    """(256, 3) uint8: index i -> (i, 3i % 256, 7i % 256) — a closed
    form the DuckDB oracle recomputes, deliberately not identity on
    G/B so index/value confusion cannot cancel out."""
    i = np.arange(256, dtype=np.int64)
    return np.stack([i, (i * 3) % 256, (i * 7) % 256], axis=1).astype(np.uint8)


def _build_gif(w: int, h: int, idx: np.ndarray, interlaced: bool) -> bytes:
    """Serialize a top-down row-major index array (h, w) as GIF87a:
    header, 256-entry global color table, image descriptor (interlace
    flag per asset), LZW-compressed raster, trailer."""
    hdr = b"GIF87a" + struct.pack("<HH", w, h) + bytes([0xF7, 0, 0])
    gct = _gif_palette().tobytes()
    rows = idx[_gif_interlace_rows(h)] if interlaced else idx
    packed = 0x40 if interlaced else 0
    desc = b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + bytes([packed])
    lzw = _lzw_compress(rows.astype(np.uint8).tobytes(), GIF_MCS)
    blocks = bytearray([GIF_MCS])
    for off in range(0, len(lzw), 255):
        chunk = lzw[off : off + 255]
        blocks.append(len(chunk))
        blocks += chunk
    blocks.append(0)
    return hdr + gct + desc + bytes(blocks) + b"\x3b"


def _parse_gif(buf: bytes) -> tuple[int, int, np.ndarray]:
    """Parse one GIF87a into (width, height, top-down de-interlaced
    RGB array (h, w, 3)) via the embedded global color table. Validates
    magic and every structural byte; fails loudly otherwise."""
    if len(buf) < 13 or buf[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    sw, sh = struct.unpack_from("<HH", buf, 6)
    packed, _bg, _ar = buf[10], buf[11], buf[12]
    pos = 13
    if not packed & 0x80:
        raise ValueError("GIF without a global color table")
    gct_n = 2 << (packed & 0x07)
    gct = np.frombuffer(buf, np.uint8, gct_n * 3, pos).reshape(gct_n, 3)
    pos += gct_n * 3
    while pos < len(buf) and buf[pos] == 0x21:  # skip 89a extensions
        pos += 2
        while pos < len(buf) and buf[pos]:
            pos += 1 + buf[pos]
        if pos >= len(buf):
            raise ValueError("truncated GIF extension block")
        pos += 1
    if pos >= len(buf) or buf[pos] != 0x2C:
        raise ValueError("missing GIF image descriptor")
    left, top, w, h = struct.unpack_from("<HHHH", buf, pos + 1)
    ipacked = buf[pos + 9]
    pos += 10
    if ipacked & 0x80:
        raise ValueError("local color tables not supported")
    if (left, top, w, h) != (0, 0, sw, sh):
        raise ValueError("sub-rectangle images not supported")
    if w == 0 or h == 0:
        raise ValueError("zero-dimension GIF")
    mcs = buf[pos]
    pos += 1
    lzw = bytearray()
    while True:
        if pos >= len(buf):
            raise ValueError("truncated GIF sub-block stream")
        n = buf[pos]
        pos += 1
        if n == 0:
            break
        if pos + n > len(buf):
            raise ValueError("truncated GIF sub-block")
        lzw += buf[pos : pos + n]
        pos += n
    idx = np.frombuffer(
        _lzw_decompress(bytes(lzw), mcs, w * h), np.uint8
    ).reshape(h, w)
    if ipacked & 0x40:  # undo the 4-pass interlace permutation
        out = np.empty_like(idx)
        out[_gif_interlace_rows(h)] = idx
        idx = out
    return w, h, gct[idx]


def _gif_payload(d: int) -> bytes:
    w, h = (20, 15) if d % 5 == 0 else (4 + d % 5, 2 + d % 4)
    idx = (
        ((d * 13 + np.arange(w * h, dtype=np.int64)) % 256)
        .astype(np.uint8)
        .reshape(h, w)
    )
    return _build_gif(w, h, idx, interlaced=d % 4 == 0)


def synth_gif_assets(docs: DataFrame) -> DataFrame:
    """(asset_id, payload): deterministic GIF87a per document. Logical
    index at position p = (doc_id*13 + p) % 256 over top-down row-major
    (h, w); w = 4 + doc_id % 5, h = 2 + doc_id % 4, EXCEPT every 5th
    asset is 20x15 (300 px — forces the decoder's 9->10-bit code-width
    growth); every 4th asset is interlaced. The file bytes are a real
    LZW compression of the (possibly interlaced) index stream — a
    decoder that skips de-interlacing, palette mapping, or any LZW
    mechanism (width growth, KwKwK, sub-block reassembly) cannot match
    the oracle's closed form. LZW encoding is decode-heavy, so the ids
    are spread first (:func:`_spread`)."""
    return _synth(_spread(docs.select("doc_id")), _gif_payload)


def gif_pixel_stats(assets: DataFrame) -> DataFrame:
    """Decode GIF87a payloads and report the same integer micro-unit
    stats as the PPM/BMP twins (full-image mean + per-channel means of
    the ``RESIZE_TARGET``x``RESIZE_TARGET`` NN resize, :func:`_rgb_stats`)
    over the decoded top-down RGB image. Same fused narrow mapInPandas
    shape — no payload shuffle."""
    return _per_asset(
        assets, PPM_PIXEL_SCHEMA, lambda b: _rgb_stats(*_parse_gif(b))
    )


# ---------------------------------------------------------------------------
# Perceptual image signatures (round 12, VERDICT r11 task 4): dHash over
# the DECODED raster — the dedup regime an LLM image corpus needs first.
# Byte-level dedup (hashing the payload) misses a re-encoded copy whose
# file bytes differ but whose pixels are identical, and misses a
# brightness-adjusted copy entirely; a difference hash over the decoded,
# grayscale, downsampled image catches both. The signature is 60 bits
# (DHASH_ROWS × (DHASH_COLS−1) gradient-sign comparisons) so it drops
# straight into the existing 60-bit simhash machinery — int64-safe,
# bit_count(XOR) hamming, banded candidate generation, connected
# components (queries/textq._near_cand_pairs, operators/components).

DHASH_ROWS = 10  # grid rows sampled from the decoded raster
DHASH_COLS = 7   # grid cols sampled; 6 comparisons/row -> 60 bits


def _ppm_dup_payload(d: int) -> bytes:
    if d % 10 == 1:
        base, delta, note = d - 1, 0, b"# re-encoded copy\n"
    elif d % 10 == 6:
        base, delta, note = d - 2, 4, b""
    else:
        base, delta, note = d, 0, b""
    w, h = 4 + base % 5, 3 + base % 4
    i = np.arange(w * h * 3, dtype=np.int64)
    raster = (base * 7 + i * (1 + base % 37) + (i % 3) * (base % 29)) % 256
    raster = np.minimum(raster + delta, 255).astype(np.uint8)
    return b"P6\n" + note + b"%d %d\n255\n" % (w, h) + raster.tobytes()


def synth_ppm_dup_assets(docs: DataFrame) -> DataFrame:
    """(asset_id, payload): the near-dup image fixture — deterministic
    P6 PPMs like :func:`synth_ppm_assets`, but with (a) a texture-rich
    closed form an oracle can replay per pixel AND (b) two planted
    duplicate classes a byte-hash cannot both catch:

    - base image (default): width 4 + base%5, height 3 + base%4, raster
      byte i = (base*7 + i*(1 + base%37) + (i%3)*(base%29)) % 256 — the
      per-doc slope and per-channel phase spread dHash signatures out
      (a plain gradient family saturates ~256 phases and every corpus
      pair becomes a near-pair);
    - doc_id % 10 == 1: RE-ENCODED copy of doc_id−1 — identical raster,
      different FILE bytes (a header comment), so payload-hash dedup
      misses it and pixel dHash sees hamming 0;
    - doc_id % 10 == 6: BRIGHTNESS-LIFTED copy of doc_id−2 — every
      sample clamped min(v+4, 255), the re-export-with-brightness
      near-dup; measured dHash hamming ≤ 4 over the full sf1 id range
      (mostly 0; flips only where the lift saturates near 255), inside
      the 5-band pigeonhole guarantee.

    Narrow mapInPandas, numpy-vectorized raster build."""
    return _synth(docs.select("doc_id"), _ppm_dup_payload)


DHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("simhash", LongType()),
    ]
)
_DHASH_WEIGHTS = (
    1 << np.arange(DHASH_ROWS * (DHASH_COLS - 1), dtype=np.int64)
).reshape(DHASH_ROWS, DHASH_COLS - 1)


def _dhash_row(buf: bytes) -> tuple[int]:
    w, h, px = _ppm_pixels(buf)
    g = px.astype(np.int64).sum(axis=2) // 3
    grid = g[
        np.ix_(
            (np.arange(DHASH_ROWS) * h) // DHASH_ROWS,
            (np.arange(DHASH_COLS) * w) // DHASH_COLS,
        )
    ]
    bits = grid[:, 1:] > grid[:, :-1]
    return (int((_DHASH_WEIGHTS * bits).sum()),)


def ppm_dhash(assets: DataFrame) -> DataFrame:
    """(doc_id, simhash): 60-bit dHash per decoded P6 payload. The REAL
    decode runs here (header parse incl. comments + raster frombuffer —
    which is exactly what normalizes a re-encoded copy back to its
    pixels), then pure integer signature math the DuckDB oracle replays
    from the closed form: integer grayscale g = (r+g+b)//3, nearest-
    neighbor downsample to a DHASH_ROWS×DHASH_COLS grid (the
    ppm_pixel_stats index map: src = (dst*src_dim)//grid), and bit
    j = gy*(DHASH_COLS-1)+gx set iff grid[gy][gx+1] > grid[gy][gx] —
    the horizontal gradient sign, invariant to global monotone
    brightness changes except where they saturate.

    Column names match the simhash family contract so the banded
    machinery applies unchanged. Narrow fused decode+signature
    mapInPandas pass — no exchange (see :func:`_spread`), no payload
    shuffle, linear scale-out; at 100 TB the signature column is the
    persisted artifact and pairing runs on it alone (8 bytes/image),
    never on pixels."""
    return _per_asset(assets, DHASH_SCHEMA, _dhash_row)


# ---------------------------------------------------------------------------
# WAV/PCM decode (round 15, VERDICT r14 task 4): the brief's "multimodal
# columns" finally covers AUDIO with a real from-scratch decoder — RIFF
# chunk walking + 8-bit-unsigned / 16-bit-signed-LE PCM. The synthesizer
# writes genuinely hostile-but-valid files: JUNK chunks with ODD payload
# sizes (forcing the RIFF word-alignment pad rule) before and between
# fmt/data, interleaved stereo, and both sample widths — so a decoder
# that assumes fixed offsets, skips pad bytes wrong, or confuses the
# 8-bit unsigned bias cannot match the closed-form oracle.
# Public-spec reference: RIFF/WAVE (Microsoft/IBM 1991, format tag 1 =
# uncompressed PCM); no third-party codec code.

WAV_STATS_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("n_channels", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("duration_ms", LongType()),
        StructField("sum_val", LongType()),
        StructField("sum_sq", LongType()),
        StructField("peak_abs", LongType()),
        StructField("ch0_sum", LongType()),
        StructField("ch1_sum", LongType()),
    ]
)


def _wav_params(d: int) -> tuple[int, int, int, int]:
    """Closed-form per-doc audio parameters (shared by synthesizer and
    oracle): (n_channels, sample_rate, n_frames, bits)."""
    nch = 1 + d % 2
    rate = 8000 + 4000 * (d % 3)
    nf = 50 + d % 7
    bits = 8 if d % 3 == 0 else 16
    return nch, rate, nf, bits


def _wav_samples(d: int, ns: int, bits: int) -> np.ndarray:
    """Logical signed sample values at interleaved index i:
    ((d*17 + i*31) % 2^bits) - 2^(bits-1) — exact int64."""
    modv = 1 << bits
    return (d * 17 + np.arange(ns, dtype=np.int64) * 31) % modv - (modv >> 1)


def _build_wav(d: int) -> bytes:
    """Serialize one deterministic RIFF/WAVE PCM file for doc ``d``.
    Chunk layout varies per asset: d%2==1 plants a 3-byte JUNK chunk
    after WAVE (odd size → 1 pad byte), d%5==2 plants a 5-byte JUNK
    between fmt and data, and every file carries a trailing LIST chunk
    — so the data chunk is never at a fixed offset and an odd-sized
    8-bit data chunk must be pad-aligned for the trailer to parse."""
    nch, rate, nf, bits = _wav_params(d)
    ns = nf * nch
    vals = _wav_samples(d, ns, bits)
    if bits == 8:
        raster = (vals + 128).astype(np.uint8).tobytes()
    else:
        raster = vals.astype("<i2").tobytes()

    def chunk(cid: bytes, payload: bytes) -> bytes:
        pad = b"\x00" if len(payload) % 2 else b""
        return cid + struct.pack("<I", len(payload)) + payload + pad

    body = b"WAVE"
    if d % 2 == 1:
        body += chunk(b"JUNK", b"\xaa\xaa\xaa")
    body += chunk(
        b"fmt ",
        struct.pack(
            "<HHIIHH",
            1,  # PCM
            nch,
            rate,
            rate * nch * (bits // 8),
            nch * (bits // 8),
            bits,
        ),
    )
    if d % 5 == 2:
        body += chunk(b"JUNK", b"\xbb" * 5)
    body += chunk(b"data", raster)
    body += chunk(b"LIST", b"INFO")
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _parse_wav(buf: bytes) -> tuple[int, int, int, np.ndarray]:
    """Parse one RIFF/WAVE PCM payload into (n_channels, sample_rate,
    bits, logical signed samples int64). Walks chunks with the RIFF
    word-alignment rule (odd chunk sizes are followed by a pad byte);
    validates magic and format tag and fails loudly on anything but
    uncompressed 8/16-bit PCM (the decode_image_stub policy)."""
    if len(buf) < 12 or buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, end = 12, 8 + struct.unpack_from("<I", buf, 4)[0]
    end = min(end, len(buf))
    fmt = None
    while pos + 8 <= end:
        cid = buf[pos : pos + 4]
        size = struct.unpack_from("<I", buf, pos + 4)[0]
        payload_at = pos + 8
        if cid == b"fmt ":
            if size < 16:
                raise ValueError("short fmt chunk")
            if payload_at + 16 > len(buf):
                # declared size lies past the buffer: keep the module's
                # fail-loudly contract instead of a struct.error
                raise ValueError("truncated chunk")
            tag, nch, rate, _br, _ba, bits = struct.unpack_from(
                "<HHIIHH", buf, payload_at
            )
            if tag != 1 or bits not in (8, 16):
                raise ValueError(
                    f"only uncompressed 8/16-bit PCM supported "
                    f"(format {tag}, bits {bits})"
                )
            if nch == 0 or rate == 0:
                # _wav_row divides by both
                raise ValueError(
                    f"degenerate PCM format ({nch} channels, {rate} Hz)"
                )
            fmt = (nch, rate, bits)
        elif cid == b"data":
            if fmt is None:
                raise ValueError("data chunk before fmt")
            nch, rate, bits = fmt
            if payload_at + size > len(buf):
                raise ValueError("truncated data chunk")
            if bits == 8:
                vals = (
                    np.frombuffer(
                        buf, dtype=np.uint8, count=size, offset=payload_at
                    ).astype(np.int64)
                    - 128
                )
            else:
                vals = np.frombuffer(
                    buf, dtype="<i2", count=size // 2, offset=payload_at
                ).astype(np.int64)
            return nch, rate, bits, vals
        pos = payload_at + size + (size % 2)  # word-align: odd size pads
    raise ValueError("no data chunk found")


def synth_wav_assets(docs: DataFrame) -> DataFrame:
    """(asset_id, payload): deterministic RIFF/WAVE PCM file per
    document — see _build_wav for the planted chunk-walking pitfalls
    and _wav_params/_wav_samples for the closed form the DuckDB oracle
    recomputes. Narrow mapInPandas, one numpy pass per asset."""
    return _synth(docs.select("doc_id"), _build_wav)


def _wav_row(buf: bytes) -> tuple[int, ...]:
    nch, rate, _bits, vals = _parse_wav(buf)
    nf = len(vals) // nch
    ch = np.arange(len(vals), dtype=np.int64) % nch
    return (
        nch,
        rate,
        nf,
        nf * 1000 // rate,
        int(vals.sum()),
        int((vals * vals).sum()),
        int(np.abs(vals).max(initial=0)),
        int(vals[ch == 0].sum()),
        int(vals[ch == 1].sum()),
    )


def wav_pcm_stats(assets: DataFrame) -> DataFrame:
    """Decode RIFF/PCM payloads and report EXACT integer sample stats:
    frame count, duration, full-stream sum / sum-of-squares / peak, and
    per-channel sums over the de-interleaved stream. All outputs are
    integer sums (never floored means), so engine division semantics
    on negative totals can't enter the parity surface. Same fused
    narrow mapInPandas shape as the image decoders: no exchange (see
    :func:`_spread`), no payload shuffle, linear scale-out."""
    return _per_asset(assets, WAV_STATS_SCHEMA, _wav_row)


# ---------------------------------------------------------------------------
# AVI video decode (round 15, beyond VERDICT r14 task 4's audio): the
# multimodal column family now covers image (PPM/BMP/GIF87a), audio
# (WAV/PCM) and VIDEO with real from-scratch decoders. AVI is RIFF with
# NESTED LIST chunks — 'hdrl' (avih main header + 'strl' stream lists)
# and 'movi' (the '00db' uncompressed DIB frames) — so the parser must
# recurse into lists, read the frame geometry from avih, and undo the
# same bottom-up padded-BGR raster permutation as BMP, per frame.
# Public-spec reference: AVI RIFF form (Microsoft Video for Windows,
# 1992), BITMAPINFOHEADER DIB rasters; no third-party codec code.

AVI_FRAME_STATS_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("fps", IntegerType()),
        StructField("duration_ms", LongType()),
        StructField("sum_px", LongType()),
        StructField("first_frame_sum", LongType()),
        StructField("last_frame_sum", LongType()),
        StructField("max_frame_sum", LongType()),
    ]
)


def _avi_params(d: int) -> tuple[int, int, int, int]:
    """Closed-form per-doc video parameters (shared by synthesizer and
    oracle): (width, height, n_frames, fps). fps values divide
    1 000 000 exactly, so avih's integer usec-per-frame roundtrips."""
    return 4 + d % 4, 3 + d % 3, 3 + d % 4, (10, 20, 25)[d % 3]


def _avi_frame_px(d: int, f: int, w: int, h: int) -> np.ndarray:
    """Logical frame ``f`` (top-down row-major RGB, shape (h, w, 3)):
    sample i = (d*19 + f*131 + i) % 256 — exact int64."""
    return (
        (d * 19 + f * 131 + np.arange(w * h * 3, dtype=np.int64)) % 256
    ).reshape(h, w, 3)


def _build_avi(d: int) -> bytes:
    """Serialize one deterministic RIFF/AVI file for doc ``d``: LIST
    hdrl (avih + LIST strl(strh + strf/BITMAPINFOHEADER)) + an odd-size
    JUNK before LIST movi ('00db' DIB frames: padded BGR rows,
    bottom-up — the BMP permutation, per frame). A decoder that does
    not recurse into LIST chunks, skips the JUNK pad, or decodes the
    DIB as top-down RGB cannot match the closed-form oracle."""
    w, h, nf, fps = _avi_params(d)
    stride = ((w * 3 + 3) // 4) * 4

    def chunk(cid: bytes, payload: bytes) -> bytes:
        pad = b"\x00" if len(payload) % 2 else b""
        return cid + struct.pack("<I", len(payload)) + payload + pad

    def lst(ltype: bytes, payload: bytes) -> bytes:
        return chunk(b"LIST", ltype + payload)

    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        1_000_000 // fps,  # usec per frame
        fps * stride * h,  # max bytes per sec
        0, 0, nf, 0, 1, stride * h, w, h, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh",
        b"vids", b"DIB ", 0, 0, 0, 0, 1, fps, 0, nf,
        stride * h, 0, 0, 0, 0, w, h,
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h, 2835, 2835, 0, 0
    )
    frames = b""
    for f in range(nf):
        px = _avi_frame_px(d, f, w, h).astype(np.uint8)
        rows = np.zeros((h, stride), dtype=np.uint8)
        rows[:, : w * 3] = px[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
        frames += chunk(b"00db", rows.tobytes())
    body = (
        b"AVI "
        + lst(b"hdrl", chunk(b"avih", avih)
              + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
        + chunk(b"JUNK", b"\xcc" * 7)  # odd size -> pad byte
        + lst(b"movi", frames)
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _parse_avi(buf: bytes) -> tuple[int, int, int, int, list[np.ndarray]]:
    """Parse one RIFF/AVI payload into (width, height, n_frames, fps,
    [top-down RGB frame arrays]). Walks top-level chunks with the RIFF
    pad rule, recurses into LIST hdrl/movi, reads geometry from avih,
    and undoes the per-frame DIB permutation (bottom-up padded BGR →
    top-down RGB). Fails loudly on anything but 24-bit uncompressed
    '00db' frames (the decode_image_stub policy)."""
    if len(buf) < 12 or buf[:4] != b"RIFF" or buf[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")
    geom = None  # (w, h, nf, fps) from avih
    frames: list[np.ndarray] = []

    def walk(pos: int, end: int) -> None:
        nonlocal geom
        while pos + 8 <= end:
            cid = buf[pos : pos + 4]
            size = struct.unpack_from("<I", buf, pos + 4)[0]
            at = pos + 8
            if cid == b"LIST":
                # clamp the child range like the top-level walk: a
                # truncated or hostile LIST size must fail loudly (via
                # the frame/header bounds checks below), not crash in
                # struct/numpy past the buffer (ADVICE r15)
                walk(at + 4, min(at + size, len(buf)))
            elif cid == b"avih":
                if size < 40 or at + 40 > len(buf):
                    raise ValueError("truncated chunk")
                us_per_frame, *_rest = struct.unpack_from("<I", buf, at)
                nf = struct.unpack_from("<I", buf, at + 16)[0]
                w = struct.unpack_from("<I", buf, at + 32)[0]
                h = struct.unpack_from("<I", buf, at + 36)[0]
                if us_per_frame == 0 or 1_000_000 % us_per_frame:
                    raise ValueError("non-integer fps")
                geom = (w, h, nf, 1_000_000 // us_per_frame)
            elif cid == b"00db":
                if geom is None:
                    raise ValueError("frame before avih header")
                w, h, _nf, _fps = geom
                stride = ((w * 3 + 3) // 4) * 4
                if size < stride * h or at + stride * h > len(buf):
                    raise ValueError("truncated DIB frame")
                rows = np.frombuffer(
                    buf, dtype=np.uint8, count=stride * h, offset=at
                ).reshape(h, stride)[:, : w * 3]
                px = rows.reshape(h, w, 3)[::-1, :, ::-1]  # -> top-down RGB
                frames.append(px)
            elif cid in (b"00dc", b"01wb"):
                raise ValueError(
                    "only uncompressed '00db' DIB frames supported"
                )
            pos = at + size + (size % 2)  # word-align: odd size pads

    walk(12, min(8 + struct.unpack_from("<I", buf, 4)[0], len(buf)))
    if geom is None:
        raise ValueError("no avih header found")
    w, h, nf, fps = geom
    if len(frames) != nf:
        raise ValueError(f"frame count mismatch: avih {nf}, movi {len(frames)}")
    return w, h, nf, fps, frames


def synth_avi_assets(docs: DataFrame) -> DataFrame:
    """(asset_id, payload): deterministic RIFF/AVI per document — see
    _build_avi for the nested-LIST/JUNK layout and _avi_params/
    _avi_frame_px for the closed form the oracle recomputes."""
    return _synth(docs.select("doc_id"), _build_avi)


def _avi_row(buf: bytes) -> tuple[int, ...]:
    w, h, nf, fps, frames = _parse_avi(buf)
    sums = [int(f.astype(np.int64).sum()) for f in frames]
    return (
        w, h, nf, fps, nf * 1000 // fps,
        sum(sums), sums[0], sums[-1], max(sums),
    )


def avi_frame_stats(assets: DataFrame) -> DataFrame:
    """Decode RIFF/AVI payloads and report exact integer frame stats:
    geometry, fps, duration, the total pixel sum, the first/last frame
    sums, and the max per-frame sum — all integer sums over decoded
    top-down RGB samples (the per-frame permutation must be undone for
    first/last/max to land on the right frames). Fused narrow
    mapInPandas like every other decode operator: no exchange (see
    :func:`_spread`), no payload shuffle."""
    return _per_asset(assets, AVI_FRAME_STATS_SCHEMA, _avi_row)


# ---------------------------------------------------------------------------
# PNG decode (round 16): the SIXTH from-scratch decoder, and the first
# DEFLATE-compressed one — the container's stdlib ships zlib, so the
# "compressed codec" seam the JPEG gate guards does not apply to PNG:
# chunk walking (length/type/data/CRC-32, verified), IHDR validation,
# multi-IDAT concatenation, ancillary-chunk skipping, and the real
# decode work PNG is famous for — per-scanline FILTER reconstruction
# (None/Sub/Up/Average/Paeth, each exercised by the synthesizer's
# per-row filter cycle). Lossless, so the DuckDB oracle recomputes the
# decoded samples from the logical closed form exactly — same gate
# strength as PPM/BMP/GIF. Public-spec reference: RFC 2083 / ISO 15948
# (filter definitions §6); no third-party code. JPEG (lossy, huffman +
# DCT) remains the decode_image_stub env-gate.

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _png_paeth(a: int, b: int, c: int) -> int:
    """Paeth predictor (RFC 2083 §6.6): nearest of left/up/upper-left
    to the linear estimate a + b - c, ties broken a, then b, then c."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _build_png(w: int, h: int, px: np.ndarray, filters: list[int],
               n_idat: int = 1, with_text: bool = False) -> bytes:
    """Serialize a top-down RGB (h, w, 3) array as an 8-bit truecolor
    PNG, FILTERING row y with ``filters[y]`` (0..4) before the zlib
    deflate — so only a decoder that reconstructs every filter type
    recovers the raster. ``n_idat`` splits the compressed stream into
    that many IDAT chunks; ``with_text`` plants an ancillary tEXt chunk
    between them that decoders must skip."""
    import zlib

    bpp = 3
    raw = px.astype(np.int64)
    filtered = bytearray()
    prev = np.zeros((w * bpp,), dtype=np.int64)
    for y in range(h):
        row = raw[y].reshape(-1)
        ft = filters[y]
        filtered.append(ft)
        if ft == 0:  # None
            out = row % 256
        elif ft == 1:  # Sub
            left = np.concatenate([np.zeros(bpp, dtype=np.int64),
                                   row[:-bpp]])
            out = (row - left) % 256
        elif ft == 2:  # Up
            out = (row - prev) % 256
        elif ft == 3:  # Average
            left = np.concatenate([np.zeros(bpp, dtype=np.int64),
                                   row[:-bpp]])
            out = (row - (left + prev) // 2) % 256
        else:  # Paeth
            out = np.zeros_like(row)
            for i in range(len(row)):
                a = int(row[i - bpp]) if i >= bpp else 0
                b = int(prev[i])
                c = int(prev[i - bpp]) if i >= bpp else 0
                out[i] = (row[i] - _png_paeth(a, b, c)) % 256
        filtered.extend(int(v) for v in out)
        prev = row
    comp = zlib.compress(bytes(filtered), 6)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    body = _png_chunk(b"IHDR", ihdr)
    # split the deflate stream across IDAT chunks (decoders must
    # concatenate before inflating — a per-chunk inflate breaks)
    cuts = [len(comp) * k // n_idat for k in range(n_idat + 1)]
    parts = [comp[cuts[k]:cuts[k + 1]] for k in range(n_idat)]
    body += _png_chunk(b"IDAT", parts[0])
    if with_text:
        body += _png_chunk(b"tEXt", b"Comment\x00synthetic")
    for part in parts[1:]:
        body += _png_chunk(b"IDAT", part)
    body += _png_chunk(b"IEND", b"")
    return _PNG_SIG + body


def _parse_png(buf: bytes) -> tuple[int, int, np.ndarray]:
    """Parse one 8-bit truecolor PNG into (width, height, top-down
    row-major RGB array). Walks chunks with CRC-32 verification,
    concatenates every IDAT, inflates, and reconstructs all five
    scanline filters. Fails loudly (the decode_image_stub policy) on
    bad magic/CRC, non-8-bit/RGB/interlaced images, or truncated
    streams."""
    import zlib

    if len(buf) < 8 or buf[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, hdr, idat = 8, None, bytearray()
    saw_iend = False
    while pos + 8 <= len(buf):
        ln = struct.unpack_from(">I", buf, pos)[0]
        ctype = buf[pos + 4 : pos + 8]
        data_at = pos + 8
        if data_at + ln + 4 > len(buf):
            raise ValueError("truncated chunk")
        data = buf[data_at : data_at + ln]
        crc = struct.unpack_from(">I", buf, data_at + ln)[0]
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"CRC mismatch in {ctype!r} chunk")
        if ctype == b"IHDR":
            if len(data) != 13:  # spec-fixed length (ADVICE r16:
                # struct.error is not the documented ValueError)
                raise ValueError("truncated chunk")
            w, h, depth, color, comp, filt, inter = struct.unpack(
                ">IIBBBBB", data
            )
            if (depth, color, comp, filt, inter) != (8, 2, 0, 0, 0):
                raise ValueError(
                    "only 8-bit non-interlaced truecolor PNG supported "
                    f"(depth {depth}, color {color}, interlace {inter})"
                )
            if w == 0 or h == 0:
                # zero-dimension images are invalid per the PNG spec;
                # letting them through would ZeroDivisionError in
                # png_pixel_stats' mean (ADVICE r16)
                raise ValueError("zero-dimension PNG")
            hdr = (w, h)
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            saw_iend = True
            break
        pos = data_at + ln + 4
    if not saw_iend:
        # spec requires a terminating IEND; a walk that ran off the
        # buffer mid-header is a truncated file, not a clean end
        raise ValueError("truncated chunk")
    if hdr is None:
        raise ValueError("no IHDR chunk found")
    w, h = hdr
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as e:
        raise ValueError(f"corrupt IDAT stream: {e}") from None
    bpp, stride = 3, w * 3
    if len(raw) != h * (stride + 1):
        raise ValueError("truncated PNG raster")
    px = np.zeros((h, stride), dtype=np.int64)
    prev = np.zeros((stride,), dtype=np.int64)
    for y in range(h):
        ft = raw[y * (stride + 1)]
        row = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1
        ).astype(np.int64)
        if ft == 0:
            rec = row
        elif ft == 2:
            rec = (row + prev) % 256
        elif ft in (1, 3, 4):
            rec = np.zeros_like(row)
            for i in range(stride):
                a = int(rec[i - bpp]) if i >= bpp else 0
                if ft == 1:
                    pred = a
                elif ft == 3:
                    pred = (a + int(prev[i])) // 2
                else:
                    b = int(prev[i])
                    c = int(prev[i - bpp]) if i >= bpp else 0
                    pred = _png_paeth(a, b, c)
                rec[i] = (row[i] + pred) % 256
        else:
            raise ValueError(f"unknown PNG filter type {ft}")
        px[y] = rec
        prev = rec
    return w, h, px.reshape(h, w, 3)


def _png_payload(d: int) -> bytes:
    w, h = 4 + d % 5, 2 + d % 4
    px = (
        ((d * 17 + np.arange(w * h * 3, dtype=np.int64)) % 256)
        .astype(np.uint8)
        .reshape(h, w, 3)
    )
    return _build_png(
        w, h, px,
        filters=[(d + y) % 5 for y in range(h)],
        n_idat=2 if d % 3 == 0 else 1,
        with_text=d % 4 == 0,
    )


def synth_png_assets(docs: DataFrame) -> DataFrame:
    """(asset_id, payload): deterministic 8-bit truecolor PNG per
    document. Logical image (top-down row-major RGB): sample i =
    (doc_id*17 + i) % 256 with w = 4 + doc_id % 5, h = 2 + doc_id % 4
    — row y is filtered with type (doc_id + y) % 5, so every corpus
    slice exercises all five filters; every 3rd asset splits its
    deflate stream over 2 IDAT chunks and every 4th plants an
    ancillary tEXt chunk the walker must skip. Filtering and deflate
    are decode-heavy, so the ids are spread first (:func:`_spread`)."""
    return _synth(_spread(docs.select("doc_id")), _png_payload)


def png_pixel_stats(assets: DataFrame) -> DataFrame:
    """Decode PNG payloads and report the same integer micro-unit stats
    as ppm/bmp_pixel_stats (full-image mean + per-channel means of the
    ``RESIZE_TARGET``x``RESIZE_TARGET`` NN resize, :func:`_rgb_stats`)
    over the decoded top-down RGB image. Fused narrow mapInPandas: no
    payload shuffle, linear scale-out."""
    return _per_asset(
        assets, PPM_PIXEL_SCHEMA, lambda b: _rgb_stats(*_parse_png(b))
    )


# ---------------------------------------------------------------------------
# JPEG decode (round 16, after PNG): the SEVENTH from-scratch decoder
# and the first ENTROPY-CODED-DCT one — baseline sequential JPEG
# (ITU-T T.81), single-component (grayscale), decoded end-to-end with
# no codec library: marker walk (APPn/COM skip), DQT/DHT table parsing
# (canonical Huffman reconstruction from the 16 code-length counts),
# SOF0 validation, the MSB-first entropy reader with 0xFF00 byte
# unstuffing, DC-difference + AC run/size coefficient decoding
# (EOB/ZRL), zigzag→natural dequantization, and an orthonormal float
# IDCT. The SYNTHESIZER emits real, spec-valid JPEGs whose 8×8 blocks
# are CONSTANT (AC all zero): lossy quantization then reduces to exact
# integer math on the DC path — decoded block value =
# clip(2·round_half_away((v−128)/2) + 128) with the Annex-K luminance
# table's Q[0,0] = 16 — so the DuckDB oracle replays the decode
# closed-form despite JPEG being lossy. The general AC/IDCT path is
# exercised by unit tests (hand-built blocks with nonzero ACs).
# Public-spec reference: ITU-T T.81 (1992) §F + Annex K tables; no
# third-party code. decode_image_stub's env gate now covers only
# full photographic decode (color/subsampled JPEG via PIL-grade libs).

# Annex K.1 luminance quantization table (natural row-major order)
_JPEG_QTAB = np.array([
    [16, 11, 10, 16, 24, 40, 51, 61],
    [12, 12, 14, 19, 26, 58, 60, 55],
    [14, 13, 16, 24, 40, 57, 69, 56],
    [14, 17, 22, 29, 51, 87, 80, 62],
    [18, 22, 37, 56, 68, 109, 103, 77],
    [24, 35, 55, 64, 81, 104, 113, 92],
    [49, 64, 78, 87, 103, 121, 120, 101],
    [72, 92, 95, 98, 112, 100, 103, 99],
], dtype=np.int64)

# Annex K.2 chrominance quantization table (natural row-major order).
# The color SYNTH writes a copy with [0,0] := 16 so the flat-block DC
# closed form (2·round_half_away((v−128)/2)+128) is the SAME for all
# three components — the encoder may use any table, and the parser reads
# whatever the file carries; the other 63 entries still exercise
# per-component dequant selection in the general AC path (unit-pinned).
_JPEG_CQTAB = np.array([
    [17, 18, 24, 47, 99, 99, 99, 99],
    [18, 21, 26, 66, 99, 99, 99, 99],
    [24, 26, 56, 99, 99, 99, 99, 99],
    [47, 66, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
], dtype=np.int64)

# Annex K.3.1 / K.3.2: luminance DC and AC Huffman specs
# (counts per code length 1..16, then symbol values)
_JPEG_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_JPEG_DC_VALS = list(range(12))
_JPEG_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_JPEG_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

# Annex K.3.3 / K.3.4: chrominance DC and AC Huffman specs
_JPEG_DC1_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_JPEG_DC1_VALS = list(range(12))
_JPEG_AC1_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_JPEG_AC1_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
    0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
    0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
    0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
    0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
    0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
    0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
    0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
    0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
    0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
    0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]


def _jpeg_huff_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical Huffman assignment (T.81 §C.2): symbol -> (code, length)."""
    out, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return out


class _JpegBitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            byte = (self.acc >> (self.n - 8)) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:
                self.buf.append(0x00)  # byte stuffing
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def done(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)  # pad with 1s (spec)
        return bytes(self.buf)


def _jpeg_cat(v: int) -> int:
    """DC/AC amplitude category (bit size of |v|)."""
    return int(v).bit_length() if v else 0


def _build_jpeg_gray(w: int, h: int, block_vals: np.ndarray) -> bytes:
    """Serialize a grayscale baseline JPEG whose 8×8 blocks are the
    CONSTANT values in ``block_vals`` (shape (h//8, w//8), uint8). AC
    coefficients are genuinely zero for constant blocks, so the file is
    a real spec-valid JPEG that any decoder reproduces bit-exactly as
    the closed form the oracle computes."""
    if w % 8 or h % 8:
        raise ValueError("synthetic JPEG dims must be multiples of 8")
    dc_codes = _jpeg_huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _jpeg_huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    q0 = int(_JPEG_QTAB[0, 0])
    bw = _JpegBitWriter()
    prev_dc = 0
    for by in range(h // 8):
        for bx in range(w // 8):
            v = int(block_vals[by, bx])
            dc = 8 * (v - 128)  # FDCT of a flat block: S00 = Σ/8
            # quantize, half away from zero (replayed by the oracle)
            q = (abs(dc) + q0 // 2) // q0 * (1 if dc >= 0 else -1)
            diff = q - prev_dc
            prev_dc = q
            cat = _jpeg_cat(diff)
            code, ln = dc_codes[cat]
            bw.put(code, ln)
            if cat:
                amp = diff if diff > 0 else diff + (1 << cat) - 1
                bw.put(amp, cat)
            code, ln = ac_codes[0x00]  # EOB: all 63 ACs zero
            bw.put(code, ln)
    scan = bw.done()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    zz_q = bytes(int(_JPEG_QTAB.reshape(-1)[_JPEG_ZIGZAG[i]]) for i in range(64))
    out = b"\xff\xd8"  # SOI
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xFFDB, b"\x00" + zz_q)  # DQT: 8-bit, table 0
    out += seg(0xFFC0, struct.pack(">BHHB", 8, h, w, 1) + b"\x01\x11\x00")
    out += seg(0xFFC4, bytes([0x00] + _JPEG_DC_BITS) + bytes(_JPEG_DC_VALS))
    out += seg(0xFFC4, bytes([0x10] + _JPEG_AC_BITS) + bytes(_JPEG_AC_VALS))
    out += seg(0xFFDA, b"\x01\x01\x00\x00\x3f\x00")  # SOS
    out += scan + b"\xff\xd9"  # EOI
    return out


def _build_jpeg_color(
    w: int, h: int, yb: np.ndarray, cbb: np.ndarray, crb: np.ndarray,
    sampling: tuple[int, int] = (2, 2),
) -> bytes:
    """Serialize a subsampled YCbCr baseline JPEG whose 8×8 blocks are
    the CONSTANT values in ``yb`` (shape (h//8, w//8)) / ``cbb`` /
    ``crb`` (one chroma block per MCU: shape (h//(8·V), w//(8·H)) for
    luma ``sampling`` = (H, V) — (2, 2) = 4:2:0 default, (2, 1) =
    4:2:2). Components carry distinct quant/Huffman tables (luminance
    K.1 + K.3.1/K.3.2 for Y; chrominance K.2-with-[0,0]:=16 +
    K.3.3/K.3.4 for Cb/Cr — see _JPEG_CQTAB for why [0,0] is 16),
    separate DC predictors, and the MCU-interleaved entropy order
    (H·V Y raster blocks, Cb, Cr). AC coefficients are genuinely zero
    for constant blocks, so the file is a real spec-valid subsampled
    JPEG any decoder reproduces bit-exactly as the per-channel closed
    form the oracle computes."""
    hs_, vs_ = sampling
    mcu_w, mcu_h = 8 * hs_, 8 * vs_
    if w % mcu_w or h % mcu_h:
        raise ValueError(
            "synthetic color JPEG dims must be multiples of the MCU"
        )
    dc0 = _jpeg_huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac0 = _jpeg_huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    dc1 = _jpeg_huff_codes(_JPEG_DC1_BITS, _JPEG_DC1_VALS)
    ac1 = _jpeg_huff_codes(_JPEG_AC1_BITS, _JPEG_AC1_VALS)
    cq = _JPEG_CQTAB.copy()
    cq[0, 0] = 16
    q0 = 16  # both tables' DC step — the shared flat-block closed form
    bw = _JpegBitWriter()
    prev = [0, 0, 0]

    def put_flat(v: int, comp: int, dc_codes: dict, ac_codes: dict) -> None:
        dcv = 8 * (int(v) - 128)  # FDCT of a flat block: S00 = Σ/8
        q = (abs(dcv) + q0 // 2) // q0 * (1 if dcv >= 0 else -1)
        diff = q - prev[comp]
        prev[comp] = q
        cat = _jpeg_cat(diff)
        code, ln = dc_codes[cat]
        bw.put(code, ln)
        if cat:
            amp = diff if diff > 0 else diff + (1 << cat) - 1
            bw.put(amp, cat)
        code, ln = ac_codes[0x00]  # EOB: all 63 ACs zero
        bw.put(code, ln)

    for myi in range(h // mcu_h):
        for mxi in range(w // mcu_w):
            for v in range(vs_):
                for hb in range(hs_):
                    put_flat(
                        yb[vs_ * myi + v, hs_ * mxi + hb], 0, dc0, ac0
                    )
            put_flat(cbb[myi, mxi], 1, dc1, ac1)
            put_flat(crb[myi, mxi], 2, dc1, ac1)
    scan = bw.done()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    zq0 = bytes(
        int(_JPEG_QTAB.reshape(-1)[_JPEG_ZIGZAG[i]]) for i in range(64)
    )
    zq1 = bytes(int(cq.reshape(-1)[_JPEG_ZIGZAG[i]]) for i in range(64))
    out = b"\xff\xd8"  # SOI
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    # one DQT segment carrying BOTH tables: exercises the parser's
    # multi-table walk
    out += seg(0xFFDB, b"\x00" + zq0 + b"\x01" + zq1)
    out += seg(
        0xFFC0,
        struct.pack(">BHHB", 8, h, w, 3)
        + bytes([0x01, (hs_ << 4) | vs_, 0x00])  # Y: H,V; quant 0
        + b"\x02\x11\x01"  # Cb: 1x1, quant table 1
        + b"\x03\x11\x01",  # Cr: 1x1, quant table 1
    )
    out += seg(0xFFC4, bytes([0x00] + _JPEG_DC_BITS) + bytes(_JPEG_DC_VALS))
    out += seg(0xFFC4, bytes([0x10] + _JPEG_AC_BITS) + bytes(_JPEG_AC_VALS))
    out += seg(
        0xFFC4, bytes([0x01] + _JPEG_DC1_BITS) + bytes(_JPEG_DC1_VALS)
    )
    out += seg(
        0xFFC4, bytes([0x11] + _JPEG_AC1_BITS) + bytes(_JPEG_AC1_VALS)
    )
    out += seg(
        0xFFDA, b"\x03\x01\x00\x02\x11\x03\x11\x00\x3f\x00"
    )  # SOS: Y->(dc0,ac0), Cb/Cr->(dc1,ac1)
    out += scan + b"\xff\xd9"  # EOI
    return out


class _JpegBitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def bit(self) -> int:
        if self.n == 0:
            if self.pos >= len(self.data):
                raise ValueError("truncated entropy stream")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                if self.pos >= len(self.data) or self.data[self.pos] != 0x00:
                    raise ValueError("unexpected marker in entropy stream")
                self.pos += 1  # strip stuffed 0x00
            self.acc = b
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v


def _jpeg_huff_decode(reader: _JpegBitReader, table: dict) -> int:
    # strictly < 16: JPEG codes are at most 16 bits, and reading a 17th
    # bit before declaring the code invalid could misreport a bad code
    # at end-of-scan as a truncated stream (ADVICE r16)
    code, ln = 0, 0
    while ln < 16:
        code = (code << 1) | reader.bit()
        ln += 1
        sym = table.get((code, ln))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code in entropy stream")


_JPEG_IDCT_M = None


def _jpeg_idct(coef: np.ndarray) -> np.ndarray:
    """Orthonormal 2-D inverse DCT-II of one 8×8 block (float, then the
    caller rounds + level-shifts): s = Mᵀ · S · M with
    M[u,x] = C(u)/2 · cos((2x+1)uπ/16)."""
    global _JPEG_IDCT_M
    if _JPEG_IDCT_M is None:
        u = np.arange(8).reshape(-1, 1)
        x = np.arange(8).reshape(1, -1)
        m = 0.5 * np.cos((2 * x + 1) * u * np.pi / 16)
        m[0, :] *= 1 / np.sqrt(2)
        _JPEG_IDCT_M = m
    m = _JPEG_IDCT_M
    return m.T @ coef @ m


def _parse_jpeg(
    buf: bytes,
) -> tuple[int, int, list[tuple[np.ndarray, int, int]]]:
    """Decode one baseline sequential JPEG into (width, height,
    [(component plane, H, V), ...] in SOF order, each plane at its own
    component resolution). Implements the full baseline path — table
    parsing, MCU-interleaved entropy decode (per-component DC
    predictors, AC run/size, EOB/ZRL), per-component dequantize, IDCT —
    for grayscale, 4:4:4 and 4:2:0 YCbCr layouts, and fails loudly
    (decode_image_stub policy) on anything else: progressive SOFs,
    other samplings, restart intervals, short segments (ADVICE r16:
    every truncation is a ValueError, never struct.error/IndexError)."""
    if len(buf) < 4 or buf[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    htabs: dict[tuple[int, int], dict] = {}
    sof = None  # (w, h, [(cid, H, V, tq), ...])
    scan = None  # (entropy start, [(comp_idx, dc_id, ac_id), ...])
    while pos + 4 <= len(buf):
        if buf[pos] != 0xFF:
            raise ValueError("bad marker alignment")
        marker = struct.unpack_from(">H", buf, pos)[0]
        if marker == 0xFFD9:
            break
        ln = struct.unpack_from(">H", buf, pos + 2)[0]
        at = pos + 4
        if ln < 2 or at + ln - 2 > len(buf):
            raise ValueError("truncated chunk")
        data = buf[at : at + ln - 2]
        if marker == 0xFFDB:  # DQT (possibly several tables per seg)
            d = 0
            while d < len(data):
                if d + 65 > len(data):
                    raise ValueError("truncated chunk")
                prec, tid = data[d] >> 4, data[d] & 0x0F
                if prec != 0:
                    raise ValueError("only 8-bit quant tables supported")
                zz = np.frombuffer(
                    data, dtype=np.uint8, count=64, offset=d + 1
                ).astype(np.int64)
                nat = np.zeros(64, dtype=np.int64)
                nat[_JPEG_ZIGZAG] = zz
                qtabs[tid] = nat.reshape(8, 8)
                d += 65
        elif marker == 0xFFC4:  # DHT (possibly several tables per seg)
            d = 0
            while d < len(data):
                if d + 17 > len(data):
                    raise ValueError("truncated chunk")
                cls, tid = data[d] >> 4, data[d] & 0x0F
                bits = list(data[d + 1 : d + 17])
                nv = sum(bits)
                if d + 17 + nv > len(data):
                    raise ValueError("truncated chunk")
                vals = list(data[d + 17 : d + 17 + nv])
                fwd = _jpeg_huff_codes(bits, vals)
                htabs[(cls, tid)] = {
                    (c, l): sym for sym, (c, l) in fwd.items()
                }
                d += 17 + nv
        elif marker == 0xFFC0:  # SOF0 baseline
            if len(data) < 6:
                raise ValueError("truncated chunk")
            prec, hh, ww, nc = struct.unpack_from(">BHHB", data, 0)
            if prec != 8 or nc not in (1, 3):
                raise ValueError(
                    "only 8-bit 1- or 3-component baseline supported "
                    f"(precision {prec}, components {nc})"
                )
            if len(data) < 6 + 3 * nc:
                raise ValueError("truncated chunk")
            comps = []
            for ci in range(nc):
                # component spec: id, sampling (H<<4|V), quant table id
                cid = data[6 + 3 * ci]
                hv = data[7 + 3 * ci]
                comps.append((cid, hv >> 4, hv & 0x0F, data[8 + 3 * ci]))
            samplings = [(c[1], c[2]) for c in comps]
            if nc == 1:
                # single-component scans are non-interleaved (MCU = one
                # block, T.81 A.2.2); anything but 1x1 factors is odd
                # enough to refuse under the fail-loudly contract
                if samplings != [(1, 1)]:
                    raise ValueError("subsampled JPEG not supported")
            elif samplings not in (
                [(1, 1)] * 3,  # 4:4:4
                [(2, 2), (1, 1), (1, 1)],  # 4:2:0
                [(2, 1), (1, 1), (1, 1)],  # 4:2:2 (r17)
                [(1, 2), (1, 1), (1, 1)],  # 4:4:0 (r17)
            ):
                raise ValueError(
                    "only 4:4:4, 4:2:2, 4:4:0 or 4:2:0 component "
                    "layouts supported"
                )
            sof = (ww, hh, comps)
        elif marker in (0xFFC1, 0xFFC2, 0xFFC3, 0xFFC5, 0xFFC6, 0xFFC7,
                        0xFFC9, 0xFFCA, 0xFFCB, 0xFFCD, 0xFFCE, 0xFFCF):
            raise ValueError("only baseline sequential (SOF0) supported")
        elif marker == 0xFFDD:  # DRI: RSTn markers would follow
            raise ValueError("restart intervals not supported")
        elif marker == 0xFFDA:  # SOS: entropy data follows
            if sof is None:
                raise ValueError("SOS before SOF0")
            if len(data) < 1:
                raise ValueError("truncated chunk")
            ns = data[0]
            if len(data) < 1 + 2 * ns + 3:
                raise ValueError("truncated chunk")
            if ns != len(sof[2]):
                raise ValueError("partial/multi-scan JPEG not supported")
            sel = []
            for si in range(ns):
                scid, tt = data[1 + 2 * si], data[2 + 2 * si]
                idxs = [
                    i for i, c in enumerate(sof[2]) if c[0] == scid
                ]
                if not idxs:
                    raise ValueError("scan references unknown component")
                sel.append((idxs[0], tt >> 4, tt & 0x0F))
            scan = (at + ln - 2, sel)
            break
        pos = at + ln - 2
    if scan is None:
        raise ValueError("no scan data found")
    start, sel = scan
    eoi = buf.rfind(b"\xff\xd9")
    if eoi < 0:
        raise ValueError("truncated chunk")  # no EOI: cut file
    w, h, comps = sof
    for ci, dc_id, ac_id in sel:
        if (
            comps[ci][3] not in qtabs
            or (0, dc_id) not in htabs
            or (1, ac_id) not in htabs
        ):
            raise ValueError("scan references a missing table")
    reader = _JpegBitReader(buf[start:eoi])
    prev_dc = [0] * len(comps)

    def decode_block(ci: int, dc_id: int, ac_id: int) -> np.ndarray:
        q = qtabs[comps[ci][3]]
        dc_tab, ac_tab = htabs[(0, dc_id)], htabs[(1, ac_id)]
        zz = np.zeros(64, dtype=np.int64)
        cat = _jpeg_huff_decode(reader, dc_tab)
        if cat:
            amp = reader.bits(cat)
            if amp < (1 << (cat - 1)):
                amp -= (1 << cat) - 1  # negative branch (T.81 F.12)
            prev_dc[ci] += amp
        zz[0] = prev_dc[ci]
        k = 1
        while k < 64:
            rs = _jpeg_huff_decode(reader, ac_tab)
            if rs == 0x00:  # EOB
                break
            if rs == 0xF0:  # ZRL: 16 zeros
                k += 16
                continue
            run, size = rs >> 4, rs & 0x0F
            k += run
            if k >= 64 or size == 0:
                raise ValueError("AC coefficient index overflow")
            amp = reader.bits(size)
            if amp < (1 << (size - 1)):
                amp -= (1 << size) - 1
            zz[k] = amp
            k += 1
        nat = np.zeros(64, dtype=np.int64)
        nat[_JPEG_ZIGZAG] = zz
        block = _jpeg_idct((nat.reshape(8, 8) * q).astype(np.float64))
        return np.clip(np.round(block) + 128, 0, 255).astype(np.int64)

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if len(comps) == 1:
        # non-interleaved: plain raster over ceil(w/8) x ceil(h/8)
        ci, dc_id, ac_id = sel[0]
        bw_, bh_ = (w + 7) // 8, (h + 7) // 8
        px = np.zeros((bh_ * 8, bw_ * 8), dtype=np.int64)
        for by in range(bh_):
            for bx in range(bw_):
                px[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                    decode_block(ci, dc_id, ac_id)
                )
        planes = [px]
    else:
        # interleaved: per MCU, each scan component contributes V x H
        # blocks in raster order (T.81 A.2.3)
        mx = (w + 8 * hmax - 1) // (8 * hmax)
        my = (h + 8 * vmax - 1) // (8 * vmax)
        planes = [
            np.zeros((my * c[2] * 8, mx * c[1] * 8), dtype=np.int64)
            for c in comps
        ]
        for myi in range(my):
            for mxi in range(mx):
                for ci, dc_id, ac_id in sel:
                    hf, vf = comps[ci][1], comps[ci][2]
                    for v in range(vf):
                        for hb in range(hf):
                            by, bx = myi * vf + v, mxi * hf + hb
                            planes[ci][
                                by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8
                            ] = decode_block(ci, dc_id, ac_id)
    out = []
    for (cid, hf, vf, tq), plane in zip(comps, planes):
        cw = (w * hf + hmax - 1) // hmax
        ch = (h * vf + vmax - 1) // vmax
        out.append((plane[:ch, :cw], hf, vf))
    return w, h, out


def _parse_jpeg_gray(buf: bytes) -> tuple[int, int, np.ndarray]:
    """Decode one baseline sequential grayscale JPEG into (width,
    height, top-down int64 pixel array) — the single-component wrapper
    over :func:`_parse_jpeg` (identical behavior to the r16 gray-only
    parser; the oracle closed form is unchanged)."""
    w, h, comps = _parse_jpeg(buf)
    if len(comps) != 1:
        raise ValueError("expected a single-component (grayscale) JPEG")
    return w, h, comps[0][0]


def _parse_jpeg_color(
    buf: bytes,
) -> tuple[int, int, np.ndarray]:
    """Decode one 3-component baseline JPEG (4:4:4 or 4:2:0) into
    (width, height, top-down int64 RGB array of shape (h, w, 3)).
    Chroma planes are box-replicated to luma resolution (the nearest-
    neighbor upsample), then the JFIF/BT.601 YCbCr→RGB transform is
    applied with explicit floor(x + 0.5) rounding — chosen over
    np.round because half-up is expressible bit-identically in the
    DuckDB oracle (`floor(x + 0.5)`), making the color path closed-form
    checkable end-to-end."""
    w, h, comps = _parse_jpeg(buf)
    if len(comps) != 3:
        raise ValueError("expected a 3-component (YCbCr) JPEG")
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    full = []
    for plane, hf, vf in comps:
        p = np.repeat(
            np.repeat(plane, vmax // vf, axis=0), hmax // hf, axis=1
        )[:h, :w]
        full.append(p.astype(np.float64))
    y, cb, cr = full
    r = np.floor(y + 1.402 * (cr - 128.0) + 0.5)
    g = np.floor(
        y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0) + 0.5
    )
    b = np.floor(y + 1.772 * (cb - 128.0) + 0.5)
    rgb = np.clip(np.stack([r, g, b], axis=-1), 0, 255).astype(np.int64)
    return w, h, rgb


def _jpeg_gray_payload(d: int) -> bytes:
    w, h = 8 * (1 + d % 3), 8 * (1 + d % 2)
    nb = (w // 8) * (h // 8)
    vals = (
        (d * 19 + 7 * np.arange(nb, dtype=np.int64)) % 256
    ).astype(np.uint8).reshape(h // 8, w // 8)
    return _build_jpeg_gray(w, h, vals)


def synth_jpeg_assets(docs: DataFrame) -> DataFrame:
    """(asset_id, payload): deterministic grayscale baseline JPEG per
    document. Blocks are CONSTANT — block (by, bx) of doc d has value
    (d*19 + (by*(w//8) + bx)*7) % 256 with w = 8·(1 + d % 3),
    h = 8·(1 + d % 2) — so quantization reduces to exact integer DC
    math and the decode has a closed form despite JPEG being lossy:
    decoded block value = clip255(2·round_half_away((v−128)/2) + 128).
    Huffman/DCT coding is decode-heavy, so the ids are spread first
    (:func:`_spread`)."""
    return _synth(_spread(docs.select("doc_id")), _jpeg_gray_payload)


JPEG_STATS_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("sum_px", LongType()),
        StructField("min_px", LongType()),
        StructField("max_px", LongType()),
        StructField("first_block_px", LongType()),
        StructField("last_block_px", LongType()),
    ]
)


def _jpeg_gray_row(buf: bytes) -> tuple[int, ...]:
    w, h, px = _parse_jpeg_gray(buf)
    return (
        w, h, int(px.sum()), int(px.min()), int(px.max()),
        int(px[0, 0]), int(px[h - 1, w - 1]),
    )


def jpeg_pixel_stats(assets: DataFrame) -> DataFrame:
    """Decode grayscale baseline JPEG payloads through the full
    from-scratch path (Huffman → dequant → IDCT) and report exact
    integer stats over the decoded plane: sum / min / max plus the
    first and last block's reconstructed values (block order is the
    entropy-stream order — a DC-difference decoding bug shifts every
    later block and breaks them). Fused narrow mapInPandas: zero
    shuffles, linear scale-out."""
    return _per_asset(assets, JPEG_STATS_SCHEMA, _jpeg_gray_row)


def _jpeg_420_payload(d: int) -> bytes:
    mw, mh = 1 + d % 2, 1 + d % 3
    w, h = 16 * mw, 16 * mh
    yb = np.zeros((2 * mh, 2 * mw), dtype=np.uint8)
    cbb = np.zeros((mh, mw), dtype=np.uint8)
    crb = np.zeros((mh, mw), dtype=np.uint8)
    for myi in range(mh):
        for mxi in range(mw):
            m = myi * mw + mxi
            for v in range(2):
                for hb in range(2):
                    yb[2 * myi + v, 2 * mxi + hb] = (
                        d * 19 + 7 * (4 * m + 2 * v + hb)
                    ) % 256
            cbb[myi, mxi] = (d * 31 + 11 * m) % 256
            crb[myi, mxi] = (d * 23 + 13 * m) % 256
    return _build_jpeg_color(w, h, yb, cbb, crb)


def synth_jpeg_color_assets(docs: DataFrame) -> DataFrame:
    """(asset_id, payload): deterministic 4:2:0 color baseline JPEG per
    document — mw = 1 + d % 2, mh = 1 + d % 3 MCUs → w = 16·mw,
    h = 16·mh. Blocks are CONSTANT per channel: the Y block at
    ENTROPY-STREAM index i (4 per MCU, raster within the MCU) is
    (d·19 + 7i) % 256; MCU m's Cb block is (d·31 + 11m) % 256 and its
    Cr block (d·23 + 13m) % 256 — so all three lossy channels have the
    shared closed form 2·round_half_away((v−128)/2)+128 and the RGB
    transform is exactly replayable (see jpeg_color_stats). The ids are
    spread first (:func:`_spread`)."""
    return _synth(_spread(docs.select("doc_id")), _jpeg_420_payload)


def _jpeg_422_payload(d: int) -> bytes:
    mw, mh = 1 + d % 2, 1 + d % 3
    w, h = 16 * mw, 8 * mh
    yb = np.zeros((mh, 2 * mw), dtype=np.uint8)
    cbb = np.zeros((mh, mw), dtype=np.uint8)
    crb = np.zeros((mh, mw), dtype=np.uint8)
    for myi in range(mh):
        for mxi in range(mw):
            m = myi * mw + mxi
            for hb in range(2):
                yb[myi, 2 * mxi + hb] = (d * 19 + 7 * (2 * m + hb)) % 256
            cbb[myi, mxi] = (d * 31 + 11 * m) % 256
            crb[myi, mxi] = (d * 23 + 13 * m) % 256
    return _build_jpeg_color(w, h, yb, cbb, crb, sampling=(2, 1))


def synth_jpeg_422_assets(docs: DataFrame) -> DataFrame:
    """(asset_id, payload): deterministic 4:2:2 color baseline JPEG per
    document — mw = 1 + d % 2, mh = 1 + d % 3 MCUs of 16×8 luma →
    w = 16·mw, h = 8·mh. Y block at ENTROPY-STREAM index i (2 per MCU,
    raster within the MCU) is (d·19 + 7i) % 256; MCU m's Cb block is
    (d·31 + 11m) % 256 and its Cr block (d·23 + 13m) % 256 — the same
    per-channel closed form as the 4:2:0 synth over the non-square
    MCU geometry (chroma replicates 2× horizontally only). The ids are
    spread first (:func:`_spread`)."""
    return _synth(_spread(docs.select("doc_id")), _jpeg_422_payload)


JPEG_COLOR_STATS_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
        StructField("min_r", LongType()),
        StructField("max_r", LongType()),
        StructField("first_r", LongType()),
        StructField("first_g", LongType()),
        StructField("first_b", LongType()),
        StructField("last_r", LongType()),
        StructField("last_g", LongType()),
        StructField("last_b", LongType()),
    ]
)


def _jpeg_color_row(buf: bytes) -> tuple[int, ...]:
    w, h, rgb = _parse_jpeg_color(buf)
    return (
        w, h,
        *(int(rgb[:, :, c].sum()) for c in range(3)),
        int(rgb[:, :, 0].min()), int(rgb[:, :, 0].max()),
        *(int(v) for v in rgb[0, 0]),
        *(int(v) for v in rgb[h - 1, w - 1]),
    )


def jpeg_color_stats(assets: DataFrame) -> DataFrame:
    """Decode 4:2:0 color baseline JPEG payloads through the full
    from-scratch path (per-component Huffman/dequant, MCU-interleaved
    entropy order, chroma box-upsample, YCbCr→RGB) and report exact
    integer stats over the RGB image: per-channel sums, R min/max, and
    the first (0,0) and last (h−1, w−1) pixels' full RGB triples — the
    corner pixels pin MCU geometry, the three DC-difference chains AND
    chroma replication placement at once (a block mis-placement or a
    swapped Cb/Cr table moves them). Fused narrow mapInPandas: zero
    shuffles, linear scale-out."""
    return _per_asset(assets, JPEG_COLOR_STATS_SCHEMA, _jpeg_color_row)
