"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride through the engine as ``binary`` columns with a
struct of typed metadata, exactly like any other column — partitioning,
predicate pushdown on the metadata, and shuffles all work unchanged. The
compute-heavy steps (decode, feature-extract, resize, frame-sample) are
Arrow-batched pandas functions over ``mapInPandas`` so bytes move
column-wise, not row-wise.

Decoding is REAL for the three dependency-free containers implemented here
with the stdlib only: PPM (P6) and PNG (8-bit RGB, zlib-inflated, all five
scanline filters, CRC-verified) images and RIFF/WAVE 16-bit PCM audio —
``decode_ppm`` / ``decode_png`` / ``decode_wav`` parse actual headers and
payload bytes, and ``decode_features`` sniffs the container from magic
bytes and emits exact integer pixel/sample statistics (byte-checkable
against an oracle).
Codec-library formats (JPEG/MP4/...) remain gated behind
``require_codecs()``.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ecommerce_etl_pipeline_spark.operators.parallelism import ensure_parallelism
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: Schema of a multimodal asset table: payload is opaque; metadata is typed
#: and filterable (predicate pushdown applies to these columns, never to
#: the payload bytes).
ASSET_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("media_type", StringType()),  # image/audio/video
        StructField("payload", BinaryType()),
        StructField("n_bytes", LongType()),
        StructField("source", StringType()),
    ]
)

def require_codecs() -> None:
    """Gate for codec-library formats (JPEG/MP4/...) — those libraries are
    not available in this environment. PPM and WAV decode natively via
    :func:`decode_ppm` / :func:`decode_wav`; anything else lands here."""
    raise NotImplementedError(
        "media codecs (PIL/av/soundfile) are not installed in this container; "
        "PPM/WAV decode natively (decode_features), other formats are gated"
    )


# ---------------------------------------------------------------------------
# Dependency-free containers: PPM (P6) and RIFF/WAVE 16-bit PCM. Encoders
# and parsers are stdlib-only and byte-exact — the decode path is REAL, not
# a stub, so decoded statistics are checkable against an oracle.
# ---------------------------------------------------------------------------


def encode_ppm(width: int, height: int, pixels: bytes) -> bytes:
    """Binary-PPM (P6) encode: ``P6\\n{w} {h}\\n255\\n`` + raw RGB rows.
    ``pixels`` must be exactly ``3*width*height`` bytes."""
    if len(pixels) != 3 * width * height:
        raise ValueError(f"expected {3 * width * height} pixel bytes, got {len(pixels)}")
    return f"P6\n{width} {height}\n255\n".encode("ascii") + pixels


def decode_ppm(b: bytes) -> tuple[int, int, bytes]:
    """Parse a binary PPM (P6): magic, whitespace/comment-tolerant header
    tokens (width, height, maxval), single whitespace, raw RGB bytes.
    Returns (width, height, pixel_bytes). Raises ValueError on malformed
    input — truncated payloads, wrong magic, non-8-bit maxval."""
    if b[:2] != b"P6":
        raise ValueError("not a P6 PPM")
    pos, vals = 2, []
    while len(vals) < 3:
        while pos < len(b) and b[pos : pos + 1].isspace():
            pos += 1
        if pos >= len(b):
            raise ValueError("truncated PPM header")
        if b[pos : pos + 1] == b"#":  # comment runs to end of line
            while pos < len(b) and b[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(b) and not b[pos : pos + 1].isspace():
            pos += 1
        vals.append(int(b[start:pos]))
    pos += 1  # exactly one whitespace byte separates maxval from raster data
    width, height, maxval = vals
    if maxval != 255:
        raise ValueError(f"only 8-bit PPM supported, maxval={maxval}")
    data = b[pos : pos + 3 * width * height]
    if len(data) != 3 * width * height:
        raise ValueError("truncated PPM raster")
    return width, height, data


def encode_wav(samples: list[int], sample_rate: int = 8000) -> bytes:
    """Canonical 44-byte RIFF/WAVE header + 16-bit LE mono PCM samples."""
    data = struct.pack(f"<{len(samples)}h", *samples)
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16)
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def decode_wav(b: bytes) -> tuple[int, tuple[int, ...]]:
    """Parse RIFF/WAVE: walk the chunk list (word-aligned) to ``fmt `` and
    ``data``; only 16-bit mono PCM is accepted. Returns (sample_rate,
    samples). Raises ValueError on malformed or unsupported input."""
    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        size = int.from_bytes(b[pos + 4 : pos + 8], "little")
        body = b[pos + 8 : pos + 8 + size]
        if len(body) != size:
            raise ValueError(f"truncated {cid!r} chunk")
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    if len(fmt) < 16:
        raise ValueError(f"fmt chunk too short: {len(fmt)} bytes")
    audio_format, channels, rate = struct.unpack("<HHI", fmt[:8])
    (bits,) = struct.unpack("<H", fmt[14:16])
    if (audio_format, channels, bits) != (1, 1, 16):
        raise ValueError(f"unsupported WAV: fmt={audio_format} ch={channels} bits={bits}")
    n = len(data) // 2
    return rate, struct.unpack(f"<{n}h", data[: 2 * n])


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _paeth(a: int, b: int, c: int) -> int:
    """Paeth predictor (PNG spec 9.4): pick the neighbor (left, up,
    up-left) closest to the linear estimate a + b - c."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _png_chunk(cid: bytes, body: bytes) -> bytes:
    import zlib

    return (
        struct.pack(">I", len(body))
        + cid
        + body
        + struct.pack(">I", zlib.crc32(cid + body))
    )


def encode_png(width: int, height: int, pixels: bytes, *, filter_type: int = 0) -> bytes:
    """Minimal-but-real 8-bit RGB PNG encode: signature + IHDR + one
    zlib-compressed IDAT + IEND, CRCs included. ``filter_type`` (0=None,
    1=Sub, 2=Up, 3=Average, 4=Paeth) is applied to EVERY scanline so the
    decoder's five unfilter paths can all be exercised with real streams.
    ``pixels`` must be exactly ``3*width*height`` RGB-interleaved bytes."""
    import zlib

    if len(pixels) != 3 * width * height:
        raise ValueError(f"expected {3 * width * height} pixel bytes, got {len(pixels)}")
    if filter_type not in range(5):
        raise ValueError(f"bad filter type {filter_type}")
    stride = 3 * width
    raw = bytearray()
    prev = bytes(stride)
    for y in range(height):
        row = pixels[y * stride : (y + 1) * stride]
        raw.append(filter_type)
        if filter_type == 0:
            raw += row
        elif filter_type == 1:
            raw += bytes(
                (row[i] - (row[i - 3] if i >= 3 else 0)) & 0xFF for i in range(stride)
            )
        elif filter_type == 2:
            raw += bytes((row[i] - prev[i]) & 0xFF for i in range(stride))
        elif filter_type == 3:
            raw += bytes(
                (row[i] - ((row[i - 3] if i >= 3 else 0) + prev[i]) // 2) & 0xFF
                for i in range(stride)
            )
        else:
            raw += bytes(
                (
                    row[i]
                    - _paeth(
                        row[i - 3] if i >= 3 else 0,
                        prev[i],
                        prev[i - 3] if i >= 3 else 0,
                    )
                )
                & 0xFF
                for i in range(stride)
            )
        prev = row
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(b: bytes) -> tuple[int, int, bytes]:
    """Parse an 8-bit RGB PNG: verify signature and per-chunk CRCs, walk
    the chunk list (IHDR first, IDATs concatenated, IEND terminates),
    inflate, and reverse the per-scanline filter (all five types).
    Returns (width, height, RGB raster bytes). Raises ValueError on
    malformed input — bad signature/CRC, truncation, non-RGB8 or
    interlaced images, wrong raster size."""
    import zlib

    if b[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos, ihdr, idat, ended = 8, None, bytearray(), False
    while pos + 8 <= len(b):
        (length,) = struct.unpack(">I", b[pos : pos + 4])
        cid = b[pos + 4 : pos + 8]
        body = b[pos + 8 : pos + 8 + length]
        if len(body) != length or pos + 12 + length > len(b):
            raise ValueError(f"truncated {cid!r} chunk")
        (crc,) = struct.unpack(">I", b[pos + 8 + length : pos + 12 + length])
        if crc != zlib.crc32(cid + body):
            raise ValueError(f"CRC mismatch in {cid!r} chunk")
        if cid == b"IHDR":
            ihdr = body
        elif cid == b"IDAT":
            idat += body
        elif cid == b"IEND":
            ended = True
            break
        pos += 12 + length
    if ihdr is None or not idat or not ended:
        raise ValueError("missing IHDR/IDAT/IEND chunk")
    if len(ihdr) != 13:
        raise ValueError(f"bad IHDR length {len(ihdr)}")
    width, height, depth, color, comp, filt, interlace = struct.unpack(">IIBBBBB", ihdr)
    if (depth, color, comp, filt, interlace) != (8, 2, 0, 0, 0):
        raise ValueError(
            f"unsupported PNG: depth={depth} color={color} interlace={interlace}"
        )
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as e:
        raise ValueError(f"bad IDAT stream: {e}") from e
    stride = 3 * width
    if len(raw) != height * (stride + 1):
        raise ValueError(f"raster size {len(raw)} != {height * (stride + 1)}")
    out = bytearray()
    prev = bytes(stride)
    for y in range(height):
        ft = raw[y * (stride + 1)]
        line = raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)]
        recon = bytearray(stride)
        if ft == 0:
            recon[:] = line
        elif ft == 1:
            for i in range(stride):
                recon[i] = (line[i] + (recon[i - 3] if i >= 3 else 0)) & 0xFF
        elif ft == 2:
            for i in range(stride):
                recon[i] = (line[i] + prev[i]) & 0xFF
        elif ft == 3:
            for i in range(stride):
                recon[i] = (line[i] + ((recon[i - 3] if i >= 3 else 0) + prev[i]) // 2) & 0xFF
        elif ft == 4:
            for i in range(stride):
                recon[i] = (
                    line[i]
                    + _paeth(
                        recon[i - 3] if i >= 3 else 0,
                        prev[i],
                        prev[i - 3] if i >= 3 else 0,
                    )
                ) & 0xFF
        else:
            raise ValueError(f"bad scanline filter {ft}")
        out += recon
        prev = bytes(recon)
    return width, height, bytes(out)


# Fixture contract for synthesize_media_assets: payloads are pure functions
# of doc_id so an oracle can recompute the decoded statistics in closed form.
#   doc_id even -> PPM image, w = 8 + doc_id%8, h = 6 + doc_id%6,
#                  raster byte i (0-based, RGB-interleaved) = (doc_id*7 + i*13) % 256
#   doc_id odd  -> WAV audio,  n = 64 + doc_id%64 samples @8kHz,
#                  sample j = (doc_id*31 + j*17) % 65536 - 32768
def synthesize_media_assets(docs: DataFrame) -> DataFrame:
    """Build a REAL media asset table: every payload is a well-formed PPM
    or WAV container encoded in-batch (Arrow boundary, no driver
    round-trip). Deterministic per doc_id — see the fixture contract above.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: dict[str, list] = {
                "asset_id": [],
                "media_type": [],
                "payload": [],
                "n_bytes": [],
                "source": [],
            }
            for did, source in zip(pdf["doc_id"], pdf["source"]):
                did = int(did)
                if did % 2 == 0:
                    w, h = 8 + did % 8, 6 + did % 6
                    pixels = bytes((did * 7 + i * 13) % 256 for i in range(3 * w * h))
                    payload, mtype = encode_ppm(w, h, pixels), "image"
                else:
                    n = 64 + did % 64
                    samples = [(did * 31 + j * 17) % 65536 - 32768 for j in range(n)]
                    payload, mtype = encode_wav(samples), "audio"
                out["asset_id"].append(did)
                out["media_type"].append(mtype)
                out["payload"].append(payload)
                out["n_bytes"].append(len(payload))
                out["source"].append(source)
            yield pd.DataFrame(out)

    # widen before the Python boundary: a single-row-group parquet scan is
    # ONE partition, i.e. ONE Python worker for the whole corpus; no-op on
    # an already-wide scan (never shrinks)
    docs = ensure_parallelism(docs)
    return docs.select("doc_id", "source").mapInPandas(batches, ASSET_SCHEMA)


# Fixture contract for synthesize_png_assets: every doc becomes a PNG with
# the SAME pixel formula as the PPM contract (w = 8 + doc_id%8,
# h = 6 + doc_id%6, raster byte i = (doc_id*7 + i*13) % 256) but encoded
# with scanline filter doc_id % 5 — so one corpus exercises all five
# filter paths, and decoded pixel statistics stay closed-form computable
# (n_bytes is NOT: it depends on zlib, so PNG queries must not expose it).
def synthesize_png_assets(docs: DataFrame) -> DataFrame:
    """Real PNG asset table: deterministic RGB rasters compressed through
    zlib with per-doc scanline filters. See the fixture contract above."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: dict[str, list] = {
                "asset_id": [],
                "media_type": [],
                "payload": [],
                "n_bytes": [],
                "source": [],
            }
            for did, source in zip(pdf["doc_id"], pdf["source"]):
                did = int(did)
                w, h = 8 + did % 8, 6 + did % 6
                pixels = bytes((did * 7 + i * 13) % 256 for i in range(3 * w * h))
                payload = encode_png(w, h, pixels, filter_type=did % 5)
                out["asset_id"].append(did)
                out["media_type"].append("image")
                out["payload"].append(payload)
                out["n_bytes"].append(len(payload))
                out["source"].append(source)
            yield pd.DataFrame(out)

    # widen before the Python boundary: a single-row-group parquet scan is
    # ONE partition, i.e. ONE Python worker for the whole corpus; no-op on
    # an already-wide scan (never shrinks)
    docs = ensure_parallelism(docs)
    return docs.select("doc_id", "source").mapInPandas(batches, ASSET_SCHEMA)


DECODED_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("media_type", StringType()),
        StructField("n_bytes", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
        StructField("n_samples", IntegerType()),
        StructField("sum_amp", LongType()),
        StructField("sum_sq_amp", LongType()),
    ]
)


def decode_features(assets: DataFrame) -> DataFrame:
    """REAL decode + feature extraction over mapInPandas: the container is
    sniffed from magic bytes, headers are parsed, and exact integer
    statistics are computed from the decoded raster/samples — per-channel
    pixel sums for images, amplitude sum / sum-of-squares for audio. All
    outputs are integers, so the result is byte-exactly oracle-checkable;
    any mis-parse (offset, endianness, header length) changes the numbers.

    Unknown containers raise — at 100 TB you want loud schema drift, and a
    quarantine variant is one try/except away with the same plumbing.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows: dict[str, list] = {f.name: [] for f in DECODED_SCHEMA.fields}
            for aid, mtype, payload in zip(
                pdf["asset_id"], pdf["media_type"], pdf["payload"]
            ):
                b = bytes(payload)
                r = {f.name: None for f in DECODED_SCHEMA.fields}
                r.update(asset_id=int(aid), media_type=mtype, n_bytes=len(b))
                if b[:2] == b"P6" or b[:8] == _PNG_SIG:
                    w, h, data = (decode_ppm if b[:2] == b"P6" else decode_png)(b)
                    r.update(
                        width=w,
                        height=h,
                        sum_r=sum(data[0::3]),
                        sum_g=sum(data[1::3]),
                        sum_b=sum(data[2::3]),
                    )
                elif b[:4] == b"RIFF":
                    _, samples = decode_wav(b)
                    r.update(
                        n_samples=len(samples),
                        sum_amp=sum(samples),
                        sum_sq_amp=sum(s * s for s in samples),
                    )
                else:
                    raise ValueError(f"asset {aid}: unknown container magic {b[:4]!r}")
                for k, v in r.items():
                    rows[k].append(v)
            yield pd.DataFrame(rows)

    return assets.mapInPandas(batches, DECODED_SCHEMA)


def assets_from_documents(docs: DataFrame) -> DataFrame:
    """Build an asset table from the documents fixture: utf-8 payload bytes
    stand in for encoded media. Demonstrates binary-column creation and
    typed-metadata derivation."""
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("image").alias("media_type"),
        F.encode("text", "utf-8").alias("payload"),
        F.octet_length("text").cast("bigint").alias("n_bytes"),
        "source",
    )


AUDIO_FRAME_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("frame_index", IntegerType()),
        StructField("n_frame_samples", IntegerType()),
        StructField("frame_sum_amp", LongType()),
    ]
)


def sample_audio_frames(
    assets: DataFrame, *, frame_samples: int = 16, every_nth: int = 2
) -> DataFrame:
    """REAL frame sampling over decoded audio: WAV payloads are parsed
    (:func:`decode_wav`), the PCM stream is windowed into
    ``frame_samples``-sample frames, and every ``every_nth`` frame is kept
    with its exact amplitude sum — the 1→N asset-to-frame fan-out of a
    video/audio pipeline, with real bytes. Non-audio assets are skipped.
    Output partitioning inherits the input's; no shuffle.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: dict[str, list] = {f.name: [] for f in AUDIO_FRAME_SCHEMA.fields}
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                b = bytes(payload)
                if b[:4] != b"RIFF":
                    continue
                _, samples = decode_wav(b)
                n_frames = -(-len(samples) // frame_samples)
                for f in range(0, n_frames, every_nth):
                    seg = samples[f * frame_samples : (f + 1) * frame_samples]
                    out["asset_id"].append(int(aid))
                    out["frame_index"].append(f)
                    out["n_frame_samples"].append(len(seg))
                    out["frame_sum_amp"].append(sum(seg))
            yield pd.DataFrame(out)

    return assets.mapInPandas(batches, AUDIO_FRAME_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("frame_index", IntegerType()),
        StructField("frame_offset", LongType()),
        StructField("frame_payload", BinaryType()),
    ]
)


def sample_frames(
    assets: DataFrame,
    *,
    frame_bytes: int = 64,
    every_nth: int = 4,
    fake: bool = True,
) -> DataFrame:
    """Frame sampling: one video asset row fans out to N frame rows — the
    1→N explode shape every video pipeline needs, through Arrow batches.

    The fake decoder treats the payload as fixed-size byte frames and keeps
    every ``every_nth`` one (a real one would demux + decode keyframes with
    identical plumbing). Output partitioning inherits the input's, so
    downstream per-frame work parallelizes without a shuffle.
    """
    if not fake:
        require_codecs()

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: dict[str, list] = {
                "asset_id": [],
                "frame_index": [],
                "frame_offset": [],
                "frame_payload": [],
            }
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                n_frames = max(1, len(payload) // frame_bytes)
                for i in range(0, n_frames, every_nth):
                    off = i * frame_bytes
                    out["asset_id"].append(aid)
                    out["frame_index"].append(i)
                    out["frame_offset"].append(off)
                    out["frame_payload"].append(bytes(payload[off : off + frame_bytes]))
            yield pd.DataFrame(out)

    return assets.mapInPandas(batches, FRAME_SCHEMA)


def resize(assets: DataFrame, *, target_bytes: int = 256, fake: bool = True) -> DataFrame:
    """Payload resize: binary -> binary transform preserving the asset
    schema (metadata updated to the new size). The fake path
    truncates/zero-pads to ``target_bytes``; a real one would re-encode at
    a target resolution with the same batch-in/batch-out shape.
    """
    if not fake:
        require_codecs()

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            resized = pdf["payload"].map(
                lambda b: bytes(b[:target_bytes]).ljust(target_bytes, b"\x00")
            )
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "media_type": pdf["media_type"],
                    "payload": resized,
                    "n_bytes": resized.map(len).astype("int64"),
                    "source": pdf["source"],
                }
            )

    return assets.mapInPandas(batches, ASSET_SCHEMA)
