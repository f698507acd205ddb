"""Multimodal-column plumbing (north-star surface).

Treats media as opaque ``binary`` columns with typed metadata structs,
processed by Arrow-batched ``mapInPandas`` operators — the pattern for
decode / feature-extract / resize / frame-sample stages at 100 TB
(bytes never leave the executor; Python sees pandas batches via Arrow).

Every lane decodes FOR REAL with no third-party codecs:
``multimodal_wav_decode`` synthesizes genuine RIFF/WAVE containers and
parses them back with stdlib ``wave``; ``multimodal_ppm_decode`` does
the same with binary PPM (P6) images through a comment-tolerant header
parser; ``multimodal_png_decode`` inflates real deflate streams with
stdlib ``zlib`` and reverses all five scanline filters; and
``multimodal_jpeg_decode`` implements a dependency-free baseline JFIF
codec — canonical Huffman entropy coding, byte stuffing, zigzag
dequantization, and a genuine 2-D IDCT. Zero stubs remain. Every
stage's payloads are synthesized deterministically from document text,
so plain SQL over the source can verify the full encode→decode byte
plumbing end to end.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from minimapreduce_spark.catalog import fan_out, load_table
from minimapreduce_spark.registry import register

FEATURE_SCHEMA = "doc_id bigint, n_bytes bigint, first_byte bigint, byte_checksum bigint"


def binary_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (doc_id, payload binary, meta struct): the canonical
    multimodal layout. payload = utf-8 bytes of the text (stand-in for
    image/audio bytes); meta carries the typed sidecar a real ingest
    would parse from headers."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.length("text").cast("bigint").alias("n_chars"),
            F.col("source").alias("origin"),
        ).alias("meta"),
    )


def decode_image(payload: bytes) -> dict:
    """Dispatch an image payload to its real decoder by magic bytes:
    JPEG → ``decode_jpeg`` (baseline JFIF: marker parse, canonical
    Huffman entropy decode with byte-unstuffing, dequantize, 2-D IDCT),
    PNG → ``decode_png`` (stdlib zlib inflate + scanline unfilter,
    CRC-verified), PPM → ``decode_ppm``. Every lane decodes for real:
    no magic-byte lane falls back to a stub."""
    if payload[:2] == b"\xff\xd8":
        return decode_jpeg(payload)
    if payload[: len(_PNG_SIG)] == _PNG_SIG:
        return decode_png(payload)
    if payload[:2] == b"P6":
        return decode_ppm(payload)
    raise ValueError("unrecognized image container (expected JPEG/PNG/PPM)")


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def decode_png(payload: bytes) -> dict:
    """REAL compressed-image decode, dependency-free: parse the PNG
    container (signature, length-prefixed chunks, CRC-32 verification
    of every chunk), inflate the concatenated IDAT stream with stdlib
    ``zlib``, then reverse the per-scanline filters (None/Sub/Up/
    Average/Paeth — the full spec set) to recover the raw pixel plane.
    Supports 8-bit truecolor (color type 2), the synthesis lane's
    format. A decoder that skipped CRC checks, mis-concatenated IDATs,
    or botched any filter's reconstruction arithmetic produces a
    different pixel checksum and fails the oracle hash."""
    import struct
    import zlib

    if payload[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos = len(_PNG_SIG)
    idat = b""
    header = None
    while pos < len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(">I", payload[pos + 8 + length : pos + 12 + length])
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"bad CRC in {ctype!r} chunk")
        if ctype == b"IHDR":
            header = struct.unpack(">IIBBBBB", data)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if header is None:
        raise ValueError("missing IHDR")
    width, height, bit_depth, color_type, _comp, _filt, interlace = header
    if bit_depth != 8 or color_type != 2 or interlace != 0:
        raise ValueError("decoder supports 8-bit truecolor non-interlaced only")
    bpp = 3
    stride = width * bpp
    raw = zlib.decompress(idat)
    if len(raw) != height * (1 + stride):
        raise ValueError("inflated size does not match dimensions")
    out = bytearray()
    prev = bytes(stride)
    for y in range(height):
        row = raw[y * (1 + stride) : (y + 1) * (1 + stride)]
        ftype, filt = row[0], bytearray(row[1:])
        if ftype == 0:  # None
            cur = filt
        elif ftype == 1:  # Sub
            cur = filt
            for i in range(bpp, stride):
                cur[i] = (cur[i] + cur[i - bpp]) & 0xFF
        elif ftype == 2:  # Up
            cur = bytearray((filt[i] + prev[i]) & 0xFF for i in range(stride))
        elif ftype == 3:  # Average
            cur = filt
            for i in range(stride):
                left = cur[i - bpp] if i >= bpp else 0
                cur[i] = (cur[i] + (left + prev[i]) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            cur = filt
            for i in range(stride):
                a = cur[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                cur[i] = (cur[i] + pred) & 0xFF
        else:
            raise ValueError(f"unknown filter type {ftype}")
        out += cur
        prev = bytes(cur)
    return {
        "width": width,
        "height": height,
        "bit_depth": bit_depth,
        "color_type": color_type,
        "n_pixel_bytes": len(out),
        "pixel_checksum": sum(out) % 1000000007,
    }


def decode_wav(payload: bytes) -> dict:
    """REAL audio decode (no stub): parse a RIFF/WAVE container with
    the stdlib ``wave`` module and return typed metadata + the exact
    integer energy of the 8-bit PCM samples."""
    import io
    import wave

    with wave.open(io.BytesIO(payload)) as w:
        frames = w.readframes(w.getnframes())
        return {
            "n_channels": w.getnchannels(),
            "sample_width": w.getsampwidth(),
            "frame_rate": w.getframerate(),
            "n_frames": w.getnframes(),
            "energy": sum(b * b for b in frames),
        }


def decode_ppm(payload: bytes) -> dict:
    """REAL image decode (no stub): parse the binary PPM (P6) format —
    magic, whitespace/comment-tolerant header, maxval, then raw RGB
    bytes — and return dimensions + an exact pixel checksum."""
    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    # header tokens: magic, width, height, maxval; '#' starts a comment
    tokens: list[bytes] = []
    i = 2
    while len(tokens) < 3:
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        if payload[i : i + 1] == b"#":
            while i < len(payload) and payload[i : i + 1] != b"\n":
                i += 1
            continue
        start = i
        while i < len(payload) and not payload[i : i + 1].isspace():
            i += 1
        tokens.append(payload[start:i])
    i += 1  # single whitespace after maxval, then raw pixel data
    width, height, maxval = (int(t) for t in tokens)
    pixels = payload[i : i + width * height * 3]
    if len(pixels) != width * height * 3:
        raise ValueError("truncated PPM pixel data")
    return {
        "width": width,
        "height": height,
        "maxval": maxval,
        "n_pixel_bytes": len(pixels),
        "pixels": pixels,  # raw plane for downstream feature stages
        "pixel_checksum": sum(pixels) % 1000000007,
    }


def extract_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas stage: per Arrow batch, compute deterministic
    byte-level features (length, first byte, additive checksum mod
    1e9+7). Shape-identical to a real decode+featurize stage."""
    for pdf in batches:
        payloads = pdf["payload"]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": payloads.map(len),
                "first_byte": payloads.map(lambda b: b[0] if len(b) else -1),
                "byte_checksum": payloads.map(lambda b: sum(b) % 1000000007),
            }
        )


RESIZE_SCHEMA = "doc_id bigint, n_bytes_out bigint, checksum_out bigint"
RESIZE_STRIDE = 2

FRAME_BYTES = 64
FRAME_STRIDE = 4
FRAME_SCHEMA = "doc_id bigint, frame_index bigint, frame_bytes bigint, frame_checksum bigint"


def resize_stride(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas 'resize' stage: stride-2 byte downsample — the
    deterministic stand-in for an image resize kernel (swap the body
    for PIL `Image.resize` on a cluster with codecs; the batch shape,
    schema, and partitioning stay identical)."""
    mod = 1000000007
    for pdf in batches:
        resized = pdf["payload"].map(lambda b: b[::RESIZE_STRIDE])
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes_out": resized.map(len),
                "checksum_out": resized.map(lambda b: sum(b) % mod),
            }
        )


def sample_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas frame-sample stage: treat the payload as a video of
    FRAME_BYTES-sized frames, keep every FRAME_STRIDE-th full frame —
    one OUTPUT ROW PER SAMPLED FRAME (rows-out > rows-in, the UDTF-like
    mapInPandas shape). Real video would swap the slicing for a
    pyav/ffmpeg keyframe read; partitioning and schema are unchanged."""
    mod = 1000000007
    for pdf in batches:
        out: dict[str, list] = {"doc_id": [], "frame_index": [], "frame_bytes": [], "frame_checksum": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            n_frames = len(payload) // FRAME_BYTES
            for fi in range(0, n_frames, FRAME_STRIDE):
                frame = payload[fi * FRAME_BYTES : (fi + 1) * FRAME_BYTES]
                out["doc_id"].append(doc_id)
                out["frame_index"].append(fi)
                out["frame_bytes"].append(len(frame))
                out["frame_checksum"].append(sum(frame) % mod)
        yield pd.DataFrame(out)


@register(
    "multimodal_resize",
    oracle="""
    SELECT doc_id,
           CAST((length(text) + 1) // 2 AS BIGINT) AS n_bytes_out,
           CAST(list_sum(list_transform(generate_series(1, length(text), 2),
                i -> ascii(substr(text, i, 1)))) % 1000000007 AS BIGINT) AS checksum_out
    FROM documents
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize stage over binary payloads via Arrow-batched mapInPandas;
    the stride downsample is byte-for-byte reproducible in SQL, which
    oracle-checks the plumbing (batching, slicing, schema)."""
    from minimapreduce_spark._pickle import register_self_by_value

    register_self_by_value()
    return binary_table(spark, sf_dir).mapInPandas(resize_stride, schema=RESIZE_SCHEMA)


@register(
    "multimodal_frame_sample",
    oracle=f"""
    WITH f AS (
      SELECT doc_id, text, length(text) // {FRAME_BYTES} AS n_frames
      FROM documents
    ),
    fi AS (
      SELECT doc_id, text,
             unnest(generate_series(0, n_frames - 1, {FRAME_STRIDE})) AS frame_index
      FROM f WHERE n_frames > 0
    )
    SELECT doc_id,
           CAST(frame_index AS BIGINT) AS frame_index,
           CAST({FRAME_BYTES} AS BIGINT) AS frame_bytes,
           CAST(list_sum(list_transform(
                string_split(substr(text, frame_index * {FRAME_BYTES} + 1, {FRAME_BYTES}), ''),
                c -> ascii(c))) % 1000000007 AS BIGINT) AS frame_checksum
    FROM fi
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over binary payloads: every 4th 64-byte frame,
    one row per sampled frame — mapInPandas producing more rows than it
    consumes, the shape a real video frame-extractor has."""
    from minimapreduce_spark._pickle import register_self_by_value

    register_self_by_value()
    return binary_table(spark, sf_dir).mapInPandas(sample_frames, schema=FRAME_SCHEMA)


@register(
    "multimodal_features",
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS BIGINT)              AS n_bytes,
           CAST(ascii(substr(text, 1, 1)) AS BIGINT) AS first_byte,
           CAST(list_sum(list_transform(string_split(text, ''), c -> ascii(c)))
                % 1000000007 AS BIGINT)              AS byte_checksum
    FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column feature extraction via Arrow-batched mapInPandas.
    The corpus is ASCII, so byte length == char length and the byte
    checksum equals the char-code sum — which is what lets plain SQL
    oracle-check a binary-payload pipeline."""
    from minimapreduce_spark._pickle import register_self_by_value

    register_self_by_value()
    return binary_table(spark, sf_dir).mapInPandas(extract_features, schema=FEATURE_SCHEMA)


AUDIO_WINDOW = 256
AUDIO_SCHEMA = "doc_id bigint, window_id bigint, n_samples bigint, energy bigint, peak bigint"


def audio_windows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas audio-analysis stage: treat the payload as 8-bit PCM
    and emit fixed-size analysis windows (RMS-style energy + peak per
    window) — the windowing/batching shape a real loudness or VAD
    kernel has; swap the arithmetic for librosa/torchaudio where
    installed. Pure integer math, so the oracle reproduces it exactly."""
    import numpy as np

    for pdf in batches:
        out = {"doc_id": [], "window_id": [], "n_samples": [], "energy": [], "peak": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            arr = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
            for w, start in enumerate(range(0, len(arr), AUDIO_WINDOW)):
                win = arr[start : start + AUDIO_WINDOW]
                out["doc_id"].append(doc_id)
                out["window_id"].append(w)
                out["n_samples"].append(len(win))
                out["energy"].append(int((win * win).sum()))
                out["peak"].append(int(win.max()))
        yield pd.DataFrame(out)


@register(
    "multimodal_audio_windows",
    oracle=f"""
    WITH wins AS (
      SELECT doc_id, text,
             unnest(generate_series(1, length(text), {AUDIO_WINDOW})) AS start
      FROM documents
    )
    SELECT doc_id,
           CAST((start - 1) / {AUDIO_WINDOW} AS BIGINT) AS window_id,
           CAST(least({AUDIO_WINDOW}, length(text) - start + 1) AS BIGINT) AS n_samples,
           CAST(list_sum(list_transform(
                  generate_series(start, least(start + {AUDIO_WINDOW} - 1, length(text))),
                  i -> ascii(substr(text, i, 1)) * ascii(substr(text, i, 1))))
                AS BIGINT) AS energy,
           CAST(list_max(list_transform(
                  generate_series(start, least(start + {AUDIO_WINDOW} - 1, length(text))),
                  i -> ascii(substr(text, i, 1))))
                AS BIGINT) AS peak
    FROM wins
    """,
)
def multimodal_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed audio analysis over binary payloads (rows-out >
    rows-in: one row per 256-byte analysis window). Arrow-batched
    mapInPandas with integer-exact energy/peak, so the whole
    decode-window-analyze plumbing is oracle-checked byte-for-byte."""
    from minimapreduce_spark._pickle import register_self_by_value

    register_self_by_value()
    return binary_table(spark, sf_dir).mapInPandas(audio_windows, schema=AUDIO_SCHEMA)


WAV_RATE = 8000
WAV_SCHEMA = (
    "doc_id bigint, n_channels bigint, sample_width bigint, frame_rate bigint, "
    "n_frames bigint, duration_ms bigint, energy bigint"
)
PPM_SCHEMA = (
    "doc_id bigint, width bigint, height bigint, maxval bigint, "
    "n_pixel_bytes bigint, pixel_checksum bigint"
)


def _require_ascii(text: str) -> None:
    """The synthetic-media lanes (and their oracles) equate characters
    with bytes — ``length(text)`` vs ``text.encode()``, ``ascii(c)`` per
    char vs per byte — which only holds for non-empty ASCII documents.
    Enforce that contract loudly instead of crashing with an opaque
    IndexError (empty text) or silently hash-mismatching (multibyte)."""
    if not text or not text.isascii():
        raise ValueError(
            "synthetic media lanes require non-empty ASCII documents "
            "(the encode→decode oracles equate characters with bytes)"
        )


def encode_wav(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas ingest stage: synthesize a REAL RIFF/WAVE container
    per document (8-bit mono PCM at WAV_RATE, samples = the text's
    bytes) — deterministic, so SQL over the source text can predict
    what a genuine decoder must read back."""
    import io
    import wave

    for pdf in batches:
        payloads = []
        for text in pdf["text"]:
            _require_ascii(text)
            buf = io.BytesIO()
            with wave.open(buf, "wb") as w:
                w.setnchannels(1)
                w.setsampwidth(1)
                w.setframerate(WAV_RATE)
                w.writeframes(text.encode("utf-8"))
            payloads.append(buf.getvalue())
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


def wav_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas decode stage: REAL wave parse (decode_wav) of each
    binary payload → typed audio metadata + exact sample energy."""
    for pdf in batches:
        rows = [decode_wav(p) for p in pdf["payload"]]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_channels": [r["n_channels"] for r in rows],
                "sample_width": [r["sample_width"] for r in rows],
                "frame_rate": [r["frame_rate"] for r in rows],
                "n_frames": [r["n_frames"] for r in rows],
                "duration_ms": [r["n_frames"] * 1000 // WAV_RATE for r in rows],
                "energy": [r["energy"] for r in rows],
            }
        )


def encode_ppm(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas ingest stage: synthesize a REAL binary PPM (P6) per
    document — width/height derived from the text length, a header
    comment line (exercising the parser's comment handling), and solid
    RGB fill = the first byte of the text."""
    for pdf in batches:
        payloads = []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            _require_ascii(text)
            n = len(text)
            w, h = 1 + n % 64, 1 + n % 32
            fill = ord(text[0])
            header = f"P6\n# doc {doc_id}\n{w} {h}\n255\n".encode()
            payloads.append(header + bytes([fill]) * (w * h * 3))
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


def ppm_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas decode stage: REAL P6 parse (decode_ppm) → width,
    height, maxval, pixel stats."""
    for pdf in batches:
        rows = [decode_ppm(p) for p in pdf["payload"]]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "width": [r["width"] for r in rows],
                "height": [r["height"] for r in rows],
                "maxval": [r["maxval"] for r in rows],
                "n_pixel_bytes": [r["n_pixel_bytes"] for r in rows],
                "pixel_checksum": [r["pixel_checksum"] for r in rows],
            }
        )


PNG_SCHEMA = (
    "doc_id bigint, width bigint, height bigint, bit_depth bigint, "
    "color_type bigint, n_pixel_bytes bigint, pixel_checksum bigint"
)


def encode_png(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas ingest stage: synthesize a REAL compressed PNG per
    document — IHDR/IDAT/IEND with correct CRCs, zlib-deflated
    scanlines, and a per-row filter that CYCLES through None/Sub/Up
    (y % 3), applied genuinely against the raw bytes — so the decoder
    must implement real unfiltering, not just inflate. Pixel plane: row
    y is solid (fill + y) % 256 across all RGB channels, fill = first
    byte of the text; dimensions derive from the text length."""
    import struct
    import zlib

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    for pdf in batches:
        payloads = []
        for text in pdf["text"]:
            _require_ascii(text)
            n = len(text)
            w, h = 1 + n % 48, 1 + n % 24
            fill = ord(text[0])
            stride = w * 3
            rows = []
            prev = bytes(stride)
            for y in range(h):
                cur = bytes([(fill + y) % 256]) * stride
                ftype = y % 3
                if ftype == 0:  # None
                    filt = cur
                elif ftype == 1:  # Sub
                    filt = bytes(
                        cur[i] if i < 3 else (cur[i] - cur[i - 3]) & 0xFF
                        for i in range(stride)
                    )
                else:  # Up
                    filt = bytes((cur[i] - prev[i]) & 0xFF for i in range(stride))
                rows.append(bytes([ftype]) + filt)
                prev = cur
            ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
            payloads.append(
                _PNG_SIG
                + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(b"".join(rows)))
                + chunk(b"IEND", b"")
            )
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


def png_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas decode stage: REAL PNG parse (decode_png) — CRC
    check, zlib inflate, scanline unfilter → typed image metadata +
    exact pixel checksum."""
    for pdf in batches:
        rows = [decode_png(p) for p in pdf["payload"]]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "width": [r["width"] for r in rows],
                "height": [r["height"] for r in rows],
                "bit_depth": [r["bit_depth"] for r in rows],
                "color_type": [r["color_type"] for r in rows],
                "n_pixel_bytes": [r["n_pixel_bytes"] for r in rows],
                "pixel_checksum": [r["pixel_checksum"] for r in rows],
            }
        )


@register(
    "multimodal_png_decode",
    oracle="""
    WITH d AS (
      SELECT doc_id, 1 + length(text) % 48 AS w, 1 + length(text) % 24 AS h,
             ascii(substr(text, 1, 1)) AS fill
      FROM documents
    )
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(8 AS BIGINT) AS bit_depth,
           CAST(2 AS BIGINT) AS color_type,
           CAST(w * h * 3 AS BIGINT) AS n_pixel_bytes,
           CAST(list_sum(list_transform(generate_series(0, h - 1),
                y -> (w * 3) * ((fill + y) % 256))) % 1000000007 AS BIGINT)
             AS pixel_checksum
    FROM d
    """,
)
def multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL COMPRESSED image lane, dependency-free: synthesize a
    genuine PNG per document (deflated IDAT, CRC'd chunks, per-row
    None/Sub/Up filters applied against the raw pixel bytes), then
    decode it with a full spec-compliant reader — CRC verification,
    stdlib zlib inflate, and all five filter reconstructions — in a
    second Arrow-batched mapInPandas stage. The oracle recomputes
    width/height/bit-depth/color-type/checksum from the source text, so
    any bug in deflate framing, chunk CRCs, or unfilter arithmetic
    fails the hash. This closes the codec gap the PPM (uncompressed)
    lane left: only JPEG remains stubbed, being genuinely
    dependency-bound (decode_image documents that boundary).

    Scale posture: two chained narrow mapInPandas stages — zero
    shuffles; bytes never leave the executor.
    """
    from minimapreduce_spark._pickle import register_self_by_value

    register_self_by_value()
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pngs = docs.mapInPandas(encode_png, schema="doc_id bigint, payload binary")
    return pngs.mapInPandas(png_features, schema=PNG_SCHEMA)


# ── Baseline JFIF (JPEG) lane — dependency-free DCT/Huffman codec ──
#
# Canonical Huffman tables for the synthesis lane: the DC table is the
# Annex-K luminance shape (12 categories); the AC table declares only
# EOB — every block in the lane is DC-only by construction (solid 8×8
# blocks), which is also what makes the decode EXACT: a solid block's
# DCT has one nonzero coefficient, DC = 8·(g−128), and with a flat
# quantization table (all 1s) the round trip is lossless, so a SQL
# oracle can recompute the decoded pixels from the source text.
_JPEG_DC_BITS = (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
_JPEG_DC_VALS = tuple(range(12))
_JPEG_AC_BITS = (1,) + (0,) * 15
_JPEG_AC_VALS = (0x00,)  # EOB only

_JPEG_ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
)


def _jpeg_canonical(bits, vals):
    """(symbol → (code, length)) canonical Huffman assignment from the
    DHT BITS/HUFFVAL representation — the JPEG spec's Annex C flow."""
    out, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


class _JpegBitWriter:
    """MSB-first bit accumulator with the spec's 0xFF byte stuffing."""

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.buf.append(self.acc)
                if self.acc == 0xFF:
                    self.buf.append(0x00)
                self.acc = 0
                self.nbits = 0

    def flush(self) -> bytes:
        if self.nbits:
            self.acc = (self.acc << (8 - self.nbits)) | ((1 << (8 - self.nbits)) - 1)
            self.buf.append(self.acc)
            if self.acc == 0xFF:
                self.buf.append(0x00)
            self.acc = 0
            self.nbits = 0
        return bytes(self.buf)


def _jpeg_category(v: int):
    """JPEG magnitude category + appended bits for a DC difference
    (negative values use the one's-complement convention)."""
    if v == 0:
        return 0, 0
    a, s = abs(v), 0
    while a:
        a >>= 1
        s += 1
    return s, (v if v >= 0 else v + (1 << s) - 1)


def encode_jpeg_payload(text: str) -> bytes:
    """Synthesize a REAL baseline JFIF per document: SOI/APP0/DQT/SOF0/
    DHT/SOS markers, canonical-Huffman entropy-coded scan with byte
    stuffing, EOI. The pixel plane is a grid of solid 8×8 blocks,
    block (bx, by) = (fill + 7·by + 3·bx) mod 256 with fill = first
    byte of the text — so DC differences sweep positive and negative
    magnitudes across Huffman categories (the classic codec bug
    surface), while staying exactly reconstructible."""
    import struct

    _require_ascii(text)
    n = len(text)
    fill = ord(text[0])
    wb, hb = 1 + n % 6, 1 + n % 4
    w, h = 8 * wb, 8 * hb

    dc_codes = _jpeg_canonical(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _jpeg_canonical(_JPEG_AC_BITS, _JPEG_AC_VALS)

    bw = _JpegBitWriter()
    prev_dc = 0
    for by in range(hb):
        for bx in range(wb):
            g = (fill + 7 * by + 3 * bx) % 256
            dc = 8 * (g - 128)
            s, extra = _jpeg_category(dc - prev_dc)
            code, length = dc_codes[s]
            bw.write(code, length)
            if s:
                bw.write(extra, s)
            prev_dc = dc
            code, length = ac_codes[0x00]  # EOB: no AC coefficients
            bw.write(code, length)
    scan = bw.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    app0 = b"JFIF\x00" + bytes([1, 1, 0]) + struct.pack(">HH", 1, 1) + bytes([0, 0])
    dqt = bytes([0x00]) + bytes([1] * 64)  # table 0, 8-bit, flat 1s
    sof0 = struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0])
    dht = (
        bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
        + bytes([0x10]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS)
    )
    sos = bytes([1, 1, 0x00, 0, 63, 0])
    return (
        b"\xff\xd8"
        + seg(0xFFE0, app0)
        + seg(0xFFDB, dqt)
        + seg(0xFFC0, sof0)
        + seg(0xFFC4, dht)
        + seg(0xFFDA, sos)
        + scan
        + b"\xff\xd9"
    )


class _JpegBitReader:
    """MSB-first bit reader over an entropy-coded segment, removing the
    spec's 0xFF00 stuffing and stopping at the next marker."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def read_bit(self) -> int:
        if self.nbits == 0:
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                nxt = self.data[self.pos]
                if nxt == 0x00:
                    self.pos += 1  # stuffed byte
                else:
                    raise ValueError("hit a marker inside the entropy scan")
            self.acc = b
            self.nbits = 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.read_bit()
        return v


def _jpeg_decode_symbol(br: _JpegBitReader, table: dict) -> int:
    code, length = 0, 0
    while length <= 16:
        code = (code << 1) | br.read_bit()
        length += 1
        sym = table.get((code, length))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code in scan")


def _jpeg_extend(v: int, s: int) -> int:
    return v if s == 0 or v >= (1 << (s - 1)) else v - (1 << s) + 1


def decode_jpeg(payload: bytes) -> dict:
    """REAL baseline JPEG decode, dependency-free: marker parse
    (APP0/DQT/SOF0/DHT/SOS), canonical Huffman tables rebuilt from the
    DHT BITS/HUFFVAL exactly as Annex C specifies, entropy decode with
    byte-unstuffing and DC prediction, run-length AC reconstruction in
    zigzag order, dequantization against the DQT table, a genuine 8×8
    2-D IDCT (separable cosine-matrix multiply), level shift and
    clamp. A decoder that botched category extension of negative DC
    diffs, zigzag order, stuffing, or IDCT normalization produces a
    different pixel checksum and fails the oracle hash."""
    import struct

    import numpy as np

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    pos = 2
    qtables: dict[int, list[int]] = {}
    htables: dict[tuple[int, int], dict] = {}
    frame = None
    scan_comp = None
    while pos < len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("expected a marker")
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack(">H", payload[pos + 2 : pos + 4])
        body = payload[pos + 4 : pos + 2 + seglen]
        pos += 2 + seglen
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 15
                if pq != 0:
                    raise ValueError("only 8-bit quant tables supported")
                qtables[tq] = list(body[i + 1 : i + 65])
                i += 65
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 15
                bits = tuple(body[i + 1 : i + 17])
                nsym = sum(bits)
                vals = tuple(body[i + 17 : i + 17 + nsym])
                htables[(tc, th)] = {
                    (code, length): sym
                    for sym, (code, length) in _jpeg_canonical(bits, vals).items()
                }
                i += 17 + nsym
        elif marker == 0xC0:  # SOF0 (baseline)
            precision, h, w, ncomp = struct.unpack(">BHHB", body[:6])
            if precision != 8 or ncomp != 1:
                raise ValueError("decoder supports 8-bit single-component baseline")
            cid, sampling, tq = body[6], body[7], body[8]
            if sampling != 0x11:
                raise ValueError("subsampling unsupported")
            frame = (h, w, tq)
        elif marker == 0xC2:
            raise ValueError("progressive JPEG unsupported (baseline only)")
        elif marker == 0xDA:  # SOS — entropy data follows the header
            ns = body[0]
            if ns != 1:
                raise ValueError("single-component scan only")
            scan_comp = (body[2] >> 4, body[2] & 15)  # (dc table, ac table)
            break
    if frame is None or scan_comp is None:
        raise ValueError("missing SOF0 or SOS")
    h, w, tq = frame
    if h % 8 or w % 8:
        raise ValueError("synthesis lane emits full MCU grids only")
    quant = np.array(qtables[tq], dtype=np.float64)
    dc_tab = htables[(0, scan_comp[0])]
    ac_tab = htables[(1, scan_comp[1])]

    # separable IDCT basis: f = M @ F @ M.T
    u = np.arange(8)
    c = np.where(u == 0, 1.0 / np.sqrt(2.0), 1.0)
    M = (c / 2.0) * np.cos((2 * u[:, None] + 1) * u[None, :] * np.pi / 16.0)

    br = _JpegBitReader(payload, pos)
    img = np.zeros((h, w), dtype=np.float64)
    prev_dc = 0
    for by in range(h // 8):
        for bx in range(w // 8):
            zz = np.zeros(64, dtype=np.float64)
            s = _jpeg_decode_symbol(br, dc_tab)
            prev_dc += _jpeg_extend(br.read_bits(s), s)
            zz[0] = prev_dc
            k = 0
            while k < 63:
                sym = _jpeg_decode_symbol(br, ac_tab)
                if sym == 0x00:  # EOB
                    break
                run, size = sym >> 4, sym & 15
                if sym == 0xF0:  # ZRL
                    k += 16
                    continue
                k += run + 1
                if k > 63:
                    raise ValueError("AC run past block end")
                zz[k] = _jpeg_extend(br.read_bits(size), size)
            coef = np.zeros(64, dtype=np.float64)
            coef[list(_JPEG_ZIGZAG)] = zz * quant
            block = M @ coef.reshape(8, 8) @ M.T + 128.0
            img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = block
    pixels = np.clip(np.rint(img), 0, 255).astype(np.int64)
    return {
        "width": w,
        "height": h,
        "n_components": 1,
        "n_blocks": (h // 8) * (w // 8),
        "pixel_checksum": int(pixels.sum()) % 1000000007,
    }


JPEG_SCHEMA = (
    "doc_id bigint, width bigint, height bigint, n_components bigint, "
    "n_blocks bigint, pixel_checksum bigint"
)


def encode_jpeg(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas ingest stage: one real baseline JFIF per document
    (see ``encode_jpeg_payload``)."""
    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "payload": [encode_jpeg_payload(t) for t in pdf["text"]],
            }
        )


def jpeg_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas decode stage: full baseline decode (``decode_jpeg``)
    → typed image metadata + exact pixel checksum."""
    for pdf in batches:
        rows = [decode_jpeg(p) for p in pdf["payload"]]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "width": [r["width"] for r in rows],
                "height": [r["height"] for r in rows],
                "n_components": [r["n_components"] for r in rows],
                "n_blocks": [r["n_blocks"] for r in rows],
                "pixel_checksum": [r["pixel_checksum"] for r in rows],
            }
        )


@register(
    "multimodal_jpeg_decode",
    bench=True,  # the compressed-codec lane: chained Arrow stages, zero shuffles
    oracle="""
    WITH d AS (
      SELECT doc_id,
             1 + length(text) % 6 AS wb,
             1 + length(text) % 4 AS hb,
             ascii(substr(text, 1, 1)) AS fill
      FROM documents
    )
    SELECT doc_id,
           CAST(8 * wb AS BIGINT) AS width,
           CAST(8 * hb AS BIGINT) AS height,
           CAST(1 AS BIGINT) AS n_components,
           CAST(wb * hb AS BIGINT) AS n_blocks,
           CAST(list_sum(list_transform(generate_series(0, hb - 1), y ->
                  list_sum(list_transform(generate_series(0, wb - 1), x ->
                    64 * ((fill + 7 * y + 3 * x) % 256)))))
                % 1000000007 AS BIGINT) AS pixel_checksum
    FROM d
    """,
)
def multimodal_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LAST codec lane, now real — dependency-free baseline JPEG:
    synthesize a genuine JFIF per document (canonical-Huffman entropy
    scan over a solid-block pixel grid whose DC differences sweep
    positive and negative magnitude categories, byte stuffing, flat
    quantization), then decode it with a full baseline reader — marker
    parse, Annex-C Huffman reconstruction, DC prediction + category
    extension, zigzag dequantize, separable 2-D IDCT — in a second
    Arrow-batched mapInPandas stage. Solid blocks + a flat quant table
    make the lossy pipeline exactly lossless for this lane, so the
    DuckDB oracle recomputes every decoded pixel from the source text
    and any bug in the bitstream, Huffman, or IDCT arithmetic fails
    the value hash. With this, the package's stub count is zero.

    Scale posture: two chained narrow mapInPandas stages — zero
    shuffles; bytes never leave the executor (the PNG/WAV/PPM lane
    discipline).
    """
    from minimapreduce_spark._pickle import register_self_by_value

    register_self_by_value()
    # fan_out: the pure-Python encode+decode is the whole cost of this
    # lane, and the one-split local documents scan would serialize all
    # of it onto a single task (measured 1.46 → 0.9 s at sf0.1); at
    # real scale the scan already has ≥ parallelism splits and this is
    # a no-op, keeping the zero-shuffle posture.
    docs = fan_out(
        spark,
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        keys=["doc_id"],
    )
    jpgs = docs.mapInPandas(encode_jpeg, schema="doc_id bigint, payload binary")
    return jpgs.mapInPandas(jpeg_features, schema=JPEG_SCHEMA)


@register(
    "multimodal_wav_decode",
    oracle=f"""
    SELECT doc_id,
           CAST(1 AS BIGINT)    AS n_channels,
           CAST(1 AS BIGINT)    AS sample_width,
           CAST({WAV_RATE} AS BIGINT) AS frame_rate,
           CAST(length(text) AS BIGINT) AS n_frames,
           CAST(length(text) * 1000 // {WAV_RATE} AS BIGINT) AS duration_ms,
           CAST(list_sum(list_transform(string_split(text, ''),
                c -> ascii(c) * ascii(c))) AS BIGINT) AS energy
    FROM documents
    """,
)
def multimodal_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio lane, no stubs: synthesize a genuine RIFF/WAVE file
    per document, then decode it with the stdlib ``wave`` parser inside
    a second Arrow-batched mapInPandas stage — channels, sample width,
    frame rate, frame count, duration, and exact PCM energy all come
    from the decoder reading the container's actual header and frames.
    The oracle recomputes every field from the source text, so a header
    or framing bug anywhere in encode→decode fails the hash.

    Scale posture: two chained narrow mapInPandas stages — zero
    shuffles; bytes stay on the executor, Python sees Arrow batches.
    (Reference scope check: the reference has no media surface at all —
    this is north-star LLM-pipeline coverage.)
    """
    from minimapreduce_spark._pickle import register_self_by_value

    register_self_by_value()
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    wavs = docs.mapInPandas(encode_wav, schema="doc_id bigint, payload binary")
    return wavs.mapInPandas(wav_features, schema=WAV_SCHEMA)


# ---------------------------------------------------------------------------
# Spectral analysis over the decoded WAV lane — fixed-point DFT
# ---------------------------------------------------------------------------

DFT_N = 16        # samples per DFT window (full windows only)
DFT_GRID = 32768  # 2^15 twiddle quantization — |re|,|im| ≤ 16·127·2^15 < 2^27


def dft_twiddles() -> tuple[list[list[int]], list[list[int]]]:
    """Integer twiddle tables C[k][n] = round(cos(2πkn/N)·G) and
    S[k][n] = round(−sin(2πkn/N)·G) for k = 0..N/2. Computed ONCE here
    in Python and inlined as integer constants into BOTH the Spark
    kernel and the oracle SQL — so no trig function is ever evaluated
    cross-engine and the whole spectrum is exact BIGINT arithmetic."""
    import math

    C = [
        [round(math.cos(2 * math.pi * k * n / DFT_N) * DFT_GRID) for n in range(DFT_N)]
        for k in range(DFT_N // 2 + 1)
    ]
    S = [
        [round(-math.sin(2 * math.pi * k * n / DFT_N) * DFT_GRID) for n in range(DFT_N)]
        for k in range(DFT_N // 2 + 1)
    ]
    return C, S


SPECTRUM_SCHEMA = "doc_id bigint, window_id bigint, k int, re bigint, im bigint"


def wav_spectrum(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas spectral stage: REAL wave-parse each payload (the
    `decode_wav` container read), window the PCM samples into full
    DFT_N-sample frames, and compute the integer DFT of every frame as
    one numpy matmul per document — (N/2 × N twiddle matrix) @ window.
    Emits the raw (re, im) BIGINT pairs for bins k = 1..N/2 (DC
    excluded: on unsigned PCM it is just the sample sum and would
    dominate every ranking); power/ranking/centroid run JVM-side."""
    import io
    import wave

    import numpy as np

    C, S = dft_twiddles()
    Wc = np.array(C[1:], dtype=np.int64)  # (N/2, N)
    Ws = np.array(S[1:], dtype=np.int64)
    ks = np.arange(1, DFT_N // 2 + 1, dtype=np.int64)

    for pdf in batches:
        out = {"doc_id": [], "window_id": [], "k": [], "re": [], "im": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            with wave.open(io.BytesIO(payload)) as w:
                frames = w.readframes(w.getnframes())
            arr = np.frombuffer(frames, dtype=np.uint8).astype(np.int64)
            n_win = len(arr) // DFT_N
            if n_win == 0:
                continue
            X = arr[: n_win * DFT_N].reshape(n_win, DFT_N)
            re = X @ Wc.T  # (n_win, N/2) exact int64
            im = X @ Ws.T
            out["doc_id"].extend([doc_id] * n_win * len(ks))
            out["window_id"].extend(np.repeat(np.arange(n_win), len(ks)))
            out["k"].extend(np.tile(ks, n_win))
            out["re"].extend(re.ravel())
            out["im"].extend(im.ravel())
        yield pd.DataFrame(
            {
                "doc_id": np.asarray(out["doc_id"], dtype=np.int64),
                "window_id": np.asarray(out["window_id"], dtype=np.int64),
                "k": np.asarray(out["k"], dtype=np.int32),
                "re": np.asarray(out["re"], dtype=np.int64),
                "im": np.asarray(out["im"], dtype=np.int64),
            }
        )


def _spectral_oracle() -> str:
    C, S = dft_twiddles()
    tw_rows = ", ".join(
        f"({k}, {n}, {C[k][n]}, {S[k][n]})"
        for k in range(1, DFT_N // 2 + 1)
        for n in range(DFT_N)
    )
    return f"""
    WITH tw(k, n, c, s) AS (VALUES {tw_rows}),
    wins AS (
      SELECT doc_id, text,
             unnest(generate_series(0,
               CAST(length(text) // {DFT_N} AS INT) - 1)) AS w
      FROM documents WHERE length(text) >= {DFT_N}
    ),
    samp AS (
      SELECT doc_id, w, nn.n,
             ascii(substr(text, w * {DFT_N} + nn.n + 1, 1)) AS v
      FROM wins, (SELECT unnest(generate_series(0, {DFT_N - 1})) AS n) nn
    ),
    spec AS (
      SELECT sa.doc_id, sa.w, t.k,
             CAST(sum(sa.v * t.c) AS BIGINT) AS re,
             CAST(sum(sa.v * t.s) AS BIGINT) AS im
      FROM samp sa JOIN tw t ON t.n = sa.n
      GROUP BY 1, 2, 3
    ),
    pw AS (SELECT doc_id, w, k, re * re + im * im AS p FROM spec),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id, w ORDER BY p DESC, k
      ) AS rn
      FROM pw
    ),
    agg AS (
      SELECT doc_id, w,
             CAST(sum(k * p) AS BIGINT) AS kp,
             CAST(sum(p) AS BIGINT) AS tp
      FROM pw GROUP BY 1, 2
    )
    SELECT r.doc_id,
           CAST(r.w AS BIGINT) AS window_id,
           CAST(r.k AS INT) AS dominant_bin,
           CAST(r.p AS BIGINT) AS dominant_power,
           a.tp AS total_power,
           CAST(round(CAST(a.kp AS DOUBLE) * 1000 / CAST(a.tp AS DOUBLE))
                AS BIGINT) AS centroid_milli
    FROM ranked r JOIN agg a ON r.doc_id = a.doc_id AND r.w = a.w
    WHERE r.rn = 1
    """


@register("multimodal_audio_spectral", oracle=_spectral_oracle())
def multimodal_audio_spectral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FREQUENCY-DOMAIN audio analysis over the decoded WAV lane — the
    spectral rung the audio family stopped short of
    (`multimodal_audio_windows` ends at energy/peak, the
    time-domain half of every real audio pipeline): per {DFT_N}-sample
    PCM window, a fixed-point DFT yields the per-bin power spectrum,
    and the query reports each window's DOMINANT BIN (the discrete
    pitch-class readout), its power, total AC power, and the spectral
    centroid in exact milli-bins — the brightness feature.

    Exactness discipline: the twiddle factors are integer constants
    quantized ONCE in Python (`dft_twiddles`, 2^15 grid) and inlined
    into both engines, so no trig is evaluated cross-engine; re/im are
    exact BIGINT dots of (samples ≤ 255) × (twiddles ≤ 2^15) over
    {DFT_N} terms; power = re² + im² stays < 2^54; ranking is
    (power DESC, k) integer; the centroid is ONE double expression
    from two BIGINTs — CAST(kp)·1000/CAST(tp) — rounded once,
    identically parenthesized in both engines. DC (k = 0) is excluded
    from spectrum, ranking and centroid: on unsigned PCM it is the
    sample sum and would dominate every window.

    Scale posture: two chained narrow mapInPandas stages (encode →
    decode+DFT, one numpy matmul per document) with zero corpus
    shuffles; the only wide stage is the per-window rank/sum over the
    bounded 8-bins-per-window spectrum frame, partitioned by
    (doc, window) — at 100 TB this is the shape of a feature-extraction
    pass, corpus-linear with bounded per-row state. Planted-tone pytest:
    a period-4 square wave must put every window's dominant bin at
    k = N/4 = {DFT_N // 4}. (Reference scope check: no media surface in
    the reference — north-star LLM-pipeline coverage.)"""
    from minimapreduce_spark._pickle import register_self_by_value

    register_self_by_value()
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    wavs = docs.mapInPandas(encode_wav, schema="doc_id bigint, payload binary")
    spec = wavs.mapInPandas(wav_spectrum, schema=SPECTRUM_SCHEMA)
    pw = spec.select(
        "doc_id",
        "window_id",
        "k",
        (F.col("re") * F.col("re") + F.col("im") * F.col("im")).alias("p"),
    )
    w = W.partitionBy("doc_id", "window_id").orderBy(F.desc("p"), F.asc("k"))
    ranked = pw.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    agg = pw.groupBy("doc_id", "window_id").agg(
        F.sum(F.col("k") * F.col("p")).cast("bigint").alias("kp"),
        F.sum("p").cast("bigint").alias("tp"),
    )
    return (
        ranked.join(agg, ["doc_id", "window_id"])
        .select(
            "doc_id",
            F.col("window_id").cast("bigint").alias("window_id"),
            F.col("k").cast("int").alias("dominant_bin"),
            F.col("p").cast("bigint").alias("dominant_power"),
            F.col("tp").alias("total_power"),
            F.round(F.col("kp").cast("double") * 1000 / F.col("tp").cast("double"))
            .cast("bigint")
            .alias("centroid_milli"),
        )
    )


@register(
    "multimodal_ppm_decode",
    oracle="""
    SELECT doc_id,
           CAST(1 + length(text) % 64 AS BIGINT) AS width,
           CAST(1 + length(text) % 32 AS BIGINT) AS height,
           CAST(255 AS BIGINT) AS maxval,
           CAST((1 + length(text) % 64) * (1 + length(text) % 32) * 3 AS BIGINT)
             AS n_pixel_bytes,
           CAST((1 + length(text) % 64) * (1 + length(text) % 32) * 3
                * ascii(substr(text, 1, 1)) % 1000000007 AS BIGINT)
             AS pixel_checksum
    FROM documents
    """,
)
def multimodal_ppm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image lane, no stubs: synthesize a genuine binary PPM (P6)
    per document — including a header comment the parser must skip —
    then decode it with a real whitespace/comment-tolerant P6 parser in
    a second mapInPandas stage. Width/height/maxval come from the
    parsed header, the checksum from the raw pixel plane; the oracle
    recomputes all of them from the source text.

    Scale posture: two chained narrow mapInPandas stages, zero
    shuffles; compressed formats (JPEG/PNG) would swap decode_ppm for a
    codec call with identical plumbing (decode_image documents that
    boundary).
    """
    from minimapreduce_spark._pickle import register_self_by_value

    register_self_by_value()
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ppms = docs.mapInPandas(encode_ppm, schema="doc_id bigint, payload binary")
    return ppms.mapInPandas(ppm_features, schema=PPM_SCHEMA)


# ---------------------------------------------------------------------------
# Perceptual-hash image dedup — the media twin of dedup_simhash
# ---------------------------------------------------------------------------

PHASH_BITS = 60
PHASH_HAMMING_MAX = 3  # 4 × 15-bit bands: pigeonhole-complete at ≤ 3


def encode_ppm_textured(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
    """mapInPandas ingest stage: a REAL binary PPM (P6) per document
    whose pixel plane is the document's bytes CYCLED to fill w·h·3 —
    unlike ``encode_ppm``'s solid fill, the image carries the text's
    structure, so perceptually-similar documents produce
    perceptually-similar images (the property the pHash lane needs)."""
    for pdf in batches:
        payloads = []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            _require_ascii(text)
            n = len(text)
            w, h = 1 + n % 64, 1 + n % 32
            nb = w * h * 3
            data = (text.encode("ascii") * (nb // n + 1))[:nb]
            header = f"P6\n# doc {doc_id}\n{w} {h}\n255\n".encode()
            payloads.append(header + data)
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


def phash_features(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
    """mapInPandas decode stage: REAL P6 parse (``decode_ppm``) → 60-bit
    average-hash over a deterministic 60-point sample of the DECODED
    pixel plane (sample i reads byte ⌊i·nb/60⌋; threshold = the exact
    integer mean of the samples; bit i set iff sample_i > mean)."""
    for pdf in batches:
        hashes = []
        for p in pdf["payload"]:
            d = decode_ppm(p)
            px = d["pixels"]
            nb = len(px)
            samples = [px[(i * nb) // PHASH_BITS] for i in range(PHASH_BITS)]
            mean = sum(samples) // PHASH_BITS
            hv = 0
            for i, b in enumerate(samples):
                if b > mean:
                    hv |= 1 << i
            hashes.append(hv)
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "phash": hashes})


_PHASH_ORACLE = f"""
    WITH f AS (
      SELECT doc_id, text, length(text) AS n,
             (1 + length(text) % 64) * (1 + length(text) % 32) * 3 AS nb
      FROM documents
    ),
    s AS (
      SELECT doc_id,
             list_transform(generate_series(0, {PHASH_BITS - 1}),
               i -> ascii(substr(text,
                      CAST(((i * nb) // {PHASH_BITS}) % n AS INT) + 1, 1))) AS bs
      FROM f
    ),
    hs AS (
      SELECT doc_id,
             CAST(list_sum(list_transform(generate_series(1, {PHASH_BITS}),
               i -> CASE WHEN bs[i] > CAST(list_sum(bs) // {PHASH_BITS} AS BIGINT)
                         THEN CAST(1 AS BIGINT) << (i - 1)
                         ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS ph
      FROM s
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.ph, b.ph)) AS INT) AS hamming
    FROM hs a JOIN hs b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.ph, b.ph)) <= {PHASH_HAMMING_MAX}
    """


@register("multimodal_phash_dedup", oracle=_PHASH_ORACLE)
def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE near-dup detection by PERCEPTUAL HASH — the media twin of
    `dedup_simhash`, closing the gap that every dedup lane so far reads
    text or embeddings: encode a REAL textured P6 image per document
    (pixel plane = the document's bytes cycled — structure-carrying,
    unlike the solid-fill decode lane), REALLY decode it, average-hash
    a 60-point sample of the decoded pixel plane into a 60-bit
    fingerprint, then find pairs within Hamming ≤ 3 by the simhash
    banding discipline (4 × 15-bit bands — pigeonhole-complete at this
    radius — then exact bit_count(XOR) verification). In production
    the encode/decode pair is the codec boundary (`decode_image`
    documents it) and the sample/threshold step is the classic aHash
    over an 8×8 downsample; every stage downstream of the hash is
    byte-identical to the text-simhash plan.

    Exactness: the oracle recomputes the fingerprint arithmetic from
    the source text (the multimodal-family discipline: a header,
    framing, or sampling bug anywhere in encode→decode→hash fails the
    hash compare); sampling positions, the mean threshold, and the bit
    pack are all integer.

    Scale posture: two narrow mapInPandas stages (zero shuffles, bytes
    stay on the executor), one (doc_id | band) hash shuffle for
    candidates, exact verification on candidates only — nothing
    pairwise over the corpus. Hot band buckets under byte-duplication
    are the simhash story; run behind the content-group front end
    there. Reference scope: the reference has no media surface at all.
    """
    from minimapreduce_spark._pickle import register_self_by_value

    register_self_by_value()
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ppms = docs.mapInPandas(encode_ppm_textured, schema="doc_id bigint, payload binary")
    fp = ppms.mapInPandas(phash_features, schema="doc_id bigint, phash bigint")
    fp = fp.localCheckpoint(eager=False)  # both band-join sides read it
    bands = fp.select(
        "doc_id",
        "phash",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("band"),
    ).select(
        "doc_id",
        "phash",
        "band",
        F.expr("shiftrightunsigned(phash, band * 15)")
        .bitwiseAND(F.lit(0x7FFF))
        .alias("band_val"),
    )
    a = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("phash").alias("ph_a"), "band", "band_val"
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("phash").alias("ph_b"), "band", "band_val"
    )
    pairs = (
        a.join(b, ["band", "band_val"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "ph_a", "ph_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b")))
    return pairs.select(
        "doc_a", "doc_b", hamming.cast("int").alias("hamming")
    ).where(F.col("hamming") <= PHASH_HAMMING_MAX)
