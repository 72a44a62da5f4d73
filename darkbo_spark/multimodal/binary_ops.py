"""Multimodal columns: image/audio/video as opaque `binary` + typed
metadata, with decode / feature-extract / resize / frame-sample implemented
as Arrow-batched operators over `mapInPandas`.

Codec status — real where a format needs no external library, stubbed at a
documented seam where it does:

* **BMP images (REAL)** — 24-bit uncompressed BMP is a fixed header + raw
  BGR rows; decode, luminance features, and nearest-neighbor resize are
  implemented here with `struct` alone. No Pillow needed.
* **PNG images (REAL)** — the container is chunks + zlib (stdlib) +
  per-scanline filters; encode (filter 0), decode (all five filter
  types: None/Sub/Up/Average/Paeth), luminance features, and
  nearest-neighbor resize are implemented here with `struct` + `zlib`.
  8-bit non-interlaced gray/RGB/RGBA; palette/16-bit/interlaced raise
  at the seam.
* **WAV audio (REAL)** — RIFF/WAVE PCM decodes with the stdlib `wave`
  module; frame counts, sample rate, channels, and magnitude-histogram
  features are computed from real samples.
* **Video + compressed formats (STUBBED)** — there is no dependency-free
  real video container, and JPEG/MP4 need Pillow/pyav. Those payloads
  use the deterministic ``FAKE`` format (magic + parseable header) or
  raise NotImplementedError at the exact seam where the real decoder
  plugs in (`_decode_header` / the per-format branches).

The distributed plan — schemas, partitioning, Arrow batch shapes, explode
math — is the production one regardless of codec (reference analog: binary
attachments stored and served opaque, api/storage.py:133-142).
"""

from __future__ import annotations

import io
import struct
import wave
import zlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("payload", BinaryType()),
        StructField("source_url", StringType()),
    ]
)

_MAGIC = b"FAKE"


# ---------------------------------------------------------------------------
# REAL codecs: BMP (struct only) and WAV (stdlib wave)
# ---------------------------------------------------------------------------


def make_bmp_payload(media_id: int) -> bytes:
    """A real, openable 24-bit uncompressed BMP with deterministic pixels."""
    w, h = 16 + (media_id % 48), 16 + ((media_id * 7) % 32)
    row_pad = (-3 * w) % 4
    rows = bytearray()
    for y in range(h):  # BMP stores rows bottom-up
        for x in range(w):
            rows += bytes(
                (
                    (media_id * 5 + x * 3 + y * 7) % 256,  # B
                    (media_id * 11 + x * 13 + y) % 256,  # G
                    (media_id * 17 + x + y * 19) % 256,  # R
                )
            )
        rows += b"\x00" * row_pad
    return _pack_bmp(w, h, bytes(rows))


def _pack_bmp(w: int, h: int, pixel_bytes: bytes) -> bytes:
    """The ONE place BMP headers are written (encoder and resizer share it)."""
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixel_bytes), 2835, 2835, 0, 0
    )
    file_header = struct.pack("<2sIHHI", b"BM", 54 + len(pixel_bytes), 0, 0, 54)
    return file_header + info + pixel_bytes


def _sniff(payload: bytes) -> str:
    """'bmp' | 'png' | 'wav' | 'fake' | 'unknown' — the ONE magic-byte dispatch."""
    if payload[:2] == b"BM":
        return "bmp"
    if payload[:8] == _PNG_SIG:
        return "png"
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return "wav"
    if payload.startswith(_MAGIC):
        return "fake"
    return "unknown"


def _bmp_dims(payload: bytes) -> tuple[int, int, int]:
    """Validated dims of a BMP this module actually supports. Real-world
    BMPs we can't decode (32bpp, palette, RLE, top-down) RAISE at the
    seam instead of producing silent garbage — the same contract as the
    formats that need Pillow. Truncated payloads (e.g. a 20-byte blob
    starting with 'BM') raise the same seam error, not a raw
    struct.error that would fail the whole Arrow batch."""
    if len(payload) < 54:
        raise NotImplementedError(
            f"truncated BMP payload ({len(payload)} bytes < 54-byte header)"
        )
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    h = struct.unpack_from("<i", payload, 22)[0]
    if bpp != 24 or compression != 0 or h <= 0:
        raise NotImplementedError(
            f"only bottom-up 24-bit uncompressed BMP is decoded here "
            f"(got bpp={bpp}, compression={compression}, height={h}); "
            f"other BMP variants need Pillow"
        )
    w = struct.unpack_from("<i", payload, 18)[0]
    off = struct.unpack_from("<I", payload, 10)[0]
    stride = 3 * w + ((-3 * w) % 4)
    if w <= 0 or len(payload) < off + h * stride:
        raise NotImplementedError(
            f"truncated BMP pixel array ({len(payload)} bytes < "
            f"{off + h * stride} needed for {w}x{h})"
        )
    return w, h, off


def _bmp_pixels(payload: bytes):
    """Yield (x, y, b, g, r) over the real pixel array (bottom-up rows)."""
    w, h, off = _bmp_dims(payload)
    stride = 3 * w + ((-3 * w) % 4)
    for y in range(h):
        base = off + y * stride
        for x in range(w):
            i = base + 3 * x
            yield x, y, payload[i], payload[i + 1], payload[i + 2]


# --- PNG (REAL, stdlib-only: struct for chunks, zlib for IDAT) -------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def make_png_payload(media_id: int) -> bytes:
    """A real 8-bit RGB PNG with the SAME deterministic per-pixel channel
    formulas as make_bmp_payload (so histograms agree format-to-format)."""
    w, h = 16 + (media_id % 48), 16 + ((media_id * 7) % 32)
    raw = bytearray()
    for y in range(h):
        raw.append(0)  # filter type 0 (None) per scanline
        for x in range(w):
            raw += bytes(
                (
                    (media_id * 17 + x + y * 19) % 256,  # R
                    (media_id * 11 + x * 13 + y) % 256,  # G
                    (media_id * 5 + x * 3 + y * 7) % 256,  # B
                )
            )
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _png_chunk(b"IEND", b"")
    )


def _png_info(payload: bytes) -> tuple[int, int, int]:
    """(width, height, color_type) of a PNG this module supports: 8-bit
    depth, color type 0 (gray) / 2 (RGB) / 6 (RGBA), non-interlaced.
    Palette, 16-bit, and interlaced variants raise at the seam (Pillow
    territory), as do truncated payloads."""
    if len(payload) < 33 or payload[:8] != _PNG_SIG:
        raise NotImplementedError(
            f"truncated or non-PNG payload ({len(payload)} bytes)"
        )
    length, tag = struct.unpack_from(">I4s", payload, 8)
    if tag != b"IHDR" or length != 13:
        raise NotImplementedError("PNG without leading IHDR chunk")
    w, h, depth, color, comp, filt, interlace = struct.unpack_from(
        ">IIBBBBB", payload, 16
    )
    if depth != 8 or color not in (0, 2, 6) or comp or filt or interlace:
        raise NotImplementedError(
            f"only 8-bit non-interlaced gray/RGB/RGBA PNG is decoded here "
            f"(got depth={depth}, color={color}, interlace={interlace}); "
            "palette/16-bit/interlaced need Pillow"
        )
    return w, h, color


def _png_scanlines(payload: bytes) -> tuple[int, int, int, list[bytes]]:
    """(w, h, channels, unfiltered scanlines top-down). Implements all five
    PNG filter reconstructions (None/Sub/Up/Average/Paeth)."""
    w, h, color = _png_info(payload)
    ch = {0: 1, 2: 3, 6: 4}[color]
    idat = bytearray()
    pos = 8
    while pos + 8 <= len(payload):
        ln, tag = struct.unpack_from(">I4s", payload, pos)
        data = payload[pos + 8 : pos + 8 + ln]
        if len(data) != ln:
            raise NotImplementedError("truncated PNG chunk")
        if tag == b"IDAT":
            idat += data
        pos += 12 + ln
        if tag == b"IEND":
            break
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as e:
        raise NotImplementedError(f"corrupt PNG IDAT stream: {e}") from e
    stride = w * ch
    if len(raw) != h * (stride + 1):
        raise NotImplementedError(
            f"PNG pixel data size mismatch ({len(raw)} vs {h * (stride + 1)})"
        )
    prev = bytearray(stride)
    rows: list[bytes] = []
    for y in range(h):
        base = y * (stride + 1)
        ft = raw[base]
        line = bytearray(raw[base + 1 : base + 1 + stride])
        if ft == 0:  # None
            pass
        elif ft == 1:  # Sub
            for i in range(ch, stride):
                line[i] = (line[i] + line[i - ch]) & 0xFF
        elif ft == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(stride):
                a = line[i - ch] if i >= ch else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(stride):
                a = line[i - ch] if i >= ch else 0
                b = prev[i]
                c = prev[i - ch] if i >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (line[i] + pr) & 0xFF
        else:
            raise NotImplementedError(f"unknown PNG filter type {ft}")
        rows.append(bytes(line))
        prev = line
    return w, h, ch, rows


def _png_pixels(payload: bytes):
    """Yield (x, y, b, g, r) — the same channel order as _bmp_pixels (gray
    expands to b=g=r); y runs top-down (PNG order)."""
    w, _h, ch, rows = _png_scanlines(payload)
    for y, line in enumerate(rows):
        for x in range(w):
            i = x * ch
            if ch == 1:
                v = line[i]
                yield x, y, v, v, v
            else:
                yield x, y, line[i + 2], line[i + 1], line[i]


def _resize_png(payload: bytes, new_w: int, new_h: int) -> bytes:
    """Nearest-neighbor resample; output re-encodes as filter-0 scanlines
    with the source's channel count."""
    w, h, ch, rows = _png_scanlines(payload)
    color = {1: 0, 3: 2, 4: 6}[ch]
    raw = bytearray()
    for y in range(new_h):
        raw.append(0)
        src = rows[min(y * h // new_h, h - 1)]
        for x in range(new_w):
            sx = min(x * w // new_w, w - 1) * ch
            raw += src[sx : sx + ch]
    ihdr = struct.pack(">IIBBBBB", new_w, new_h, 8, color, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _png_chunk(b"IEND", b"")
    )


def make_wav_payload(media_id: int) -> bytes:
    """A real RIFF/WAVE 16-bit PCM blob with deterministic samples."""
    n_channels = 1 + media_id % 2
    framerate = 8000 + (media_id % 5) * 2000
    n_frames = 400 + (media_id % 37) * 8
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wv:
        wv.setnchannels(n_channels)
        wv.setsampwidth(2)
        wv.setframerate(framerate)
        samples = bytearray()
        for i in range(n_frames * n_channels):
            samples += struct.pack("<h", ((media_id * 31 + i * 17) % 65536) - 32768)
        wv.writeframes(bytes(samples))
    return buf.getvalue()


def _require_16bit(wv: wave.Wave_read) -> None:
    if wv.getsampwidth() != 2:
        raise NotImplementedError(
            f"only 16-bit PCM WAV is decoded here (got sampwidth="
            f"{wv.getsampwidth()}); other encodings need a real audio lib"
        )


def _wav_info(payload: bytes) -> tuple[int, int, int]:
    try:
        with wave.open(io.BytesIO(payload), "rb") as wv:
            _require_16bit(wv)
            return wv.getnchannels(), wv.getframerate(), wv.getnframes()
    except (wave.Error, EOFError) as e:  # truncated/corrupt RIFF → seam error
        raise NotImplementedError(f"undecodable WAV payload: {e}") from e


def _wav_samples(payload: bytes) -> list[int]:
    try:
        with wave.open(io.BytesIO(payload), "rb") as wv:
            _require_16bit(wv)
            raw = wv.readframes(wv.getnframes())
    except (wave.Error, EOFError) as e:  # truncated/corrupt RIFF → seam error
        raise NotImplementedError(f"undecodable WAV payload: {e}") from e
    return [s[0] for s in struct.iter_unpack("<h", raw)]


# ---------------------------------------------------------------------------
# FAKE format (video + anything a real library would be needed for)
# ---------------------------------------------------------------------------


def make_fake_payload(kind: str, media_id: int) -> bytes:
    """Deterministic fake media blob: magic + header + pseudo-content."""
    w, h = 16 + (media_id % 48), 16 + ((media_id * 7) % 32)
    frames = 1 if kind == "image" else 4 + media_id % 8
    header = struct.pack(">III", w, h, frames)
    body = bytes((media_id * (i + 13)) % 256 for i in range(w * h))
    return _MAGIC + kind.encode()[:1].upper() + header + body


def synth_media(spark: SparkSession, n: int) -> DataFrame:
    """Deterministic media table (distributed generation, per-row seeded):
    image rows carry REAL BMPs/PNGs (alternating), audio rows REAL WAVs,
    video rows the FAKE container (the one kind with no dependency-free
    real format)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        kinds = ["image", "audio", "video"]
        for b in batches:
            rows = []
            for i in b["id"]:
                i = int(i)
                kind = kinds[i % 3]
                if kind == "image":
                    # alternate REAL codecs: even ids BMP, odd ids PNG
                    payload = make_bmp_payload(i) if i % 2 == 0 else make_png_payload(i)
                elif kind == "audio":
                    payload = make_wav_payload(i)
                else:
                    payload = make_fake_payload(kind, i)
                rows.append(
                    {
                        "media_id": i,
                        "kind": kind,
                        "payload": payload,
                        "source_url": f"https://media.example.com/{kind}/{i}",
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in MEDIA_SCHEMA.fields])

    return spark.range(0, n, numPartitions=max(8, n // 10000)).mapInPandas(
        gen, schema=MEDIA_SCHEMA
    )


def _decode_header(payload: bytes) -> dict:
    """THE decode seam — dispatches on real magic bytes.

    Returns {width, height, n_frames, sample_rate, n_channels} with None
    for fields a format doesn't have. JPEG/PNG/MP4 raise here: that is
    exactly where Pillow / pyav would plug in."""
    if payload is None:
        raise NotImplementedError("null payload")
    kind = _sniff(payload)
    if kind == "bmp":  # real BMP
        w, h, _ = _bmp_dims(payload)
        return {
            "width": w, "height": h, "n_frames": 1,
            "sample_rate": None, "n_channels": None,
        }
    if kind == "png":  # real PNG
        w, h, _ = _png_info(payload)
        return {
            "width": w, "height": h, "n_frames": 1,
            "sample_rate": None, "n_channels": None,
        }
    if kind == "wav":  # real WAV
        ch, rate, frames = _wav_info(payload)
        return {
            "width": None, "height": None, "n_frames": frames,
            "sample_rate": rate, "n_channels": ch,
        }
    if kind == "fake":
        if len(payload) < 17:
            raise NotImplementedError(
                f"truncated FAKE payload ({len(payload)} bytes < 17-byte header)"
            )
        w, h, frames = struct.unpack(">III", payload[5:17])
        return {
            "width": w, "height": h, "n_frames": frames,
            "sample_rate": None, "n_channels": None,
        }
    raise NotImplementedError(
        "decoding this format requires Pillow/pyav — not available in this "
        "container; BMP, WAV and the deterministic FAKE format are decoded"
    )


DECODED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_channels", IntegerType()),
        StructField("n_bytes", LongType()),
    ]
)


def decode_metadata(media: DataFrame) -> DataFrame:
    """Arrow-batched decode of typed metadata from binary payloads."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = []
            for r in b.itertuples():
                meta = _decode_header(bytes(r.payload))
                out.append(
                    {
                        "media_id": r.media_id,
                        "kind": r.kind,
                        "n_bytes": len(r.payload),
                        **meta,
                    }
                )
            yield pd.DataFrame(out, columns=[f.name for f in DECODED_SCHEMA.fields])

    return media.mapInPandas(run, schema=DECODED_SCHEMA)


_FEAT_DIM = 16


def content_features(media: DataFrame) -> DataFrame:
    """Feature extraction from REAL content where the codec is real:
    16-bin luminance histogram over decoded BMP pixels, 16-bin sample-
    magnitude histogram over decoded WAV frames, byte histogram for the
    FAKE container — all L1-normalized. The stand-in for a CNN/audio
    embedding; batch shape and schema identical to the production
    operator."""

    @F.pandas_udf(ArrayType(FloatType()))
    def feat(payload: pd.Series) -> pd.Series:
        def one(p: bytes | None):
            if p is None:
                raise NotImplementedError("null payload")
            bins = [0] * _FEAT_DIM
            fmt = _sniff(p)
            if fmt == "bmp":
                for _, _, bb, gg, rr in _bmp_pixels(p):
                    bins[((bb + gg + rr) // 3) >> 4] += 1
            elif fmt == "png":
                for _, _, bb, gg, rr in _png_pixels(p):
                    bins[((bb + gg + rr) // 3) >> 4] += 1
            elif fmt == "wav":
                for s in _wav_samples(p):
                    bins[min(abs(s), 32767) >> 11] += 1
            elif fmt == "fake":
                for byte in p[17:]:
                    bins[byte >> 4] += 1
            else:
                raise NotImplementedError("real feature extraction stubbed")
            total = max(sum(bins), 1)
            return [round(c / total, 6) for c in bins]

        return payload.map(one)

    return media.select("media_id", "kind", feat(F.col("payload")).alias("features"))


# kept under its historical name for callers/tests
byte_histogram_features = content_features


def sample_frames(media: DataFrame, every_k: int = 2) -> DataFrame:
    """Frame sampling for video rows: explode frame indices 0..n_frames-1,
    keep every k-th. Video frame decode itself is the stubbed seam; index
    math and explode are the real distributed plan."""
    decoded = decode_metadata(media.filter(F.col("kind") == "video"))
    frames = decoded.select(
        "media_id",
        F.explode(F.sequence(F.lit(0), F.col("n_frames") - 1)).alias("frame_idx"),
    )
    return frames.filter(F.pmod(F.col("frame_idx"), F.lit(every_k)) == 0)


def resize_media(media: DataFrame, width: int, height: int) -> DataFrame:
    """Resize through the Arrow batch path. BMP rows are REALLY resampled
    (nearest neighbor over the decoded pixel array — output is a valid BMP
    of the new dimensions); FAKE rows rewrite the header (the seam where a
    real video scaler would run); audio rows pass through untouched."""

    @F.pandas_udf(BinaryType())
    def resize(payload: pd.Series) -> pd.Series:
        def one(p: bytes | None):
            if p is None:
                raise NotImplementedError("null payload")
            fmt = _sniff(p)
            if fmt == "bmp":
                return _resize_bmp(p, width, height)
            if fmt == "png":
                return _resize_png(p, width, height)
            if fmt == "wav":
                return p
            if fmt == "fake":
                _, _, frames = struct.unpack(">III", p[5:17])
                return p[:5] + struct.pack(">III", width, height, frames) + p[17:]
            raise NotImplementedError("real resize stubbed for this format")

        return payload.map(one)

    return media.withColumn("payload", resize(F.col("payload")))


# legacy name
resize_stub = resize_media


# ---------------------------------------------------------------------------
# Perceptual image hashes (aHash / dHash) over the REAL BMP/PNG decoders —
# image near-duplicate detection as a first-class member of the dedup
# family: hashes → banded candidate pairs → transitive clusters via the
# same neardup_clusters machinery text dedup uses (operators/dedup.py).
# ---------------------------------------------------------------------------


def _gray_grid(payload: bytes, gw: int, gh: int) -> list[int]:
    """gw×gh grayscale grid (row-major, VISUAL top-down orientation) via
    nearest-neighbor sampling of the decoded pixels: lum = (b+g+r)//3.
    BMP rows are stored bottom-up → visual row y reads storage row h-1-y
    (PNG scanlines are already top-down), so the same image in either
    container grids identically. Undecodable formats raise at the seam."""
    fmt = _sniff(payload)
    if fmt == "bmp":
        w, h, off = _bmp_dims(payload)
        stride = 3 * w + ((-3 * w) % 4)

        def pix(sx: int, sy: int) -> int:
            i = off + (h - 1 - sy) * stride + 3 * sx
            return (payload[i] + payload[i + 1] + payload[i + 2]) // 3

    elif fmt == "png":
        w, h, ch, rows = _png_scanlines(payload)

        def pix(sx: int, sy: int) -> int:
            line = rows[sy]
            i = sx * ch
            if ch == 1:
                return line[i]
            return (line[i] + line[i + 1] + line[i + 2]) // 3

    else:
        raise NotImplementedError(
            "perceptual hashing needs a decodable image payload (BMP/PNG here; "
            "JPEG needs Pillow)"
        )
    out = []
    for y in range(gh):
        sy = min(y * h // gh, h - 1)
        for x in range(gw):
            sx = min(x * w // gw, w - 1)
            out.append(pix(sx, sy))
    return out


def _ahash_hex(g: list[int]) -> str:
    """Average hash over an 8×8 grid: bit = lum > mean, packed per ROW into
    a hex byte (bit x = 2^x) — 16 lowercase hex chars. The mean compare is
    exact integer math (lum·64 > Σ) so SQL replays it bit-for-bit."""
    s = sum(g)
    return "".join(
        "%02x" % sum((1 << x) for x in range(8) if g[y * 8 + x] * 64 > s)
        for y in range(8)
    )


def _dhash_hex(g9: list[int]) -> str:
    """Difference hash over a 9×8 grid: bit = right neighbor brighter —
    robust to global brightness/contrast shifts; 16 lowercase hex chars."""
    return "".join(
        "%02x" % sum((1 << x) for x in range(8) if g9[y * 9 + x + 1] > g9[y * 9 + x])
        for y in range(8)
    )


IMAGE_HASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("ahash", StringType()),
        StructField("dhash", StringType()),
    ]
)


def image_hashes(media: DataFrame) -> DataFrame:
    """(media_id, ahash, dhash) — Arrow-batched decode + perceptual hash.
    One decode serves both hashes (the 8×8 and 9×8 grids)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = []
            for r in b.itertuples():
                p = bytes(r.payload)
                out.append(
                    {
                        "media_id": r.media_id,
                        "ahash": _ahash_hex(_gray_grid(p, 8, 8)),
                        "dhash": _dhash_hex(_gray_grid(p, 9, 8)),
                    }
                )
            yield pd.DataFrame(out, columns=[f.name for f in IMAGE_HASH_SCHEMA.fields])

    return media.mapInPandas(run, schema=IMAGE_HASH_SCHEMA)


def image_neardup_pairs(
    hashes: DataFrame,
    hash_col: str = "ahash",
    max_hamming: int = 3,
    max_bucket: int = 500,
) -> DataFrame:
    """(id_a, id_b, hamming): image pairs within `max_hamming` bits on the
    chosen perceptual hash. aHash is the default: dHash (adjacent-pixel
    gradient sign) degenerates to near-all-ones on smoothly-varying
    images — monotone luminance makes every comparison true — while the
    mean-threshold aHash keeps discriminating. Same pigeonhole-banding
    scale shape as SimHash
    (operators/dedup.py): split the 16 hex chars into max_hamming+1
    disjoint bands — any pair within k bits agrees exactly on ≥1 band —
    bucket-join on (band, band_chars), then verify true hamming by XOR of
    16-bit chunks (F.conv keeps every chunk ≤ 0xffff, no sign games).
    Feed the pairs into operators.dedup.neardup_clusters(pairs=...) for
    transitive image families."""
    from darkbo_spark.operators.dedup import _capped_bucket_pairs

    n_bands = max_hamming + 1
    assert 16 % n_bands == 0, (
        f"max_hamming+1 must divide the 16 hex chars; got {max_hamming}"
    )
    width = 16 // n_bands
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.substring(F.col(hash_col), i * width + 1, width).alias("bits"),
            )
            for i in range(n_bands)
        ]
    )
    banded = hashes.select(
        F.col("media_id").alias("doc_id"), F.col(hash_col), F.explode(bands).alias("bb")
    ).select(
        "doc_id", F.col(hash_col), F.col("bb.band").alias("band"), F.col("bb.bits").alias("bits")
    )
    cand = _capped_bucket_pairs(
        banded, ["band", "bits"], [hash_col], max_bucket, persist=False
    )

    def _chunk(col: str, i: int) -> F.Column:
        return F.conv(F.substring(F.col(col), i * 4 + 1, 4), 16, 10).cast("bigint")

    ham = sum(
        F.bit_count(_chunk(f"{hash_col}_a", i).bitwiseXOR(_chunk(f"{hash_col}_b", i)))
        for i in range(4)
    )
    return (
        cand.select("id_a", "id_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def _resize_bmp(payload: bytes, new_w: int, new_h: int) -> bytes:
    """Nearest-neighbor resample of a 24-bit BMP, pure bytes math."""
    w, h, off = _bmp_dims(payload)
    src_stride = 3 * w + ((-3 * w) % 4)
    dst_pad = (-3 * new_w) % 4
    rows = bytearray()
    for y in range(new_h):
        sy = min(y * h // new_h, h - 1)
        base = off + sy * src_stride
        for x in range(new_w):
            sx = min(x * w // new_w, w - 1)
            i = base + 3 * sx
            rows += payload[i : i + 3]
        rows += b"\x00" * dst_pad
    return _pack_bmp(new_w, new_h, bytes(rows))
