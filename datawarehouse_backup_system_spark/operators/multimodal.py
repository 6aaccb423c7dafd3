"""Multimodal column plumbing: image/audio/video as opaque binary columns.

Three tiers of honesty about what runs in this container:

- **Header-level metadata decoding is REAL** (``mode='headers'``, the
  default): PNG / GIF / BMP / JPEG dimensions, WAV sample rate +
  duration, MP4 duration — parsed from container headers with stdlib
  ``struct`` inside the Arrow batch, no media libraries needed.
- **Image pixel and WAV sample decoding is REAL** — pure Python +
  numpy, no PIL/ffmpeg: PNG (zlib inflate + unfilter), uncompressed
  24-bit BMP, GIF first frame (LZW), baseline JPEG (huffman entropy
  decode + matrix IDCT + chroma upsample + BT.601), and 16-bit PCM.
- **Video frame decoding is REAL for Motion-JPEG AVI** (RIFF
  container walk + the JPEG decoder per frame); inter-frame codecs
  (H.264 &c.) stay env-gated (``mode='error'`` raises
  NotImplementedError where ffmpeg would plug in; ``mode='fake'``
  derives deterministic fake features from the content md5 so plumbing
  tests don't need real media) — those genuinely need native
  libraries.
- The Spark-side plumbing — typed asset schema, Arrow-batch signatures,
  frame-explode shape — is real and tested in all modes.

At 100 TB: media bytes dominate row size, so assets are stored one row
per asset with metadata columns FIRST in the schema (column pruning lets
metadata-only queries skip the blob entirely), partitions sized by
``spark.sql.files.maxPartitionBytes`` to keep a handful of assets per
task, and decode runs in ``mapInPandas`` so each Arrow batch holds few
rows of large cells.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

ASSET_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),       # image | audio | video
        T.StructField("mime", T.StringType(), True),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("data", T.BinaryType(), True),         # blob LAST: prune-friendly
    ]
)

FEATURE_SCHEMA = (
    "asset_id long, kind string, format string, n_bytes long, "
    "content_md5 string, width int, height int, duration_ms int, "
    "sample_rate int"
)


def parse_media_header(data: bytes) -> dict:
    """Best-effort container-header parse (stdlib only, no decode libs).

    Returns any of format/width/height/duration_ms/sample_rate that the
    header carries; unknown or truncated input → empty dict. Formats:
    PNG (IHDR big-endian dims), GIF (LE dims), BMP (BITMAPINFOHEADER),
    JPEG (SOF segment scan), WAV (RIFF chunk scan → rate + duration),
    MP4 (ftyp brand + mvhd timescale/duration), AVI (avih dims +
    frame count + duration).
    """
    if data.startswith(b"\x89PNG\r\n\x1a\n") and len(data) >= 24 \
            and data[12:16] == b"IHDR":
        w, h = struct.unpack(">II", data[16:24])
        return {"format": "png", "width": w, "height": h}
    if data[:6] in (b"GIF87a", b"GIF89a") and len(data) >= 10:
        w, h = struct.unpack("<HH", data[6:10])
        return {"format": "gif", "width": w, "height": h}
    if data[:2] == b"BM" and len(data) >= 26:
        w, h = struct.unpack("<ii", data[18:26])
        return {"format": "bmp", "width": w, "height": abs(h)}
    if data[:2] == b"\xff\xd8":
        out = {"format": "jpeg"}
        # every SOF marker carries dims at the same offsets (C4/C8/CC are
        # DHT/JPG/DAC, not SOF)
        sof = {0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
               0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF}
        i = 2
        while i + 9 < len(data) and data[i] == 0xFF:
            while i + 9 < len(data) and data[i + 1] == 0xFF:
                i += 1  # legal 0xFF fill bytes before a marker
            marker = data[i + 1]
            if marker == 0x01 or 0xD0 <= marker <= 0xD9:
                i += 2
                continue
            (seglen,) = struct.unpack(">H", data[i + 2:i + 4])
            if marker in sof and i + 9 <= len(data):
                h, w = struct.unpack(">HH", data[i + 5:i + 9])
                out.update(width=w, height=h)
                break
            i += 2 + seglen
        return out
    if data[:4] == b"RIFF" and data[8:12] == b"AVI ":
        out = {"format": "avi"}
        j = data.find(b"avih")
        if j != -1 and j + 48 <= len(data):
            vals = struct.unpack("<10I", data[j + 8:j + 48])
            us_per_frame, n_frames, w, h = vals[0], vals[4], vals[8], vals[9]
            out.update(width=w, height=h)
            if us_per_frame:
                out["duration_ms"] = n_frames * us_per_frame // 1000
        return out
    if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        out = {"format": "wav"}
        rate = byte_rate = data_size = None
        i = 12
        while i + 8 <= len(data):
            cid = data[i:i + 4]
            (sz,) = struct.unpack("<I", data[i + 4:i + 8])
            if cid == b"fmt " and i + 20 <= len(data):
                rate, byte_rate = struct.unpack("<II", data[i + 12:i + 20])
            elif cid == b"data":
                data_size = sz
            i += 8 + sz + (sz & 1)
        if rate:
            out["sample_rate"] = rate
        if byte_rate and data_size is not None:
            out["duration_ms"] = int(data_size * 1000 / byte_rate)
        return out
    if len(data) >= 12 and data[4:8] == b"ftyp":
        out = {"format": "mp4"}
        j = data.find(b"mvhd")
        if j != -1 and j + 5 <= len(data):
            version = data[j + 4]
            ts = dur = 0
            if version == 0 and j + 24 <= len(data):
                ts, dur = struct.unpack(">II", data[j + 16:j + 24])
            elif version == 1 and j + 36 <= len(data):
                (ts,) = struct.unpack(">I", data[j + 24:j + 28])
                (dur,) = struct.unpack(">Q", data[j + 28:j + 36])
            if ts:
                out["duration_ms"] = int(dur * 1000 / ts)
        return out
    return {}


def _fake_dims(digest: bytes) -> tuple[int, int, int]:
    w = 64 + digest[0] % 192          # 64..255
    h = 64 + digest[1] % 192
    dur = 1000 + int.from_bytes(digest[2:4], "big") % 59000
    return w, h, dur


def decode_features(df: DataFrame, decode_stub: str = "headers") -> DataFrame:
    """Extract per-asset features via mapInPandas (Arrow-batched).

    ``'headers'`` (default) parses real container headers
    (:func:`parse_media_header`); ``'fake'`` derives deterministic
    dims from the content hash (plumbing tests without real media);
    ``'error'`` raises where a PIXEL decoder (PIL/ffmpeg) would plug in.
    """
    if decode_stub not in ("headers", "error", "fake"):
        raise ValueError(decode_stub)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                data = bytes(row.data) if row.data is not None else b""
                digest = hashlib.md5(data).digest()
                if decode_stub == "error":
                    raise NotImplementedError(
                        "media PIXEL decoding requires PIL/ffmpeg (not in "
                        "this image); header metadata works via "
                        "decode_stub='headers'"
                    )
                if decode_stub == "fake":
                    w, h, dur = _fake_dims(digest)
                    parsed = {
                        "format": "fake",
                        "width": w if row.kind == "image" else None,
                        "height": h if row.kind == "image" else None,
                        "duration_ms": dur if row.kind in ("audio", "video")
                        else None,
                    }
                else:
                    parsed = parse_media_header(data)
                out.append(
                    {
                        "asset_id": row.asset_id,
                        "kind": row.kind,
                        "format": parsed.get("format"),
                        "n_bytes": len(data),
                        "content_md5": digest.hex(),
                        "width": _i32(parsed.get("width")),
                        "height": _i32(parsed.get("height")),
                        "duration_ms": _i32(parsed.get("duration_ms")),
                        "sample_rate": _i32(parsed.get("sample_rate")),
                    }
                )
            yield pd.DataFrame(out)

    return df.mapInPandas(op, schema=FEATURE_SCHEMA)


def _i32(v):
    """Header-claimed values bound for an int32 schema column: None
    when absent OR outside int32 range (review r9 — a hostile header
    claiming width=0x90000000 silently wrapped negative under the
    default unsafe Arrow cast, and killed the whole mapInPandas task
    under safe casting; an absurd claim is treated as absent
    metadata, costing that one row its field, never the task)."""
    if v is None:
        return None
    v = int(v)
    return v if -(2**31) <= v < 2**31 else None


def png_dims(data_col: F.Column) -> F.Column:
    """EXPRESSION-level PNG dimension probe — width/height struct parsed
    from the IHDR chunk with hex/conv, no Python in the loop: usable
    inside a metadata-only scan that must stay in whole-stage codegen
    (e.g. filter a 100 TB asset table by resolution before any decode).
    NULL for non-PNG bytes."""
    is_png = F.hex(F.substring(data_col, 1, 8)) == "89504E470D0A1A0A"
    w = F.conv(F.hex(F.substring(data_col, 17, 4)), 16, 10).cast("int")
    h = F.conv(F.hex(F.substring(data_col, 21, 4)), 16, 10).cast("int")
    return F.when(is_png, F.struct(w.alias("width"), h.alias("height")))


def frame_sample_stub(
    df: DataFrame, every_ms: int = 1000, decode_stub: str = "fake"
) -> DataFrame:
    """Video → frame rows (one row per sampled frame). The frame COUNT
    is real metadata arithmetic (duration from the chosen decode path —
    ``'headers'`` parses the actual container, ``'fake'`` hashes the
    bytes); frame bytes stay empty pending a pixel decoder.
    Demonstrates the explode-shaped output a real sampler produces."""
    feats = decode_features(
        df.where(F.col("kind") == "video"), decode_stub=decode_stub
    )
    n_frames = F.greatest((F.col("duration_ms") / every_ms).cast("int"), F.lit(1))
    return feats.select(
        "asset_id", F.explode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_idx")
    ).select("asset_id", "frame_idx", (F.col("frame_idx") * every_ms).alias("frame_ms"))


def pcm_features(df: DataFrame, window: int = 32) -> DataFrame:
    """REAL sample-level audio decode: 16-bit LE PCM from each WAV
    blob's ``data`` chunk → integer signal statistics. This is the tier
    ABOVE header parsing — actual per-sample DSP on actual bytes —
    possible without media libraries because PCM inside a canonical WAV
    is just packed int16: ``numpy.frombuffer`` inside the Arrow batch
    is the whole decoder.

    Returns one row per asset: ``n_samples``, ``sum_sq`` (Σ v² — total
    signal energy), ``peak`` (max |v|), and ``max_window_sumsq`` (the
    hottest ``window``-sample energy, full windows only) — all INTEGER
    quantities, so the m05 oracle can recompute them arithmetically
    from the generating formula and require exact equality: the bytes
    really were decoded, or nothing matches.

    Scale shape: mapInPandas, no shuffle — each Arrow batch holds few
    rows of large cells (see module docstring); per-asset work is a
    vectorized O(n_samples) numpy pass.
    """
    import numpy as np

    if window <= 0:
        raise ValueError("window must be positive")

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                b = bytes(row.data) if row.data is not None else b""
                # top-level RIFF chunk WALK, not a byte search (review
                # r9: b.find(b'data') matched the ASCII word 'data'
                # inside a LIST/INFO comment — or inside any non-WAV
                # blob — and decoded metadata bytes as samples)
                pos = -1
                if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
                    i = 12
                    while i + 8 <= len(b):
                        cid = b[i:i + 4]
                        (sz,) = struct.unpack("<I", b[i + 4:i + 8])
                        if cid == b"data":
                            pos = i
                            break
                        i += 8 + sz + (sz & 1)
                if pos < 0 or pos + 8 > len(b):
                    raise ValueError(
                        f"asset {row.asset_id}: no RIFF 'data' chunk — "
                        "not a canonical WAV (silent zeros would fake a "
                        "decode that never happened)"
                    )
                (size,) = struct.unpack_from("<I", b, pos + 4)
                size = min(size, len(b) - pos - 8)
                pcm = np.frombuffer(
                    b, dtype="<i2", count=size // 2, offset=pos + 8
                ).astype(np.int64)
                n = int(pcm.size)
                sq = pcm * pcm
                nw = n // window
                mw = (
                    int(sq[: nw * window].reshape(nw, window).sum(axis=1).max())
                    if nw
                    else 0
                )
                out.append(
                    {
                        "asset_id": row.asset_id,
                        "n_samples": n,
                        "sum_sq": int(sq.sum()),
                        "peak": int(np.abs(pcm).max()) if n else 0,
                        "max_window_sumsq": mw,
                    }
                )
            yield pd.DataFrame(out)

    return df.mapInPandas(
        op,
        schema=(
            "asset_id long, n_samples long, sum_sq long, peak int, "
            "max_window_sumsq long"
        ),
    )


# ---------------------------------------------------------------------------
# Real PIXEL decoding for PNG — pure stdlib (zlib is the only codec PNG
# needs), so the "pixel decode is an environment seam" caveat no longer
# applies to PNG: IDAT inflate + per-scanline unfilter (filters 0-4 per
# the PNG spec) with no PIL/ffmpeg. JPEG/video stay env-gated
# (decode_features(decode_stub='error')) — their codecs genuinely need
# native libraries. Supports the non-interlaced 8-bit color types
# (gray 0, RGB 2, gray+alpha 4, RGBA 6); anything else raises.
# ---------------------------------------------------------------------------
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def decode_png_pixels(data: bytes) -> tuple[int, int, int, bytes]:
    """Decode a PNG to raw pixel bytes: (width, height, channels,
    row-major samples). Critical chunks only; CRCs are not re-verified
    (torn files surface as zlib/struct errors, which is the contract
    crash-recovery expects)."""
    import zlib

    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos = 8
    width = height = None
    channels = 0
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos:pos + 4])
        ctype = data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + length]
        if ctype == b"IHDR":
            width, height, depth, color, _comp, _filt, interlace = (
                struct.unpack(">IIBBBBB", body)
            )
            if depth != 8:
                raise ValueError(f"unsupported bit depth {depth}")
            if interlace:
                raise ValueError("interlaced PNG unsupported")
            if color not in _PNG_CHANNELS:
                raise ValueError(f"unsupported color type {color}")
            channels = _PNG_CHANNELS[color]
            # hostile-header guard: dims come from untrusted bytes, and
            # zlib amplifies ~1000x — cap BEFORE any allocation so a
            # poison asset costs one err row, not an executor OOM
            if width * height > 100_000_000:
                raise ValueError(f"implausible PNG dims {width}x{height}")
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if width is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    if width <= 0 or height <= 0:
        # zero/negative dims are never a real image — and expected=0
        # would turn the bounded inflate below UNBOUNDED (zlib treats
        # max_length=0 as 'no limit'), re-opening the bomb window the
        # bound exists to close (review r9)
        raise ValueError("non-positive dimensions")
    stride = width * channels
    expected = (stride + 1) * height
    # bounded inflate: never emit more than the header-implied size, so
    # a decompression bomb can't allocate past the (already capped) dims
    dec = zlib.decompressobj()
    raw = dec.decompress(bytes(idat), expected)
    # three failure shapes: bomb (unconsumed_tail non-empty after the
    # bounded emit), short stream, and TRUNCATED stream that happens to
    # emit exactly `expected` bytes (eof never reached — the old
    # one-shot zlib.decompress raised on this; keep that contract)
    if len(raw) != expected or dec.unconsumed_tail or not dec.eof:
        raise ValueError("decompressed size mismatch")
    out = bytearray(stride * height)
    prev = bytearray(stride)
    bpp = channels
    for y in range(height):
        f = raw[y * (stride + 1)]
        line = bytearray(raw[y * (stride + 1) + 1:(y + 1) * (stride + 1)])
        if f == 1:      # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif f == 2:    # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif f == 3:    # Average
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif f == 4:    # Paeth
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        elif f != 0:
            raise ValueError(f"bad filter {f}")
        out[y * stride:(y + 1) * stride] = line
        prev = line
    return width, height, channels, bytes(out)


def png_pixel_stats(df: DataFrame) -> DataFrame:
    """Per-asset PIXEL statistics for PNG / BMP / GIF / baseline-JPEG
    assets (``decode_image_pixels`` dispatches on magic bytes) via ``mapInPandas``
    (Arrow batches; numpy does the per-image reduction): width, height,
    channels, per-channel mean in milli-units (exact integer
    floor(1000·sum/n) — no float in the output), and the pixel-bytes
    md5 (the content-addressed identity RESIZED/transcoded copies
    share, which the container-bytes md5 does not). Non-PNG or
    unsupported assets yield null stats with an ``err`` tag instead of
    failing the batch — at 100 TB a poison asset must cost one row,
    not a stage retry loop."""
    import numpy as np

    schema = (
        "asset_id bigint, width int, height int, channels int, "
        "mean_milli array<bigint>, pixel_md5 string, err string"
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for row in pdf.itertuples(index=False):
                data = bytes(row.data) if row.data is not None else b""
                rec = {"asset_id": row.asset_id, "width": None,
                       "height": None, "channels": None,
                       "mean_milli": None, "pixel_md5": None, "err": None}
                try:
                    w, h, ch, px = decode_image_pixels(data)
                    arr = np.frombuffer(px, dtype=np.uint8).reshape(-1, ch)
                    sums = arr.sum(axis=0, dtype=np.int64)
                    n = arr.shape[0]
                    rec.update(
                        width=w, height=h, channels=ch,
                        mean_milli=[int(s) * 1000 // n for s in sums],
                        pixel_md5=hashlib.md5(px).hexdigest(),
                    )
                except Exception as exc:  # noqa: BLE001 — per-asset isolation
                    rec["err"] = f"{type(exc).__name__}: {exc}"[:120]
                rows.append(rec)
            yield pd.DataFrame(rows)

    return df.mapInPandas(op, schema)


def synthesize_png(seed: int, width: int, height: int,
                   channels: int = 3) -> bytes:
    """Deterministic PNG fixture: sample (x, y, c) = (seed·7 + y·5 +
    x·3 + c·11) mod 256, scanlines filtered cycling through ALL five
    PNG filter types — a closed-form image whose statistics an
    arithmetic oracle can compute independently of the decoder (the
    m06 pattern; the pytest round-trips the same generator)."""
    import zlib

    color = {1: 0, 3: 2, 2: 4, 4: 6}[channels]
    stride = width * channels

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    raw = bytearray()
    prev = bytes(stride)
    for y in range(height):
        line = bytes(
            (seed * 7 + y * 5 + (i // channels) * 3 + (i % channels) * 11)
            % 256
            for i in range(stride)
        )
        f = y % 5
        enc = bytearray(line)
        if f == 1:
            for i in range(stride - 1, channels - 1, -1):
                enc[i] = (enc[i] - line[i - channels]) & 0xFF
        elif f == 2:
            for i in range(stride):
                enc[i] = (enc[i] - prev[i]) & 0xFF
        elif f == 3:
            for i in range(stride):
                a = line[i - channels] if i >= channels else 0
                enc[i] = (enc[i] - ((a + prev[i]) >> 1)) & 0xFF
        elif f == 4:
            for i in range(stride):
                a = line[i - channels] if i >= channels else 0
                b = prev[i]
                c = prev[i - channels] if i >= channels else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (
                    b if pb <= pc else c)
                enc[i] = (enc[i] - pred) & 0xFF
        raw += bytes([f]) + bytes(enc)
        prev = line
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def encode_png(width: int, height: int, channels: int,
               pixels: bytes) -> bytes:
    """Minimal PNG encoder (filter 0, stdlib zlib) — the write half of
    the real PNG path; decode_png_pixels round-trips it exactly."""
    import zlib

    color = {1: 0, 3: 2, 2: 4, 4: 6}[channels]
    stride = width * channels

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    raw = bytearray()
    for y in range(height):
        raw += b"\x00" + pixels[y * stride:(y + 1) * stride]
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def resize_png(df: DataFrame, width: int, height: int) -> DataFrame:
    """REAL image resize for PNG assets: decode (pure stdlib) →
    nearest-neighbor resample (one numpy fancy-index, vectorized per
    Arrow batch) → re-encode — ``data`` is REPLACED with the resized
    PNG. Nearest-neighbor is the standard thumbnail/tiling choice
    for training-data pipelines where exact reproducibility matters
    (no resampling-kernel float variance across BLAS builds — the
    output bytes are a pure function of the input). Non-PNG assets
    pass through untouched with an ``err`` tag in meta; a poison asset
    costs one row, never the stage."""
    import numpy as np

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            datas, metas = [], []
            for row in pdf.itertuples(index=False):
                data = bytes(row.data) if row.data is not None else b""
                meta = dict(row.meta or {})
                try:
                    # dispatcher: BMP inputs resize too (output is PNG)
                    w, h, ch, px = decode_image_pixels(data)
                    arr = np.frombuffer(px, dtype=np.uint8).reshape(h, w, ch)
                    ys = (np.arange(height) * h) // height
                    xs = (np.arange(width) * w) // width
                    small = arr[ys][:, xs]
                    data = encode_png(
                        width, height, ch, small.tobytes()
                    )
                    meta["resized_from"] = f"{w}x{h}"
                    meta["resized_to"] = f"{width}x{height}"
                except Exception as exc:  # noqa: BLE001 — per-asset isolation
                    meta["resize_err"] = f"{type(exc).__name__}"[:60]
                datas.append(data)
                metas.append(meta)
            yield pdf.assign(data=datas, meta=metas)

    # schema-preserving: whatever asset columns ride along survive
    return df.mapInPandas(op, schema=df.schema)


def decode_bmp_pixels(data: bytes) -> tuple[int, int, int, bytes]:
    """Decode an uncompressed 24-bit BMP to (width, height, 3, RGB
    row-major top-down bytes) — BMP stores BGR bottom-up with rows
    padded to 4 bytes; this normalizes to the PNG convention so the
    stats/resize operators see one pixel layout. Pure struct slicing
    (BMP needs no codec at all)."""
    if data[:2] != b"BM":
        raise ValueError("not a BMP")
    (offset,) = struct.unpack("<I", data[10:14])
    width, height = struct.unpack("<ii", data[18:26])
    (bpp,) = struct.unpack("<H", data[28:30])
    (compression,) = struct.unpack("<I", data[30:34])
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP (bpp={bpp}, comp={compression})")
    flipped = height > 0
    height = abs(height)
    # hostile-header guard (same cap as PNG/GIF/JPEG): a 54-byte file
    # claiming 30000x30000 must not trigger a ~2.7 GB allocation
    if width <= 0 or width * height > 100_000_000:
        raise ValueError(f"implausible BMP dims {width}x{height}")
    stride = (width * 3 + 3) & ~3
    out = bytearray(width * height * 3)
    for y in range(height):
        src_y = (height - 1 - y) if flipped else y
        row = data[offset + src_y * stride:offset + src_y * stride
                   + width * 3]
        if len(row) < width * 3:
            raise ValueError("truncated BMP pixel data")
        # BGR -> RGB
        o = y * width * 3
        out[o:o + width * 3] = row
        out[o:o + width * 3:3] = row[2::3]
        out[o + 2:o + width * 3:3] = row[0::3]
    return width, height, 3, bytes(out)


def decode_image_pixels(data: bytes) -> tuple[int, int, int, bytes]:
    """Dispatch on magic bytes to the matching pure-Python pixel
    decoder — PNG (zlib inflate + unfilter), uncompressed 24-bit BMP,
    GIF first-frame (pure-Python LZW), or baseline JPEG (huffman +
    numpy IDCT). Only VIDEO remains env-gated (codecs genuinely need
    native libs)."""
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        return decode_png_pixels(data)
    if data[:2] == b"BM":
        return decode_bmp_pixels(data)
    if data[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif_pixels(data)
    if data[:2] == b"\xff\xd8":
        return decode_jpeg_pixels(data)
    raise ValueError("no pure-Python decoder for this format")


def _lzw_decode(data: bytes, min_code_size: int,
                max_out: int | None = None) -> bytes:
    """GIF-variant LZW decode (pure Python): little-endian bit packing,
    clear/end codes, code width growing to 12 bits. Returns the index
    stream.

    ``max_out`` bounds the emitted index count (the caller's w*h):
    LZW amplifies up to ~4096x, so without a cap a kilobyte poison
    stream under plausible dims could allocate gigabytes — the same
    bomb class the PNG bounded inflate closes. Decoding stops as soon
    as enough indices exist; the caller validates the count."""
    clear = 1 << min_code_size
    end = clear + 1
    # bit reader over the concatenated sub-block payload
    bitpos = 0
    nbits = len(data) * 8

    def read_code(width: int) -> int:
        nonlocal bitpos
        if bitpos + width > nbits:
            return end
        byte0 = bitpos // 8
        chunk = int.from_bytes(
            data[byte0:byte0 + 3], "little"
        )
        code = (chunk >> (bitpos % 8)) & ((1 << width) - 1)
        bitpos += width
        return code

    out = bytearray()
    table: list[bytes] = []

    def reset_table():
        nonlocal table, width
        table = [bytes([i]) for i in range(clear)] + [b"", b""]
        width = min_code_size + 1

    width = min_code_size + 1
    reset_table()
    prev: bytes | None = None
    while True:
        code = read_code(width)
        if code == clear:
            reset_table()
            prev = None
            continue
        if code == end:
            break
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]          # the KwKwK case
        else:
            raise ValueError("corrupt LZW stream")
        out += entry
        if max_out is not None and len(out) >= max_out:
            break
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
    return bytes(out)


def decode_gif_pixels(data: bytes) -> tuple[int, int, int, bytes]:
    """Decode the FIRST frame of a GIF (87a/89a) to (width, height, 3,
    RGB bytes) — pure-Python LZW, global or local color table,
    non-interlaced only. Frame dims are the image descriptor's (the
    logical screen is canvas metadata). Extension blocks are skipped;
    animation frame SAMPLING stays in frame_sample_stub (count
    arithmetic) — compositing partial frames with disposal methods is
    out of scope here."""
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    pos = 6
    _sw, _sh, flags, _bg, _ar = struct.unpack("<HHBBB", data[pos:pos + 7])
    pos += 7
    gct = b""
    if flags & 0x80:
        n = 2 << (flags & 7)
        gct = data[pos:pos + 3 * n]
        pos += 3 * n
    while pos < len(data):
        b0 = data[pos]
        if b0 == 0x21:                        # extension: skip sub-blocks
            pos += 2
            while data[pos]:
                pos += 1 + data[pos]
            pos += 1
        elif b0 == 0x2C:                      # image descriptor
            _lx, _ly, w, h, iflags = struct.unpack(
                "<HHHHB", data[pos + 1:pos + 10]
            )
            pos += 10
            if iflags & 0x40:
                raise ValueError("interlaced GIF unsupported")
            pal = gct
            if iflags & 0x80:
                n = 2 << (iflags & 7)
                pal = data[pos:pos + 3 * n]
                pos += 3 * n
            if not pal:
                raise ValueError("missing color table")
            min_code = data[pos]
            pos += 1
            lzw = bytearray()
            while data[pos]:
                ln = data[pos]
                lzw += data[pos + 1:pos + 1 + ln]
                pos += 1 + ln
            pos += 1
            if w * h > 100_000_000:
                raise ValueError(f"implausible GIF dims {w}x{h}")
            idx = _lzw_decode(bytes(lzw), min_code, max_out=w * h)
            if len(idx) < w * h:
                raise ValueError("short GIF index stream")
            # an index past the color-table end would slice a short
            # pal[p:p+3], silently shrinking the pixel buffer — reject
            if w * h and max(idx[:w * h]) >= len(pal) // 3:
                raise ValueError("GIF palette index out of range")
            out = bytearray(w * h * 3)
            for i in range(w * h):
                p = idx[i] * 3
                out[i * 3:i * 3 + 3] = pal[p:p + 3]
            return w, h, 3, bytes(out)
        elif b0 == 0x3B:                      # trailer
            break
        else:
            raise ValueError(f"bad GIF block 0x{b0:02x}")
    raise ValueError("no image data in GIF")


# ---------------------------------------------------------------------------
# Real PIXEL decoding for baseline JPEG — pure Python + numpy (huffman
# entropy decode, dequant, matrix IDCT, chroma upsample, BT.601
# YCbCr->RGB per the public ITU T.81 spec). With this, every image
# format in the corpus (PNG/BMP/GIF/JPEG) decodes for real; only VIDEO
# codecs remain env-gated (they genuinely need native libs).
# ---------------------------------------------------------------------------
_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

#: Annex K luminance DC table (BITS, HUFFVAL) — public T.81 defaults
_JPEG_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_JPEG_DC_VALS = list(range(12))


def _huffman_table(bits: list[int], vals: list[int]) -> dict:
    """Canonical JPEG huffman: {(length, code): symbol}."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _huffman_codes(bits: list[int], vals: list[int]) -> dict:
    """Inverse direction for the encoder: {symbol: (code, length)}."""
    return {
        sym: (code, length)
        for (length, code), sym in _huffman_table(bits, vals).items()
    }


class _JpegBitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00
    unstuffing; restart markers byte-align and are consumed by
    ``restart()``."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.bitbuf = 0
        self.nbits = 0

    def _fill(self) -> None:
        b = self.data[self.pos]
        if b == 0xFF:
            nxt = self.data[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            elif 0xD0 <= nxt <= 0xD7:
                raise _RestartPending()
            else:
                raise ValueError("hit marker inside entropy data")
        else:
            self.pos += 1
        self.bitbuf = (self.bitbuf << 8) | b
        self.nbits += 8

    def read_bits(self, n: int) -> int:
        while self.nbits < n:
            self._fill()
        self.nbits -= n
        out = (self.bitbuf >> self.nbits) & ((1 << n) - 1)
        self.bitbuf &= (1 << self.nbits) - 1
        return out

    def read_symbol(self, table: dict) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bits(1)
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid huffman code")

    def restart(self) -> None:
        """Consume an RSTn marker and byte-align."""
        self.bitbuf = 0
        self.nbits = 0
        if not (self.data[self.pos] == 0xFF
                and 0xD0 <= self.data[self.pos + 1] <= 0xD7):
            raise ValueError("expected restart marker")
        self.pos += 2


class _RestartPending(Exception):
    pass


def _jpeg_extend(value: int, size: int) -> int:
    """T.81 EXTEND: map a SIZE-bit magnitude to its signed value."""
    if size == 0:
        return 0
    return value if value >= (1 << (size - 1)) else value - (1 << size) + 1


def _idct_basis():
    import numpy as np

    u = np.arange(8)
    a = np.cos((2 * u[None, :] + 1) * u[:, None] * np.pi / 16) / 2.0
    a[0, :] *= 1.0 / np.sqrt(2.0)
    return a  # A[u, x]; IDCT2(B) = A.T @ B @ A


def decode_jpeg_pixels(data: bytes) -> tuple[int, int, int, bytes]:
    """Decode a BASELINE (SOF0/SOF1, huffman) JPEG to (width, height,
    channels, row-major samples) — pure Python entropy decode + numpy
    dequant/IDCT. Supports 1- and 3-component images, integer-ratio
    chroma subsampling (4:4:4 / 4:2:2 / 4:2:0), restart intervals, and
    8- or 16-bit quant tables. Progressive (SOF2) and arithmetic coding
    raise — at 100 TB a poison asset costs one tagged row
    (``png_pixel_stats`` catches per asset), never a stage retry loop."""
    import numpy as np

    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    pos = 2
    qt: dict[int, "np.ndarray"] = {}
    huff: dict[tuple[int, int], dict] = {}
    comps: list[dict] = []
    width = height = 0
    restart_interval = 0
    scan_pos = None
    scan_comps: list[dict] = []
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("bad marker alignment")
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack(">H", data[pos + 2:pos + 4])
        body = data[pos + 4:pos + 2 + seglen]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0xF
                i += 1
                n = 64 * (2 if pq else 1)
                raw = body[i:i + n]
                vals = (
                    np.frombuffer(raw, dtype=">u2").astype(np.int32)
                    if pq else
                    np.frombuffer(raw, dtype=np.uint8).astype(np.int32)
                )
                tbl = np.zeros(64, dtype=np.int32)
                tbl[_JPEG_ZIGZAG] = vals
                qt[tq] = tbl.reshape(8, 8)
                i += n
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0xF
                bits = list(body[i + 1:i + 17])
                nval = sum(bits)
                vals = list(body[i + 17:i + 17 + nval])
                huff[(tc, th)] = _huffman_table(bits, vals)
                i += 17 + nval
        elif marker in (0xC0, 0xC1):  # SOF0/SOF1 baseline huffman
            _prec, height, width, ncomp = struct.unpack(">BHHB", body[:6])
            comps = []
            for c in range(ncomp):
                cid, hv, tq = body[6 + 3 * c:9 + 3 * c]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0xF,
                              "tq": tq})
        elif marker == 0xC2:
            raise ValueError("progressive JPEG unsupported")
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS
            ns = body[0]
            scan_comps = []
            for c in range(ns):
                cid, tt = body[1 + 2 * c], body[2 + 2 * c]
                comp = next(k for k in comps if k["id"] == cid)
                scan_comps.append(
                    {**comp, "dc": tt >> 4, "ac": tt & 0xF}
                )
            scan_pos = pos + 2 + seglen
            break
        pos += 2 + seglen
    if scan_pos is None or not comps or not width:
        raise ValueError("missing SOF/SOS")
    if len(scan_comps) not in (1, 3):
        raise ValueError("only 1- or 3-component scans supported")

    hmax = max(c["h"] for c in scan_comps)
    vmax = max(c["v"] for c in scan_comps)
    mcu_w, mcu_h = 8 * hmax, 8 * vmax
    if width * height > 100_000_000:
        # hostile-header guard: a kilobyte file claiming 65535x65535
        # would otherwise allocate GBs on the executor before any
        # entropy byte is read — at 100 TB a poison asset must cost one
        # tagged row, not an executor OOM
        raise ValueError(f"implausible JPEG dims {width}x{height}")
    mcus_x = (width + mcu_w - 1) // mcu_w
    mcus_y = (height + mcu_h - 1) // mcu_h
    basis = _idct_basis()
    planes = [
        np.zeros((mcus_y * c["v"] * 8, mcus_x * c["h"] * 8),
                 dtype=np.float64)
        for c in scan_comps
    ]
    reader = _JpegBitReader(data, scan_pos)
    pred = [0] * len(scan_comps)
    for m in range(mcus_x * mcus_y):
        if restart_interval and m and m % restart_interval == 0:
            reader.restart()
            pred = [0] * len(scan_comps)
        my, mx = divmod(m, mcus_x)
        for ci, c in enumerate(scan_comps):
            q = qt[c["tq"]]
            for by in range(c["v"]):
                for bx in range(c["h"]):
                    coeffs = np.zeros(64, dtype=np.int32)
                    s = reader.read_symbol(huff[(0, c["dc"])])
                    diff = _jpeg_extend(reader.read_bits(s), s)
                    pred[ci] += diff
                    coeffs[0] = pred[ci]
                    k = 1
                    while k < 64:
                        rs = reader.read_symbol(huff[(1, c["ac"])])
                        r, s = rs >> 4, rs & 0xF
                        if s == 0:
                            if r == 15:  # ZRL
                                k += 16
                                continue
                            break        # EOB
                        k += r
                        if k > 63:
                            raise ValueError("AC index overflow")
                        coeffs[k] = _jpeg_extend(reader.read_bits(s), s)
                        k += 1
                    block = np.zeros(64, dtype=np.int32)
                    block[_JPEG_ZIGZAG] = coeffs
                    block = block.reshape(8, 8) * q
                    px = basis.T @ block.astype(np.float64) @ basis
                    y0 = (my * c["v"] + by) * 8
                    x0 = (mx * c["h"] + bx) * 8
                    planes[ci][y0:y0 + 8, x0:x0 + 8] = px
    out_planes = []
    for ci, c in enumerate(scan_comps):
        p = np.clip(np.round(planes[ci] + 128.0), 0, 255)
        ry, rx = vmax // c["v"], hmax // c["h"]
        if vmax % c["v"] or hmax % c["h"]:
            raise ValueError("non-integer subsampling ratio")
        p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
        out_planes.append(p[:height, :width])
    if len(out_planes) == 1:
        return width, height, 1, out_planes[0].astype(np.uint8).tobytes()
    y, cb, cr = out_planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.clip(np.round(np.stack([r, g, b], axis=-1)), 0, 255)
    return width, height, 3, rgb.astype(np.uint8).tobytes()


class _JpegBitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            self.n -= 8
            byte = (self.acc >> self.n) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # stuffing
            self.acc &= (1 << self.n) - 1

    def byte_align(self) -> None:
        """1-fill to the next byte boundary (T.81 padding rule)."""
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)

    def write_marker(self, byte2: int) -> None:
        """Emit a raw 2-byte marker (no entropy stuffing applies)."""
        self.byte_align()
        self.out += bytes([0xFF, byte2])

    def flush(self) -> bytes:
        self.byte_align()
        return bytes(self.out)


def jpeg_flat_value(seed: int, comp: int, bx: int, by: int) -> int:
    """Closed-form per-block sample value shared by the fixture
    generator, its tests, and the m07 arithmetic oracle."""
    if comp == 0:
        return (seed * 7 + by * 5 + bx * 3) % 256
    if comp == 1:
        return (seed * 11 + bx * 5) % 256
    return (seed * 13 + by * 3) % 256


def synthesize_jpeg(seed: int, width: int, height: int, q0: int = 1,
                    channels: int = 1, subsampling: str = "444",
                    restart_interval: int = 0) -> bytes:
    """Deterministic BASELINE JPEG fixture: every 8x8 block of every
    component is FLAT with value ``jpeg_flat_value(seed, comp, bx,
    by)``, so the encoded stream is DC-only and the decoded block value
    has the closed form clip(round(round(8·(v-128)/q0)·q0/8) + 128) —
    with the default ``q0=1`` exactly v, giving the m07 oracle pure
    arithmetic (the m06 pattern). ``channels=3`` emits an interleaved
    YCbCr scan, 4:4:4 or 4:2:0 (``subsampling='420'``: one flat chroma
    block per 16x16 MCU; dims must then be multiples of 16). Uses the
    public Annex K DC table and a minimal 1-symbol AC table (EOB
    only)."""
    import math

    sub = {"444": (1, 1), "420": (2, 2)}[subsampling]
    hy, vy = sub if channels == 3 else (1, 1)
    mcu = 8 * max(hy, 1)
    if width % mcu or height % mcu:
        raise ValueError(f"fixture dims must be multiples of {mcu}")
    dc_codes = _huffman_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_bits = [1] + [0] * 15
    ac_vals = [0x00]  # EOB
    ac_codes = _huffman_codes(ac_bits, ac_vals)
    qtab = bytes([q0] * 64)

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    ncomp = channels
    sof = struct.pack(">BHHB", 8, height, width, ncomp)
    sos = bytes([ncomp])
    for c in range(ncomp):
        hv = (hy << 4) | vy if c == 0 else 0x11
        sof += bytes([c + 1, hv, 0])
        sos += bytes([c + 1, 0x00])
    head = b"\xff\xd8"
    head += seg(0xDB, bytes([0x00]) + qtab)
    head += seg(0xC0, sof)
    head += seg(0xC4, bytes([0x00]) + bytes(_JPEG_DC_BITS)
                + bytes(_JPEG_DC_VALS))
    head += seg(0xC4, bytes([0x10]) + bytes(ac_bits) + bytes(ac_vals))
    if restart_interval:
        head += seg(0xDD, struct.pack(">H", restart_interval))
    head += seg(0xDA, sos + bytes([0, 63, 0]))

    w = _JpegBitWriter()
    pred = [0] * ncomp

    def put_block(comp: int, bx: int, by: int) -> None:
        v = jpeg_flat_value(seed, comp, bx, by)
        dc = 8 * (v - 128)
        x = dc / q0
        dcq = int(math.floor(x + 0.5)) if x >= 0 else -int(
            math.floor(-x + 0.5)
        )
        diff = dcq - pred[comp]
        pred[comp] = dcq
        size = diff.bit_length() if diff else 0
        code, length = dc_codes[size]
        w.write(code, length)
        if size:
            w.write(diff if diff > 0 else diff + (1 << size) - 1, size)
        code, length = ac_codes[0x00]
        w.write(code, length)  # EOB: all AC zero

    m = 0
    for my in range(height // mcu):
        for mx in range(width // mcu):
            if restart_interval and m and m % restart_interval == 0:
                w.write_marker(0xD0 + (m // restart_interval - 1) % 8)
                pred[:] = [0] * ncomp
            m += 1
            for by in range(vy):
                for bx in range(hy):
                    put_block(0, mx * hy + bx, my * vy + by)
            for comp in range(1, ncomp):
                put_block(comp, mx, my)
    return head + w.flush() + b"\xff\xd9"


# ---------------------------------------------------------------------------
# Real VIDEO frame decoding for MJPEG-AVI — with baseline JPEG decoding
# real (above), Motion-JPEG needs only the RIFF/AVI container walk:
# every 'xxdc'/'xxdb' chunk in the 'movi' list IS a standalone JPEG.
# Inter-frame codecs (H.264 &c.) remain env-gated — those genuinely
# need native decoders.
# ---------------------------------------------------------------------------
def avi_frames(data: bytes) -> list[bytes]:
    """Walk a RIFF-AVI container and return the raw per-frame codec
    payloads (video chunks ``##dc``/``##db`` inside the ``movi`` LIST,
    in stream order). Container-level only — no codec work here."""
    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not an AVI")
    frames: list[bytes] = []

    def walk(pos: int, end: int) -> None:
        while pos + 8 <= end:
            cid = data[pos:pos + 4]
            (sz,) = struct.unpack("<I", data[pos + 4:pos + 8])
            if cid == b"LIST":
                ltype = data[pos + 8:pos + 12]
                if ltype in (b"movi", b"rec "):
                    walk(pos + 12, pos + 8 + sz)
            elif cid[2:4] in (b"dc", b"db"):
                frames.append(data[pos + 8:pos + 8 + sz])
            pos += 8 + sz + (sz & 1)  # chunks are word-aligned

    walk(12, len(data))
    return frames


def mjpeg_frame_stats(df: DataFrame, every_k: int = 1) -> DataFrame:
    """REAL video-frame pixel statistics for MJPEG-AVI assets: container
    walk → every k-th frame → baseline-JPEG pixel decode → one row per
    SAMPLED frame with exact integer channel means (the m06/m07 stats
    shape, plus ``frame_idx``/``n_frames``). Arrow batches hold few
    rows of large cells (module docstring); a poison asset or frame
    yields one err-tagged row, never a stage retry loop."""
    import numpy as np

    schema = (
        "asset_id bigint, frame_idx int, n_frames int, width int, "
        "height int, channels int, mean_milli array<bigint>, err string"
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for row in pdf.itertuples(index=False):
                data = bytes(row.data) if row.data is not None else b""
                base = {"asset_id": row.asset_id, "frame_idx": None,
                        "n_frames": None, "width": None, "height": None,
                        "channels": None, "mean_milli": None, "err": None}
                try:
                    payloads = avi_frames(data)
                except Exception as exc:  # noqa: BLE001 — per-asset isolation
                    rows.append({**base,
                                 "err": f"{type(exc).__name__}: {exc}"[:120]})
                    continue
                n = len(payloads)
                if n == 0:
                    # a valid container with NO video chunks must still
                    # yield its one err-tagged row — zero rows would
                    # silently lose the asset from downstream joins,
                    # violating the per-asset audit contract (review r9)
                    rows.append({**base, "n_frames": 0,
                                 "err": "no video frames in movi list"})
                    continue
                for idx in range(0, n, every_k):
                    rec = {**base, "frame_idx": idx, "n_frames": n}
                    try:
                        w, h, ch, px = decode_image_pixels(payloads[idx])
                        arr = np.frombuffer(px, dtype=np.uint8).reshape(-1, ch)
                        sums = arr.sum(axis=0, dtype=np.int64)
                        rec.update(
                            width=w, height=h, channels=ch,
                            mean_milli=[int(s) * 1000 // arr.shape[0]
                                        for s in sums],
                        )
                    except Exception as exc:  # noqa: BLE001 — per-frame isolation
                        rec["err"] = f"{type(exc).__name__}: {exc}"[:120]
                    rows.append(rec)
            yield pd.DataFrame(rows)

    return df.mapInPandas(op, schema)


def synthesize_mjpeg_avi(seed: int, width: int, height: int,
                         n_frames: int, fps: int = 10) -> bytes:
    """Deterministic MJPEG-AVI fixture: frame f is the DC-only grayscale
    JPEG ``synthesize_jpeg(seed + 31·f, width, height)``, so every
    sampled frame's statistics have the same closed arithmetic form the
    m07 oracle uses (keyed by seed+31·f). Carries a minimal-but-valid
    ``avih`` header (dims, frame count, frame interval)."""
    frames = [
        synthesize_jpeg(seed + 31 * f, width, height)
        for f in range(n_frames)
    ]

    def chunk(cid: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) & 1 else b""
        return cid + struct.pack("<I", len(body)) + body + pad

    avih = struct.pack(
        "<14I", 1_000_000 // fps, 0, 0, 0, n_frames, 0, 1, 0,
        width, height, 0, 0, 0, 0,
    )
    hdrl = chunk(b"LIST", b"hdrl" + chunk(b"avih", avih))
    movi = chunk(
        b"LIST", b"movi" + b"".join(chunk(b"00dc", f) for f in frames)
    )
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def transcode_to_png(df: DataFrame) -> DataFrame:
    """Normalize every decodable image asset to PNG — the canonical
    training-corpus preprocessing step (one lossless container for
    downstream crops/stats regardless of source format). Decode via the
    magic-byte dispatcher (PNG/BMP/GIF/JPEG), re-encode with
    ``encode_png``; ``mime``/``meta`` updated, undecodable assets pass
    through with an ``err`` tag (poison costs one row, never the
    stage)."""
    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            datas, mimes, metas = [], [], []
            for row in pdf.itertuples(index=False):
                data = bytes(row.data) if row.data is not None else b""
                meta = dict(row.meta or {})
                mime = row.mime
                try:
                    w, h, ch, px = decode_image_pixels(data)
                    meta["transcoded_from"] = (
                        parse_media_header(data).get("format") or "unknown"
                    )
                    data = encode_png(w, h, ch, px)
                    mime = "image/png"
                except Exception as exc:  # noqa: BLE001 — per-asset isolation
                    meta["err"] = f"{type(exc).__name__}: {exc}"[:120]
                datas.append(data)
                mimes.append(mime)
                metas.append(meta)
            pdf = pdf.copy()
            pdf["data"], pdf["mime"], pdf["meta"] = datas, mimes, metas
            yield pdf

    return df.mapInPandas(op, df.schema)
