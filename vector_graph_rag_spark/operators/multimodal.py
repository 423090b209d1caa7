"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

Not in the reference (text-only Graph-RAG); required by the north-star
training-data-pipeline brief.  Design:

- an asset is a row: (asset_id, modality, content: binary, meta: struct) —
  binary stays opaque to the JVM; metadata (width/height/duration/codec…)
  is typed columns so filters/pruning work at the scan.
- decode / feature-extract / resize / frame-sample are Arrow-batched
  `mapInPandas` operators.  The actual codec work needs PIL/ffmpeg etc.
  (not in this container): each operator carries a real, tested Spark-side
  contract (schema, batching, partition parallelism) with the codec kernel
  pluggable; the default kernel is a clearly-marked
  NotImplementedError.
- at 100 TB: assets are read via the binaryFile source (or parquet with a
  binary column), partitioned by asset_id hash; every operator below is
  embarrassingly partition-parallel with no shuffle.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ASSET_SCHEMA = (
    "asset_id string, modality string, content binary, "
    "width int, height int, duration_ms int"
)


def decode_assets(assets: DataFrame, kernel=None) -> DataFrame:
    """binary → decoded feature summary via mapInPandas.

    `kernel(modality: str, content: bytes) -> dict` is the pluggable codec;
    default raises NotImplementedError for real modalities (PIL/ffmpeg not
    in this container, per the task brief) — callers inject a kernel,
    e.g. ``stdlib_kernel`` below.
    Output: (asset_id, modality, n_bytes, checksum, feature)."""

    def _default_kernel(modality: str, content: bytes) -> dict:
        raise NotImplementedError(
            f"decode for modality={modality!r} requires codec libraries "
            "(PIL/torchaudio/ffmpeg) not present in this container"
        )

    k = kernel or _default_kernel

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                k(m, bytes(c)) for m, c in zip(pdf["modality"], pdf["content"])
            ]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "modality": pdf["modality"],
                    "n_bytes": [len(bytes(c)) for c in pdf["content"]],
                    "checksum": [
                        hashlib.md5(bytes(c)).hexdigest() for c in pdf["content"]
                    ],
                    "feature": [f.get("feature", 0.0) for f in feats],
                }
            )

    return assets.mapInPandas(
        _decode,
        "asset_id string, modality string, n_bytes long, checksum string, feature double",
    )


def resize_images(assets: DataFrame, max_side: int = 512, kernel=None) -> DataFrame:
    """Resize contract: image rows get target dims (aspect-preserving);
    non-images pass through.  The pixel work is in the pluggable kernel
    (default: metadata-only computation, no pixel decode — which is also
    the correct scale behavior when only dimensions are needed)."""
    scale = F.when(
        (F.col("modality") == "image")
        & (F.greatest("width", "height") > max_side)
        & (F.greatest("width", "height") > 0),
        F.lit(max_side) / F.greatest("width", "height").cast("double"),
    ).otherwise(F.lit(1.0))
    return assets.withColumn("resize_scale", scale).withColumn(
        "target_width", F.floor(F.col("width") * F.col("resize_scale")).cast("int")
    ).withColumn(
        "target_height", F.floor(F.col("height") * F.col("resize_scale")).cast("int")
    )


def sample_frames(assets: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame-sampling contract for video rows: one output row per sampled
    timestamp (pure JVM sequence/explode — the decode of the actual frame
    is the stubbed kernel's job downstream)."""
    video = assets.filter(F.col("modality") == "video")
    return video.select(
        "asset_id",
        F.explode(
            F.sequence(F.lit(0), F.col("duration_ms"), F.lit(every_ms))
        ).alias("frame_ts_ms"),
    )


# --- real stdlib codecs (r13) ------------------------------------------------
#
# "Pending PIL/ffmpeg" overstated the gap: uncompressed BMP (24-bit and
# 8-bit color-table) and PCM WAV are fully decodable with the standard
# library (struct/wave) + numpy, both of which ARE in this container.
# These kernels give the decode pipeline a REAL pixel/sample path —
# magic-byte dispatch, header parsing, vectorized pixel/sample math — so
# the Spark-side contract is exercised end-to-end on genuine binary media,
# not just the deterministic fake.  JPEG/MP4 still route to
# NotImplementedError until PIL/ffmpeg exist (PNG decodes too: zlib
# inflate + the five RFC 2083 scanline filters + palette LUT).

import struct


def encode_bmp(width: int, height: int, pixels) -> bytes:
    """Minimal BITMAPINFOHEADER 24-bit uncompressed BMP writer (fixture
    generator for tests and demos).  `pixels[y][x] = (r, g, b)` with row 0
    at the TOP; BMP stores rows bottom-up with 4-byte padding."""
    row_size = (width * 3 + 3) & ~3
    data = bytearray()
    for y in range(height - 1, -1, -1):
        row = bytearray()
        for x in range(width):
            r, g, b = pixels[y][x]
            row += bytes((b, g, r))  # BMP is BGR
        row += b"\x00" * (row_size - len(row))
        data += row
    header = struct.pack("<2sIHHI", b"BM", 54 + len(data), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(data), 2835, 2835, 0, 0)
    return bytes(header + info + data)


def decode_bmp(content: bytes) -> dict:
    """Parse an uncompressed BMP — 24-bit truecolor (BITMAPINFOHEADER or
    the OS/2 1.x BITMAPCOREHEADER, r16) or 8-bit color-table (palette)
    — header via struct, pixel rows via a vectorized numpy view
    (strided over the 4-byte row padding); 8-bit rows map through the
    BGRX color table as a LUT.  Returns width/height and mean BT.601
    luminance in [0, 1] as the feature."""
    import numpy as np

    if content[:2] != b"BM":
        raise ValueError("not a BMP stream")
    data_offset = struct.unpack_from("<I", content, 10)[0]
    hdr_size = struct.unpack_from("<I", content, 14)[0]
    if hdr_size == 12:  # BITMAPCOREHEADER (OS/2 1.x): 16-bit dims (r16)
        width, height, _planes, bpp = struct.unpack_from("<HHHH", content, 18)
        if bpp != 24:
            raise NotImplementedError(f"OS/2 core BMP bpp={bpp} needs PIL")
        compression = 0  # core bitmaps: no compression field, bottom-up
    elif hdr_size < 40:
        raise NotImplementedError(f"BMP header size {hdr_size} needs PIL")
    else:
        _w, height = struct.unpack_from("<ii", content, 18)
        width = _w
        _planes, bpp, compression = struct.unpack_from("<HHI", content, 26)
    if bpp not in (8, 24) or compression != 0:
        raise NotImplementedError(f"BMP bpp={bpp} compression={compression} needs PIL")
    flipped = height > 0  # positive height = bottom-up storage
    height = abs(height)
    if width <= 0 or height == 0:  # r16 fuzz: zero-area -> NaN feature
        raise ValueError(f"BMP with empty dimensions {width}x{height}")
    if bpp == 8:
        # Color table follows the info header: biClrUsed entries (0 = 256),
        # 4 bytes each, stored B,G,R,reserved.
        clr_used = struct.unpack_from("<I", content, 46)[0] or 256
        table = np.frombuffer(
            content, dtype=np.uint8, count=clr_used * 4, offset=14 + hdr_size
        ).reshape(clr_used, 4)[:, :3]  # BGR LUT
        row_size = (width + 3) & ~3
        raw = np.frombuffer(
            content, dtype=np.uint8, count=row_size * height, offset=data_offset
        )
        idx = raw.reshape(height, row_size)[:, :width]
        if int(idx.max(initial=0)) >= clr_used:
            raise ValueError("BMP color-table index out of range")
        rows = table[idx]  # (h, w, 3) BGR via LUT fancy-indexing
    else:
        row_size = (width * 3 + 3) & ~3
        raw = np.frombuffer(
            content, dtype=np.uint8, count=row_size * height, offset=data_offset
        )
        rows = raw.reshape(height, row_size)[:, : width * 3].reshape(height, width, 3)
    if flipped:
        rows = rows[::-1]
    bgr = rows.astype(np.float64)
    # ITU-R BT.601 luma; BMP channel order is BGR
    luma = 0.114 * bgr[..., 0] + 0.587 * bgr[..., 1] + 0.299 * bgr[..., 2]
    return {
        "width": int(width),
        "height": int(height),
        "pixels": rows,  # top-down BGR uint8 array
        "feature": float(luma.mean() / 255.0),
    }


def encode_bmp8(width: int, height: int, palette, indices) -> bytes:
    """Minimal 8-bit color-table BMP writer (fixture generator): `palette`
    is a list of (r, g, b) (stored BGRX per the format), `indices[y][x]` a
    color-table index with row 0 at the TOP; rows stored bottom-up with
    4-byte padding."""
    n = len(palette)
    if n > 256:
        raise ValueError("BMP 8-bit palette limited to 256 entries")
    table = b"".join(bytes((b, g, r, 0)) for r, g, b in palette)
    row_size = (width + 3) & ~3
    data = bytearray()
    for y in range(height - 1, -1, -1):
        row = bytearray(indices[y][x] for x in range(width))
        row += b"\x00" * (row_size - len(row))
        data += row
    offset = 54 + len(table)
    header = struct.pack("<2sIHHI", b"BM", offset + len(data), 0, 0, offset)
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 8, 0, len(data), 2835, 2835, n, n
    )
    return bytes(header + info + table + data)


def resize_bmp_pixels(pixels, target_w: int, target_h: int):
    """Nearest-neighbor resize of a (h, w, 3) uint8 array — pure numpy
    fancy-indexing, no codec library."""
    import numpy as np

    h, w = pixels.shape[:2]
    ys = np.minimum((np.arange(target_h) * h) // max(target_h, 1), h - 1)
    xs = np.minimum((np.arange(target_w) * w) // max(target_w, 1), w - 1)
    return pixels[ys][:, xs]


def encode_wav(sample_rate: int, samples) -> bytes:
    """Minimal mono 16-bit PCM WAV writer (fixture generator)."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(b"".join(struct.pack("<h", int(s)) for s in samples))
    return buf.getvalue()


def decode_wav(content: bytes) -> dict:
    """Parse a PCM WAV via the stdlib wave module + numpy: channel/rate/
    duration metadata and RMS amplitude in [0, 1] as the feature.
    Sample widths 1 (unsigned 8-bit), 2 (16-bit), 3 (24-bit), and
    4 (32-bit) decode — all the integer PCM layouts WAV files carry
    (r16; previously only 16-bit).  `samples` stays in the width's raw
    integer scale (8-bit re-centered to signed, the PCM convention); the
    RMS feature normalizes by the width's full scale so the same signal
    produces the same feature at any width."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(content), "rb") as w:
        n = w.getnframes()
        rate = w.getframerate()
        width = w.getsampwidth()
        channels = w.getnchannels()
        frames = w.readframes(n)
    if width == 1:  # unsigned 8-bit: re-center around 0
        samples = np.frombuffer(frames, dtype=np.uint8).astype(np.float64) - 128.0
        full = 128.0
    elif width == 2:
        samples = np.frombuffer(frames, dtype="<i2").astype(np.float64)
        full = 32768.0
    elif width == 3:  # 24-bit little-endian: sign-extend via int32 shift
        raw = np.frombuffer(frames, dtype=np.uint8)
        raw = raw[: (len(raw) // 3) * 3].reshape(-1, 3).astype(np.uint32)
        u = raw[:, 0] | (raw[:, 1] << 8) | (raw[:, 2] << 16)
        samples = (u.astype(np.int32) << 8 >> 8).astype(np.float64)
        full = float(1 << 23)
    elif width == 4:
        samples = np.frombuffer(frames, dtype="<i4").astype(np.float64)
        full = float(1 << 31)
    else:
        raise NotImplementedError(f"WAV sample width {width} needs torchaudio")
    rms = float(np.sqrt((samples**2).mean()) / full) if len(samples) else 0.0
    return {
        "sample_rate": int(rate),
        "channels": int(channels),
        "duration_ms": int(n * 1000 / rate) if rate else 0,
        "samples": samples,
        "feature": rms,
    }


def _pil_decode_image(content: bytes) -> dict:
    """PIL-backed image decode — the SIMD fast path (libjpeg/libpng/
    giflib) preferred over the pure-Python walks when Pillow is
    importable.  Raises ImportError when it isn't (the dispatcher falls
    back to the stdlib kernels); any OTHER exception is a data error and
    propagates, exactly like the stdlib paths.

    Feature contract matches the stdlib kernels: mean ITU-R BT.601 luma
    over the RGB pixels in [0, 1]; `pixels` keeps each format's stdlib
    orientation contract (BGR for BMP, RGB otherwise, top-down);
    `n_frames` rides GIF rows.  Bit-identical to the stdlib kernels for
    the lossless formats (BMP/PNG/GIF decode to the same integers); JPEG
    may differ by a few luma ULPs (libjpeg's integer IDCT vs our float64
    reference) — the kernel-priority test pins lossless equality and a
    JPEG tolerance."""
    import io

    import numpy as np
    from PIL import Image  # ImportError here = fall back to stdlib

    with Image.open(io.BytesIO(content)) as img:
        fmt = (img.format or "").upper()
        n_frames = int(getattr(img, "n_frames", 1))
        rgb = np.asarray(img.convert("RGB"), dtype=np.uint8)
    f = rgb.astype(np.float64)
    luma = 0.299 * f[..., 0] + 0.587 * f[..., 1] + 0.114 * f[..., 2]
    out = {
        "width": int(rgb.shape[1]),
        "height": int(rgb.shape[0]),
        "pixels": rgb[..., ::-1] if fmt == "BMP" else rgb,
        "feature": float(luma.mean() / 255.0),
    }
    if fmt == "GIF":
        out["n_frames"] = n_frames
    return out


def stdlib_kernel(modality: str, content: bytes) -> dict:
    """Magic-byte-dispatched REAL decode for stdlib-decodable formats:
    'BM' → 24-bit or 8-bit-palette BMP, '\\x89PNG' → 8-bit grey/RGB/RGBA
    or 1/2/4/8-bit palette PNG (zlib inflate + scanline unfilter + PLTE
    LUT), both with mean-BT.601-luminance features; '\\xff\\xd8\\xff' →
    baseline AND progressive JPEG (full entropy + IDCT decode incl.
    spectral selection / successive approximation / multi-scan
    sequential, operators/jpeg.py; arithmetic-coded/12-bit still
    raise); 'GIF8xa' → GIF first frame (LZW +
    de-interlace); 'RIFF…WAVE' → PCM WAV (RMS-amplitude feature); 'ftyp'
    at offset 4 → MP4/ISO-BMFF metadata (moov box walk: duration/fps/
    dimensions/keyframes, operators/mp4.py — the mdat PIXEL payload still
    needs ffmpeg).  Anything else still needs PIL/ffmpeg and raises.

    Library priority (r14 verdict, Next #3 — mirrors the converter's
    markitdown-first design): image magics route through Pillow when it
    is importable (`_pil_decode_image`, the libjpeg/libpng SIMD path —
    the pure-Python Huffman walk is the right FALLBACK, not the right
    default, at 100 TB image scale) and fall back to the stdlib walks
    otherwise.  MP4 metadata deliberately stays on the stdlib box walk
    even when ffmpeg exists: the walk is exact and in-process, while an
    ffprobe SUBPROCESS per asset is the wrong default inside a 100 TB
    mapInPandas pass — ffmpeg's place is the still-gated mdat pixel
    decode, not the metadata path."""
    is_image = (
        content[:2] == b"BM"
        or content[:8] == b"\x89PNG\r\n\x1a\n"
        or content[:3] == b"\xff\xd8\xff"
        or content[:6] in (b"GIF87a", b"GIF89a")
    )
    if is_image:
        try:
            return _pil_decode_image(content)
        except ImportError:
            pass  # Pillow not in this container: pure-Python walks below
    # Uniform hostile-input contract (r16): corrupt bytes in ANY format
    # raise ValueError — internal struct/index/key/overflow/zlib/wave
    # errors are normalized — while NotImplementedError stays a
    # CAPABILITY gate (and ValueError from the decoders passes through).
    import wave
    import zlib

    try:
        if content[:2] == b"BM":
            return decode_bmp(content)
        if content[:8] == b"\x89PNG\r\n\x1a\n":
            return decode_png(content)
        if content[:3] == b"\xff\xd8\xff":
            from vector_graph_rag_spark.operators.jpeg import decode_jpeg

            return decode_jpeg(content)
        if content[:6] in (b"GIF87a", b"GIF89a"):
            return decode_gif(content)
        if content[:4] == b"RIFF" and content[8:12] == b"WAVE":
            return decode_wav(content)
        if content[4:8] == b"ftyp":
            from vector_graph_rag_spark.operators.mp4 import decode_mp4_meta

            return decode_mp4_meta(content)
    except (ValueError, NotImplementedError):
        raise
    except (
        struct.error,
        IndexError,
        KeyError,
        OverflowError,
        EOFError,
        zlib.error,
        wave.Error,
        RuntimeError,  # CPython's wave raises bare RuntimeError on some corrupt headers
    ) as exc:
        raise ValueError(
            f"corrupt {content[:4]!r} stream: {type(exc).__name__}: {exc}"
        ) from exc
    raise NotImplementedError(
        f"decode for modality={modality!r} with magic {content[:4]!r} requires "
        "codec libraries (PIL/torchaudio/ffmpeg) not present in this container"
    )


def _png_chunk(tag: bytes, payload: bytes) -> bytes:
    import zlib

    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def _png_filter_line(line: bytes, prev: bytes, f: int, bpp: int) -> bytes:
    """Apply (encode-direction) one RFC 2083 scanline filter."""
    out = bytearray()
    for i in range(len(line)):
        a = line[i - bpp] if i >= bpp else 0
        b = prev[i]
        c = prev[i - bpp] if i >= bpp else 0
        if f == 0:
            out.append(line[i])
        elif f == 1:
            out.append((line[i] - a) & 0xFF)
        elif f == 2:
            out.append((line[i] - b) & 0xFF)
        elif f == 3:
            out.append((line[i] - (a + b) // 2) & 0xFF)
        elif f == 4:
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            out.append((line[i] - pred) & 0xFF)
        else:
            raise ValueError(f"filter {f}")
    return bytes(out)


_ADAM7 = (
    (0, 8, 0, 8), (4, 8, 0, 8), (0, 4, 4, 8), (2, 4, 0, 4),
    (0, 2, 2, 4), (1, 2, 0, 2), (0, 1, 1, 2),
)


def encode_png(width: int, height: int, pixels, filters=None, interlace: bool = False) -> bytes:
    """Minimal 8-bit truecolor PNG writer (fixture generator):
    `pixels[y][x] = (r, g, b)`, one IDAT, per-scanline filter byte taken
    from `filters` in emission order (default 0/None) with the filter
    actually APPLIED — so tests can force sub/up/average/paeth rows
    through the decoder.  `interlace=True` emits the seven Adam7
    sub-images (each filtered independently, RFC 2083 §2.8)."""
    import zlib

    bpp = 3
    if interlace:
        passes = []
        for xs, xstep, ys, ystep in _ADAM7:
            rows = [
                [pixels[y][x] for x in range(xs, width, xstep)]
                for y in range(ys, height, ystep)
            ]
            if rows and rows[0]:
                passes.append(rows)
    else:
        passes = [pixels if isinstance(pixels, list) else [list(r) for r in pixels]]
    total_rows = sum(len(p) for p in passes)
    filters = filters or [0] * total_rows
    raw = bytearray()
    fi = 0
    for rows in passes:
        prev = bytes(len(rows[0]) * bpp)
        for row in rows:
            line = bytes(bytearray(ch for px in row for ch in px))
            f = filters[fi % len(filters)]
            fi += 1
            raw += bytes([f]) + _png_filter_line(line, prev, f, bpp)
            prev = line
    ihdr = struct.pack(
        ">IIBBBBB", width, height, 8, 2, 0, 0, 1 if interlace else 0
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def encode_png_palette(
    width: int, height: int, palette, indices, filters=None, depth: int = 8
) -> bytes:
    """Minimal palette (color_type=3) PNG writer (fixture generator):
    `palette` is a list of (r, g, b), `indices[y][x]` a palette index,
    `depth` in {1, 2, 4, 8} bits per index (big-endian bit packing within
    each byte, RFC 2083 §2.3).  Filters are applied on the PACKED bytes
    with bpp=1, matching the decode contract."""
    import zlib

    if depth not in (1, 2, 4, 8):
        raise ValueError(f"palette depth {depth}")
    if len(palette) > (1 << depth):
        raise ValueError("palette larger than depth allows")
    filters = filters or [0] * height
    stride = (width * depth + 7) // 8
    raw = bytearray()
    prev = bytes(stride)
    for y in range(height):
        line_b = bytearray(stride)
        for x in range(width):
            v = indices[y][x]
            if v >= len(palette):
                raise ValueError("index out of palette range")
            bitpos = x * depth
            line_b[bitpos // 8] |= v << (8 - depth - bitpos % 8)
        line = bytes(line_b)
        f = filters[y]
        raw += bytes([f]) + _png_filter_line(line, prev, f, 1)
        prev = line
    ihdr = struct.pack(">IIBBBBB", width, height, depth, 3, 0, 0, 0)
    plte = bytes(bytearray(ch for rgbt in palette for ch in rgbt))
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", plte)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def _unfilter_scanlines(raw: bytes, h: int, stride: int, bpp: int):
    """Undo the five RFC 2083 §6 scanline filters over inflated IDAT data.

    Fast paths (r13-verdict Next #5 — the old per-byte numpy-scalar loop was
    O(stride) Python-interpreter work per filtered row, ~seconds for a 4K
    image): None is a copy, Up is a wrapping uint8 vector add, Sub is an
    exact per-channel-lane mod-256 prefix sum (numpy uint8 cumsum wraps).
    Average/Paeth are inherently sequential in x (each byte depends on the
    in-progress row), so they run as a plain-bytearray scan — Python-int
    arithmetic, no per-byte numpy scalar indexing, ~20× the old loop.
    Exactness vs the reference per-byte loop is pinned by a twin test
    (tests/test_operators.py).  Returns an (h, stride) uint8 array."""
    import numpy as np

    out = np.empty((h, stride), dtype=np.uint8)
    prev = bytes(stride)
    for y in range(h):
        f = raw[y * (stride + 1)]
        line = raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)]
        if f == 0:
            cur = line
        elif f == 1:  # Sub: mod-256 prefix sum per channel lane
            arr = np.frombuffer(line, dtype=np.uint8)
            if stride % bpp:
                raise ValueError("PNG stride not a multiple of bpp")
            cur = np.cumsum(
                arr.reshape(-1, bpp), axis=0, dtype=np.uint8
            ).tobytes()
        elif f == 2:  # Up: wrapping vector add against the previous row
            cur = (
                np.frombuffer(line, dtype=np.uint8)
                + np.frombuffer(prev, dtype=np.uint8)
            ).tobytes()
        elif f == 3:  # Average
            cur_b = bytearray(stride)
            for i in range(bpp):
                cur_b[i] = (line[i] + prev[i] // 2) & 0xFF
            for i in range(bpp, stride):
                cur_b[i] = (line[i] + (cur_b[i - bpp] + prev[i]) // 2) & 0xFF
            cur = bytes(cur_b)
        elif f == 4:  # Paeth (for i<bpp: a=c=0 → predictor is b)
            cur_b = bytearray(stride)
            for i in range(bpp):
                cur_b[i] = (line[i] + prev[i]) & 0xFF
            for i in range(bpp, stride):
                a = cur_b[i - bpp]
                b = prev[i]
                c = prev[i - bpp]
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur_b[i] = (line[i] + pred) & 0xFF
            cur = bytes(cur_b)
        else:
            raise NotImplementedError(f"PNG filter {f}")
        out[y] = np.frombuffer(cur, dtype=np.uint8)
        prev = cur
    return out


def decode_png(content: bytes) -> dict:
    """Parse an 8/16-bit greyscale/grey+alpha/RGB/RGBA or 1/2/4/8-bit
    palette (PLTE)
    PNG, plain or Adam7-interlaced, with the stdlib: walk chunks, inflate
    the concatenated IDATs, undo all five scanline filters (None/Sub/Up/
    Average/Paeth, RFC 2083 §6) per (sub)image, map palette indices
    through the PLTE LUT when color_type=3, scatter Adam7 passes onto the
    full grid, reduce 16-bit samples to their high byte, and return
    pixels and mean BT.601 luminance as the feature."""
    import zlib

    import numpy as np

    if content[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG stream")
    pos, idat, meta, plte = 8, bytearray(), None, None
    while pos + 8 <= len(content):
        (length,) = struct.unpack_from(">I", content, pos)
        tag = content[pos + 4 : pos + 8]
        payload = content[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            w, h, depth, color, comp, filt, interlace = struct.unpack(">IIBBBBB", payload)
            meta = (w, h, depth, color, interlace)
        elif tag == b"PLTE":
            plte = np.frombuffer(payload, dtype=np.uint8).reshape(-1, 3)
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
    if meta is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, color, interlace = meta
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color)
    depth_ok = (
        depth in (1, 2, 4, 8) if color == 3 else depth in (8, 16)
    )
    if channels is None or not depth_ok or interlace not in (0, 1):
        raise NotImplementedError(
            f"PNG depth={depth} color_type={color} interlace={interlace} needs PIL"
        )
    if color == 3 and plte is None:
        raise ValueError("palette PNG missing PLTE chunk")

    def _sub(raw: bytes, off: int, sw: int, sh: int):
        """Unfilter + unpack one (sub)image at raw[off:]; returns the
        (sh, sw, 3) uint8 RGB array and the byte count consumed.
        Filtering operates on packed bytes: bpp is the byte width of one
        pixel, floored at 1 for sub-byte palette depths (RFC 2083 §6.2);
        16-bit samples reduce to their high byte (v >> 8)."""
        bpp = max(1, channels * depth // 8)
        stride = (sw * channels * depth + 7) // 8
        need = (stride + 1) * sh
        if off + need > len(raw):
            raise ValueError("PNG data length mismatch")
        out = _unfilter_scanlines(raw[off : off + need], sh, stride, bpp)
        if color == 3:
            if depth == 8:
                idx = out[:, :sw]
            else:  # unpack 1/2/4-bit indices, big-endian within each byte
                bits = np.unpackbits(out, axis=1)
                weights = 1 << np.arange(depth - 1, -1, -1)
                idx = (
                    bits[:, : (stride * 8 // depth) * depth]
                    .reshape(sh, -1, depth)
                    .dot(weights)[:, :sw]
                    .astype(np.uint8)
                )
            if int(idx.max(initial=0)) >= len(plte):
                raise ValueError("PNG palette index out of range")
            rgb = plte[idx]  # (sh, sw, 3) via LUT fancy-indexing
        else:
            if depth == 16:
                px = out.reshape(sh, sw, channels, 2)[..., 0]  # high byte
            else:
                px = out.reshape(sh, sw, channels)
            if channels == 1:
                rgb = np.repeat(px, 3, axis=2)
            elif channels == 2:  # grey + alpha: luma channel, alpha dropped
                rgb = np.repeat(px[..., :1], 3, axis=2)
            else:
                rgb = px[..., :3]
        return rgb, need

    raw = zlib.decompress(bytes(idat))
    if interlace == 0:
        rgb, used = _sub(raw, 0, w, h)
        if used != len(raw):
            raise ValueError("PNG data length mismatch")
    else:  # Adam7: seven filtered sub-images scattered onto the full grid
        full = np.zeros((h, w, 3), dtype=np.uint8)
        off = 0
        for xs, xstep, ys, ystep in (
            (0, 8, 0, 8), (4, 8, 0, 8), (0, 4, 4, 8), (2, 4, 0, 4),
            (0, 2, 2, 4), (1, 2, 0, 2), (0, 1, 1, 2),
        ):
            pw = (w - xs + xstep - 1) // xstep
            ph = (h - ys + ystep - 1) // ystep
            if pw <= 0 or ph <= 0:
                continue
            sub_rgb, used = _sub(raw, off, pw, ph)
            off += used
            full[ys::ystep, xs::xstep] = sub_rgb
        if off != len(raw):
            raise ValueError("PNG data length mismatch")
        rgb = full
    r = rgb[..., 0].astype(np.float64)
    g = rgb[..., 1].astype(np.float64)
    b = rgb[..., 2].astype(np.float64)
    luma = 0.299 * r + 0.587 * g + 0.114 * b
    return {
        "width": int(w),
        "height": int(h),
        "pixels": rgb,  # top-down RGB uint8
        "feature": float(luma.mean() / 255.0),
    }


# --- GIF (r14): LZW decode, stdlib-only ---------------------------------------


def _lzw_compress(indices, min_code_size: int) -> bytes:
    """Real LZW for the GIF fixture encoder: variable-width codes,
    LSB-first packing, CLEAR emitted when the table fills 12 bits."""
    clear = 1 << min_code_size
    end = clear + 1

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

    table = {(i,): i for i in range(clear)}
    next_code = end + 1
    width = min_code_size + 1
    emit(clear, width)
    seq: tuple = ()
    for px in indices:
        cand = seq + (px,)
        if cand in table:
            seq = cand
            continue
        emit(table[seq], width)
        table[cand] = next_code
        next_code += 1
        if next_code > (1 << width) and width < 12:
            width += 1
        elif next_code >= (1 << 12):
            emit(clear, width)
            table = {(i,): i for i in range(clear)}
            next_code = end + 1
            width = min_code_size + 1
        seq = (px,)
    if seq:
        emit(table[seq], width)
    emit(end, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decompress(data: bytes, min_code_size: int) -> bytearray:
    """GIF LZW decode: LSB-first variable-width codes (GIF89a App. F)."""
    clear = 1 << min_code_size
    end = clear + 1
    pos = 0
    acc = 0
    nbits = 0

    def read(width: int) -> int:
        nonlocal pos, acc, nbits
        while nbits < width:
            if pos >= len(data):
                return end  # truncated stream: treat as end
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        v = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        return v

    out = bytearray()
    table: list[bytes] = []
    width = min_code_size + 1
    prev: bytes | None = None
    while True:
        code = read(width)
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = min_code_size + 1
            prev = None
            continue
        if code == end:
            break
        if not table:
            raise ValueError("GIF LZW data before clear code")
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]
        else:
            raise ValueError("GIF LZW code out of range")
        out += entry
        if prev is not None:
            table.append(prev + entry[:1])
        prev = entry
        if len(table) == (1 << width) and width < 12:
            width += 1
    return out


def encode_gif(width: int, height: int, palette, indices, interlace: bool = False) -> bytes:
    """Minimal single-frame GIF89a writer (fixture generator): global
    color table, one image descriptor, real LZW compression, optional
    interlacing (the 4-pass row order actually applied)."""
    n = len(palette)
    size_field = max(1, (n - 1).bit_length()) - 1 if n > 1 else 0
    table_len = 1 << (size_field + 1)
    if n > 256 or n > table_len and table_len < 256:
        size_field = (n - 1).bit_length() - 1
        table_len = 1 << (size_field + 1)
    gct = bytearray()
    for i in range(table_len):
        r, g, b = palette[i] if i < n else (0, 0, 0)
        gct += bytes((r, g, b))
    rows = list(range(height))
    if interlace:
        rows = (list(range(0, height, 8)) + list(range(4, height, 8))
                + list(range(2, height, 4)) + list(range(1, height, 2)))
    flat = [indices[y][x] for y in rows for x in range(width)]
    min_code = max(2, size_field + 1)
    lzw = _lzw_compress(flat, min_code)
    sub = bytearray()
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        sub += bytes([len(chunk)]) + chunk
    sub += b"\x00"
    header = b"GIF89a" + struct.pack("<HH", width, height) + bytes(
        [0x80 | size_field, 0, 0]
    )
    img = b"\x2c" + struct.pack("<HHHH", 0, 0, width, height) + bytes(
        [0x40 if interlace else 0]
    ) + bytes([min_code]) + bytes(sub)
    return header + bytes(gct) + img + b"\x3b"


def decode_gif(content: bytes) -> dict:
    """Decode a GIF87a/89a: global/local color tables, LZW decompression,
    4-pass de-interlacing; returns the FIRST frame's RGB pixels, mean
    BT.601 luminance as the feature, and n_frames (image-descriptor
    count — animation frames are counted, not composited)."""
    import numpy as np

    if content[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF stream")
    sw, sh = struct.unpack_from("<HH", content, 6)
    packed = content[10]
    pos = 13
    gct = None
    if packed & 0x80:
        glen = 2 << (packed & 0x07)
        gct = np.frombuffer(content, np.uint8, glen * 3, pos).reshape(glen, 3)
        pos += glen * 3
    first = None
    n_frames = 0
    while pos < len(content):
        b0 = content[pos]
        if b0 == 0x3B:  # trailer
            break
        if b0 == 0x21:  # extension: label + sub-blocks
            pos += 2
            while content[pos]:
                pos += content[pos] + 1
            pos += 1
            continue
        if b0 != 0x2C:
            raise ValueError(f"unknown GIF block {b0:#x}")
        left, top, w, h = struct.unpack_from("<HHHH", content, pos + 1)
        ipacked = content[pos + 9]
        pos += 10
        table = gct
        if ipacked & 0x80:
            llen = 2 << (ipacked & 0x07)
            table = np.frombuffer(content, np.uint8, llen * 3, pos).reshape(llen, 3)
            pos += llen * 3
        min_code = content[pos]
        pos += 1
        lzw = bytearray()
        while content[pos]:
            ln = content[pos]
            lzw += content[pos + 1 : pos + 1 + ln]
            pos += ln + 1
        pos += 1
        n_frames += 1
        if first is None:
            if table is None:
                raise ValueError("GIF frame has no color table")
            idx = np.frombuffer(
                bytes(_lzw_decompress(bytes(lzw), min_code)), np.uint8
            )
            if len(idx) < w * h:
                raise ValueError("GIF pixel data truncated")
            idx = idx[: w * h].reshape(h, w)
            if ipacked & 0x40:  # de-interlace: undo the 4-pass row order
                order = (list(range(0, h, 8)) + list(range(4, h, 8))
                         + list(range(2, h, 4)) + list(range(1, h, 2)))
                out = np.empty_like(idx)
                out[order] = idx
                idx = out
            if int(idx.max(initial=0)) >= len(table):
                raise ValueError("GIF index out of color-table range")
            first = table[idx]  # (h, w, 3) RGB via LUT
    if first is None:
        raise ValueError("GIF has no image frame")
    r = first[..., 0].astype(np.float64)
    g = first[..., 1].astype(np.float64)
    b = first[..., 2].astype(np.float64)
    luma = 0.299 * r + 0.587 * g + 0.114 * b
    return {
        "width": int(first.shape[1]),
        "height": int(first.shape[0]),
        "pixels": first,  # top-down RGB uint8 (first frame)
        "n_frames": int(n_frames),
        "feature": float(luma.mean() / 255.0),
    }
